package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.EventStreams

/** Structured Streaming: windowed aggregation with watermark and stateful
  * sessionization over a MemoryStream (the reference has no streaming at
  * all — SURVEY §2.12; this is north-star surface). */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  test("hourlyCounts: windowed agg with watermark over a stream") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, String, Double)]
    val events = mem.toDF().toDF("ts", "event_type", "value")
    val agg = EventStreams.hourlyCounts(events)

    val query = agg.writeStream
      .format("memory").queryName("hourly_test").outputMode("update").start()
    try {
      def ts(h: Int, m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
      mem.addData((ts(0, 10), "click", 1.0), (ts(0, 20), "click", 2.0),
        (ts(1, 5), "view", 3.0))
      query.processAllAvailable()
      val got = spark.table("hourly_test")
        .orderBy("hour_start", "event_type")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          r.getDouble(3))).toSeq
      assert(got.contains((1704067200L, "click", 2L, 3.0)))
      assert(got.contains((1704070800L, "view", 1L, 3.0)))
    } finally query.stop()
  }

  test("file-stream source: batch query = streaming query on the same data") {
    // drive the real events table as a file stream; the windowed streaming
    // aggregate must agree with the batch twin (q60) on complete input
    val sf = "/root/testdata/sf0.001"
    val batchEvents = Tables.events(spark, sf)
    val expected = batchEvents
      .groupBy(unix_timestamp(date_trunc("hour", col("ts"))).as("hour_start"),
        col("event_type"))
      .agg(count(lit(1)).as("n"))
      .orderBy("hour_start", "event_type")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq

    val dir = freshDir("graft-stream")
    batchEvents.select("ts", "event_type", "value").write
      .mode("overwrite").parquet(dir)
    val stream = spark.readStream
      .schema(spark.read.parquet(dir).schema)
      .parquet(dir)
    val agg = EventStreams.hourlyCounts(stream)
    val q = agg.writeStream.format("memory").queryName("file_hourly")
      .outputMode("update").start()
    try {
      q.processAllAvailable()
      val got = spark.table("file_hourly")
        .groupBy("hour_start", "event_type").agg(max("n").as("n"))
        .orderBy("hour_start", "event_type")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
      assert(got == expected)
    } finally q.stop()
  }

  test("streaming near-dup: first doc per LSH bucket kept, later flagged") {
    implicit val sqlCtx = spark.sqlContext
    import EventStreams._
    val mem = MemoryStream[Doc]
    val decisions = EventStreams.dedupNearStream(mem.toDS())
    val q = decisions.writeStream.format("memory").queryName("near_dup")
      .outputMode("append").start()
    try {
      mem.addData(Doc(1, 100), Doc(2, 200), Doc(3, 100))
      q.processAllAvailable()
      mem.addData(Doc(4, 200), Doc(5, 300))   // 4 dups bucket 200 across batches
      q.processAllAvailable()
      val got = spark.table("near_dup").as[DedupDecision].collect()
        .map(d => d.doc_id -> d.kept).toMap
      assert(got == Map(1L -> true, 2L -> true, 3L -> false,
        4L -> false, 5L -> true))
    } finally q.stop()
  }

  test("streaming as-of: queries enrich with latest snapshot, state persists") {
    implicit val sqlCtx = spark.sqlContext
    import EventStreams._
    val mem = MemoryStream[Tick]
    val enriched = EventStreams.asofStream(mem.toDS())
    val q = enriched.writeStream.format("memory").queryName("asof_test")
      .outputMode("append").start()
    try {
      // batch 1: snapshot at t=10 then query at t=20 (same batch: matches);
      // query at t=5 precedes every snapshot -> unmatched
      mem.addData(Tick(1, 10, 0, 100.0), Tick(1, 20, 1, 7.0),
        Tick(1, 5, 1, 9.0))
      q.processAllAvailable()
      // batch 2: query only — the t=10 snapshot must persist in state;
      // then a newer snapshot overrides for the following query
      mem.addData(Tick(1, 30, 1, 8.0), Tick(1, 40, 0, 200.0),
        Tick(1, 50, 1, 6.0))
      q.processAllAvailable()
      val got = spark.table("asof_test").as[Enriched].collect()
        .map(e => e.tsSec -> ((e.snapValue, e.matched))).toMap
      assert(got == Map(5L -> ((-1.0, false)), 20L -> ((100.0, true)),
        30L -> ((100.0, true)), 50L -> ((200.0, true))))
    } finally q.stop()
  }

  test("streaming as-of EQUALS batch asofBackward on the events table") {
    // The q89 equivalence gate: the same (snapshot, query) tick set from
    // the real sf0.001 events table, enriched once by the streaming as-of
    // (asofStream) and once by the batch engine (JoinOps.asofBackward).
    // Every per-(user, ts) snapshot value must agree exactly.
    implicit val sqlCtx = spark.sqlContext
    import EventStreams._
    val sf = "/root/testdata/sf0.001"
    // side 0 (snapshots) / 1 (queries) by event parity; (user, ts, side)
    // deduped by max(value) so neither engine faces a tie to break
    val ticks = Tables.events(spark, sf).filter(col("user_id") < 50)
      .groupBy(col("user_id"), unix_timestamp(col("ts")).as("tsSec"),
        (col("event_id") % 2).cast("int").as("side"))
      .agg(max("value").as("value"))
      .as[Tick].collect().toSeq
    val queries = ticks.filter(_.side == 1)
    assert(queries.nonEmpty && ticks.exists(_.side == 0))

    // stream: everything in ONE batch — within a batch asofStream orders
    // by (ts, side), matching the batch join's >= bound
    val mem = MemoryStream[Tick]
    val q = EventStreams.asofStream(mem.toDS()).writeStream
      .format("memory").queryName("asof_equiv").outputMode("append").start()
    val streamed =
      try {
        mem.addData(ticks)
        q.processAllAvailable()
        spark.table("asof_equiv").as[Enriched].collect()
          .map(e => (e.user_id, e.tsSec) -> ((e.snapValue, e.matched))).toMap
      } finally q.stop()

    // batch: JoinOps.asofBackward (q89's engine) on the same rows
    val left = queries.map(t => (t.user_id, t.tsSec, t.value))
      .toDF("user_id", "tsSec", "value")
    val right = ticks.filter(_.side == 0).map(t => (t.user_id, t.tsSec, t.value))
      .toDF("user_id", "tsSec", "value")
    val batch = graft.functions.JoinOps
      .asofBackward(left, right, "user_id", "tsSec")
      .collect().map { r =>
        val matched = !r.isNullAt(r.fieldIndex("value_r"))
        (r.getLong(0), r.getLong(1)) ->
          ((if (matched) r.getDouble(r.fieldIndex("value_r")) else -1.0, matched))
      }.toMap

    assert(streamed.size == queries.size && batch.size == queries.size)
    assert(streamed == batch)
  }

  test("streaming LSH dedup EQUALS batch min-per-bucket on documents") {
    // The q52/q81 equivalence gate: bucket = the band-0 full-width minhash
    // (the same signature pipeline as q52, q81's dedup key), computed once
    // over the real sf0.001 documents; streamed in ascending-id batches,
    // the keep/flag decisions must equal the batch rule (min doc_id per
    // bucket kept).
    implicit val sqlCtx = spark.sqlContext
    import EventStreams._
    import graft.functions.TextOps
    graft.plans.GraftExtensions.install(spark)
    val sf = "/root/testdata/sf0.001"
    val sig = Tables.documents(spark, sf)
      .select(col("doc_id"),
        explode(TextOps.shingles(TextOps.tokens(col("text")), 3)).as("sh"))
      .select(col("doc_id"),
        call_function("md5_prefix64", col("sh")).as("h"))
      .groupBy("doc_id")
      .agg(min((col("h") * 1000003L + 12345L) % 4294967291L).as("bucket"))
    val docsSeq = sig.select(col("doc_id"), col("bucket")).as[Doc]
      .collect().toSeq.sortBy(_.doc_id)
    assert(docsSeq.nonEmpty)
    val expected = docsSeq.groupBy(_.bucket).flatMap { case (_, ds) =>
      val keeper = ds.map(_.doc_id).min
      ds.map(d => d.doc_id -> (d.doc_id == keeper))
    }

    val mem = MemoryStream[Doc]
    val q = EventStreams.dedupNearStream(mem.toDS()).writeStream
      .format("memory").queryName("lsh_equiv").outputMode("append").start()
    val streamed =
      try {
        // two ascending-id batches: state must carry bucket keepers across
        val (b1, b2) = docsSeq.splitAt(docsSeq.size / 2)
        mem.addData(b1); q.processAllAvailable()
        mem.addData(b2); q.processAllAvailable()
        spark.table("lsh_equiv").as[DedupDecision].collect()
          .map(d => d.doc_id -> d.kept).toMap
      } finally q.stop()

    assert(streamed.size == docsSeq.size)
    assert(streamed == expected)
  }

  test("streaming contamination score EQUALS the batch q109 scores (stream-static join)") {
    implicit val sqlCtx = spark.sqlContext
    import graft.functions.TextOps
    val sf = "/root/testdata/sf0.001"
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    // static probe set: distinct shingles of docs 0-4, as ONE array row
    val probes = docs.filter(col("doc_id") < 5)
      .select(explode(array_distinct(
        TextOps.shingles(TextOps.tokens(col("text")), 3))).as("s"))
      .distinct().agg(collect_set("s").as("probes"))
    // batch scores, same definition as q109
    val expected = graft.streaming.EventStreams
      .contaminationScoreStream(docs, probes)
      .collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getDouble(3))))
      .toMap

    val mem = MemoryStream[(Long, String)]
    val streamDocs = mem.toDF().toDF("doc_id", "text")
    val q = graft.streaming.EventStreams
      .contaminationScoreStream(streamDocs, probes)
      .writeStream.format("memory").queryName("contam").start()
    val streamed =
      try {
        val rows = docs.collect().map(r => (r.getLong(0), r.getString(1))).toSeq
        val (b1, b2) = rows.splitAt(rows.size / 2)
        mem.addData(b1); q.processAllAvailable()
        mem.addData(b2); q.processAllAvailable()
        spark.table("contam").collect()
          .map(r => r.getLong(0) -> ((r.getLong(2), r.getDouble(3)))).toMap
      } finally q.stop()
    assert(streamed.size == expected.size && streamed == expected)
    assert(streamed.values.exists(_._1 > 0), "no contaminated doc in fixture")
  }

  test("streaming PII scrub EQUALS batch redaction; redelivery appends (stateless, no dedup)") {
    implicit val sqlCtx = spark.sqlContext
    val sf = "/root/testdata/sf0.001"
    // same augmented text the batch q120 scrubs (synthetic PII from doc_id)
    val id = col("doc_id")
    val aug = concat(col("text"), lit(" contact user"), id.cast("string"),
      lit("@mail.example.com"),
      when(id % 3 === 0, concat(lit(" cc admin"), id.cast("string"),
        lit("@mail.example.com"))).otherwise(lit("")),
      lit(" call "), (id % 900 + 100).cast("string"), lit("-555-"),
      lpad((id % 10000).cast("string"), 4, "0"),
      lit(" ip 10."), (id % 256).cast("string"), lit(".0."),
      ((id * 7) % 256).cast("string"))
    val docs = Tables.documents(spark, sf).select(col("doc_id"), aug.as("text"))
    val expected = graft.streaming.EventStreams.piiRedactStream(docs)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))).toMap

    val mem = MemoryStream[(Long, String)]
    val streamDocs = mem.toDF().toDF("doc_id", "text")
    val q = graft.streaming.EventStreams.piiRedactStream(streamDocs)
      .writeStream.format("memory").queryName("pii").start()
    val (streamed, rawCount, b1Size, total) =
      try {
        val rows = docs.collect().map(r => (r.getLong(0), r.getString(1))).toSeq
        val (b1, b2) = rows.splitAt(rows.size / 3)
        mem.addData(b1); q.processAllAvailable()
        mem.addData(b2); q.processAllAvailable()
        // REDELIVER the first batch: the scrub is stateless by design, so
        // a replay appends the same rows again (contrast dedupNearStream,
        // where replays must NOT duplicate decisions) — values stay
        // identical, the sink just grows by |b1|
        mem.addData(b1); q.processAllAvailable()
        val raw = spark.table("pii").collect()
        (raw.map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))).toMap,
          raw.length, b1.size, rows.size)
      } finally q.stop()
    assert(rawCount == total + b1Size)
    assert(streamed.size == expected.size && streamed == expected)
    // the scrub actually fires on every document
    assert(streamed.values.forall(v => v._1 >= 1 && v._4.contains("[EMAIL]")))
  }

  test("streaming incremental dedup EQUALS batch q116 on the same corpus split") {
    implicit val sqlCtx = spark.sqlContext
    val sf = "/root/testdata/sf0.001"
    val docs = Tables.documents(spark, sf).select("doc_id", "source", "text")
    // static side: existing corpus (src0) band table, batch-precomputed
    val oldBands = docs.filter(col("source") === "src0")
      .select(col("doc_id").as("old_id"),
        posexplode(EventStreams.minhashBands(col("text")))
          .as(Seq("band", "mh")))
      .select("band", "mh", "old_id")
    // expected: the batch q116 gate query itself
    val expected = SparkEntry.queries("q116_incremental_dedup")(spark, sf)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap

    val mem = MemoryStream[(Long, String)]
    val streamDocs = mem.toDF().toDF("doc_id", "text")
    val q = EventStreams.incrementalDedupStream(streamDocs, oldBands)
      .writeStream.format("memory").queryName("incdedup").start()
    val streamed =
      try {
        val rows = docs.filter(col("source") =!= "src0")
          .collect().map(r => (r.getLong(0), r.getString(2))).toSeq
        val (b1, b2) = rows.splitAt(rows.size / 2)
        mem.addData(b1); q.processAllAvailable()
        mem.addData(b2); q.processAllAvailable()
        // at-least-once redelivery: replaying a whole batch must not emit
        // duplicate or contradictory decision rows (keyed-state guard);
        // assert BEFORE toMap — toMap would silently collapse duplicates
        mem.addData(b2); q.processAllAvailable()
        val out = spark.table("incdedup").collect()
        assert(out.length == out.map(_.getLong(0)).distinct.length,
          "redelivered batch emitted duplicate decisions")
        out.map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      } finally q.stop()
    assert(streamed == expected,
      s"stream=$streamed expected=$expected")
    assert(expected.nonEmpty, "no flagged doc in fixture — gate is vacuous")
  }

  test("sessionize: keyed state splits sessions on gap") {
    implicit val sqlCtx = spark.sqlContext
    import EventStreams._
    val mem = MemoryStream[Ev]
    val sessions = EventStreams.sessionize(mem.toDS(), gapSec = 100.0)

    val query = sessions.writeStream
      .format("memory").queryName("sessions_test").outputMode("append").start()
    try {
      // user 1: two bursts separated by > 100s -> first session closes
      mem.addData(Ev(1, 1, 0.0), Ev(1, 2, 50.0), Ev(1, 3, 500.0))
      query.processAllAvailable()
      mem.addData(Ev(1, 4, 1000.0))  // closes the (500.0) session
      query.processAllAvailable()
      val got = spark.table("sessions_test").as[Session].collect().toSeq
      assert(got.contains(Session(1, 0.0, 50.0, 2)))
      assert(got.contains(Session(1, 500.0, 500.0, 1)))
    } finally query.stop()
  }

  test("sessionWindows (batch): native session_window = lag-window twin") {
    // same expression as the stream, run on the static events table; the
    // reference is the q64 lag-window form with the session_window
    // boundary semantics (new session iff diff >= gap, half-open windows)
    val sf = "/root/testdata/sf0.001"
    val events = Tables.events(spark, sf)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("ts", "event_id")
    val sec = col("ts").cast("double")
    val prev = lag(sec, 1).over(w)
    val expected = events
      .withColumn("new_session",
        when(sec - prev >= 1800 || prev.isNull, 1).otherwise(0))
      .groupBy("user_id")
      .agg(sum("new_session").cast("long").as("n_sessions"),
        count(lit(1)).as("n_events"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    val got = EventStreams.sessionWindows(events, "30 minutes")
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_sessions"), sum("n_events").as("n_events"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    assert(got == expected)
    assert(expected.values.exists(_._1 > 1),
      "no user with >1 session in fixture — gate is vacuous")
  }

  test("sessionWindows (stream): append-mode sessions close via watermark") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, Long)]
    val events = mem.toDF().toDF("ts", "user_id")
    val sessions = EventStreams.sessionWindows(events, "100 seconds")

    val query = sessions.writeStream
      .format("memory").queryName("swin_test").outputMode("append").start()
    try {
      def ts(s: Long) = new java.sql.Timestamp(1704067200000L + s * 1000)
      // user 1: burst of 2 then a lone event 200s later (> gap);
      // user 2: one event
      mem.addData((ts(0), 1L), (ts(50), 1L), (ts(200), 1L), (ts(10), 2L))
      query.processAllAvailable()
      // advance the watermark (1h delay) far past every session end
      mem.addData((ts(8000), 99L))
      query.processAllAvailable()
      val got = spark.table("swin_test")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
        .toSet
      val t0 = 1704067200L
      assert(got == Set((1L, t0, 2L), (1L, t0 + 200, 1L), (2L, t0 + 10, 1L)),
        s"got=$got")
    } finally query.stop()
  }

  test("stream-stream interval join EQUALS the batch join on the events table") {
    // Attribution join equivalence: the same view/purchase split of the
    // real sf0.001 events (sides by event parity), joined once as two
    // MemoryStreams and once as static frames through the SAME
    // attributionJoin expression. Every (purchase, view) pair must agree.
    implicit val sqlCtx = spark.sqlContext
    import EventStreams.AttrEv
    val sf = "/root/testdata/sf0.001"
    val evs = Tables.events(spark, sf).filter(col("user_id") < 40)
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      .as[AttrEv].collect().toSeq
    val (views, purchases) = evs.partition(_.event_id % 2 == 0)
    assert(views.nonEmpty && purchases.nonEmpty)

    val memV = MemoryStream[AttrEv]
    val memP = MemoryStream[AttrEv]
    val q = EventStreams.attributionJoin(memV.toDF(), memP.toDF())
      .writeStream.format("memory").queryName("attr_equiv")
      .outputMode("append").start()
    val streamed =
      try {
        memV.addData(views)
        memP.addData(purchases)
        q.processAllAvailable()
        spark.table("attr_equiv")
          .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
      } finally q.stop()

    val batch = EventStreams.attributionJoin(
        views.toDF(), purchases.toDF())
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(batch.nonEmpty, "fixture produced no attributed pairs")
    assert(streamed == batch,
      s"stream-only=${streamed -- batch} batch-only=${batch -- streamed}")
  }

  test("funnelStream: stage reaches equal the q135 batch funnel on real events") {
    implicit val sqlCtx = spark.sqlContext
    import EventStreams._
    val sf = "/root/testdata/sf0.001"
    // expected: the batch funnel's (stage, n_users, avg_lag_s) rows
    val expected = SparkEntry.all.find(_.name == "q135_funnel").get
      .fn(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3))).toSeq

    val evs = Tables.events(spark, sf)
      .selectExpr("user_id", "event_id", "event_type",
        "unix_micros(ts) AS us")
      .as[FunnelEv].collect().sortBy(e => (e.us, e.event_id))
    val mem = MemoryStream[FunnelEv]
    val q = EventStreams.funnelStream(mem.toDS()).writeStream
      .format("memory").queryName("funnel_stream").outputMode("append").start()
    try {
      // two ts-ordered batches: state must carry stage progress across the
      // batch boundary
      val (b1, b2) = evs.splitAt(evs.length / 2)
      mem.addData(b1.toIndexedSeq); q.processAllAvailable()
      mem.addData(b2.toIndexedSeq); q.processAllAvailable()
      val got = spark.table("funnel_stream").as[StageReach].collect()
        .groupBy(_.stage).toSeq
        .map { case (st, rs) =>
          val n = rs.length.toLong
          (st.toLong, n, rs.map(_.lag_s).sum / n) }
        .sortBy(_._1)
      assert(got == expected, s"streamed=$got batch=$expected")
    } finally q.stop()
  }

  test("cdcDedupStream: per-chunk first/dup decisions match batch counts") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    graft.plans.GraftExtensions.install(spark)
    val sf = "/root/testdata/sf0.001"
    val docRows = Tables.documents(spark, sf).select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    // batch expectation: per chash, total count and total length
    val batchCounts = graft.functions.TextOps
      .cdcChunkRows(Tables.documents(spark, sf), "doc_id", "text")
      .groupBy("chash")
      .agg(count(lit(1)).as("n"), sum("clen").as("mass"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val mem = MemoryStream[(Long, String)]
    val q = EventStreams.cdcDedupStream(mem.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("cdc_stream")
      .outputMode("append").start()
    try {
      val (b1, b2) = docRows.splitAt(docRows.size / 2)
      mem.addData(b1); q.processAllAvailable()
      mem.addData(b2); q.processAllAvailable()
      val out = spark.table("cdc_stream")
        .as[EventStreams.ChunkDecision].collect()
      // every batch-known chunk hash appears with the exact batch count
      val byHash = out.groupBy(_.chash)
      assert(byHash.keySet == batchCounts.keySet)
      byHash.foreach { case (h, rs) =>
        assert(rs.length == batchCounts(h), s"count drift for $h")
        assert(rs.count(_.first_seen) == 1,
          s"chunk $h: ${rs.count(_.first_seen)} first_seen rows")
      }
      // duplicate mass identity: non-first rows = (cnt - 1) per hash
      val dupRows = out.count(!_.first_seen)
      assert(dupRows == batchCounts.values.map(_ - 1).sum)
    } finally q.stop()
  }

  test("cdcDedupStream state survives a checkpointed stop/restart") {
    // fault-tolerance proof: keyed dedup state must come back from the
    // state store after the query is STOPPED and a new query restarts
    // from the same checkpoint — chunks first seen before the restart
    // must be flagged duplicates after it.
    import spark.implicits._
    val base = freshDir("graft-cdc-restart")
    val srcDir = s"$base/src"
    val ckpt = s"$base/ckpt"
    val docsAll = Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text").limit(60).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val (a, b) = docsAll.splitAt(30)
    // phase 2 re-sends ten phase-1 docs under new ids: all their chunks
    // must come back dup
    val replayed = a.take(10).map { case (id, t) => (id + 100000L, t) }
    val collected =
      java.util.Collections.synchronizedList(
        new java.util.ArrayList[EventStreams.ChunkDecision]())
    def runPhase(rows: Seq[(Long, String)], file: String): Unit = {
      spark.createDataset(rows).toDF("doc_id", "text")
        .write.mode("append").parquet(srcDir)
      val stream = spark.readStream
        .schema("doc_id LONG, text STRING").parquet(srcDir)
      val q = EventStreams.cdcDedupStream(stream)
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (df: org.apache.spark.sql.Dataset[EventStreams.ChunkDecision], _: Long) =>
          df.collect().foreach(collected.add)
        }
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    runPhase(a.toSeq, "a")
    val phase1 = collected.size
    assert(phase1 > 0)
    runPhase((b ++ replayed).toSeq, "b")
    import scala.jdk.CollectionConverters._
    val all = collected.asScala.toSeq
    val phase1Hashes = all.take(phase1).map(_.chash).toSet
    val phase2 = all.drop(phase1)
    assert(phase2.nonEmpty)
    // every phase-2 chunk whose hash was seen in phase 1 must NOT be
    // first_seen — only possible if state survived the restart
    val carried = phase2.filter(c => phase1Hashes.contains(c.chash))
    assert(carried.nonEmpty, "fixture produced no cross-phase chunk overlap")
    assert(carried.forall(!_.first_seen),
      s"${carried.count(_.first_seen)} pre-restart chunks re-flagged first_seen")
  }

  /** Appends one parquet file of docs `ids` (bucket = id % 37) to `src`. */
  private def appendDocs(src: String, ids: Range): Unit =
    spark.range(ids.start, ids.end).select($"id".as("doc_id"), ($"id" % 37).as("bucket"))
      .coalesce(1).write.mode("append").parquet(src)

  /** Drains dedupNearStream over `src`, one file per micro-batch, from the
    * checkpoint `ckpt`; the decisions of the batches this run processed. */
  private def drainDedup(src: String, ckpt: String): Map[Long, Boolean] = {
    val got = new java.util.concurrent.ConcurrentHashMap[Long, Boolean]()
    val q = EventStreams.dedupNearStream(spark.readStream.schema("doc_id LONG, bucket LONG")
        .option("maxFilesPerTrigger", 1).parquet(src).as[EventStreams.Doc])
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (df: org.apache.spark.sql.Dataset[EventStreams.DedupDecision], _: Long) =>
        df.collect().foreach(d => got.put(d.doc_id, d.kept))
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    import scala.jdk.CollectionConverters._
    got.asScala.toMap
  }

  test("dedupNearStream: stopped after file 1 and restarted from its checkpoint, " +
    "decides as one uninterrupted drain") {
    val dir = freshDir("graft-dedup-restart")
    appendDocs(s"$dir/src", 0 until 100)
    val before = drainDedup(s"$dir/src", s"$dir/ckpt")
    appendDocs(s"$dir/src", 100 until 200)
    val after = drainDedup(s"$dir/src", s"$dir/ckpt")
    val whole = drainDedup(s"$dir/src", s"$dir/ckpt-whole")
    assert(before.keySet == (0L until 100L).toSet && after.keySet == (100L until 200L).toSet)
    // file 1 holds every bucket: each file-2 doc is a duplicate only
    // through the keepers restored from the checkpointed state
    assert(after.values.forall(!_))
    assert(before ++ after == whole)
    assert(whole == (0L until 200L).map(i => i -> (i < 37)).toMap)
  }

  test("dedupNearStream: a flipped byte in a committed state delta fails the " +
    "restart with a checksum error") {
    val dir = freshDir("graft-dedup-corrupt")
    appendDocs(s"$dir/src", 0 until 100)
    assert(drainDedup(s"$dir/src", s"$dir/ckpt").size == 100)
    import scala.jdk.CollectionConverters._
    val deltas = java.nio.file.Files.list(java.nio.file.Paths.get(s"$dir/ckpt/state/0"))
      .iterator.asScala.map(_.resolve("1.delta")).filter(java.nio.file.Files.exists(_)).toSeq
    assert(deltas.nonEmpty)
    val delta = deltas.maxBy(java.nio.file.Files.size)
    val bytes = java.nio.file.Files.readAllBytes(delta)
    bytes(bytes.length / 2) = (bytes(bytes.length / 2) ^ 0xff).toByte
    java.nio.file.Files.write(delta, bytes)
    appendDocs(s"$dir/src", 100 until 200)
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException](
      drainDedup(s"$dir/src", s"$dir/ckpt"))
    val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => s"${t.getClass.getName}: ${t.getMessage}").mkString("\n")
    assert(chain.toLowerCase.contains("checksum"), chain)
  }

  test("heavyHittersStream: MG survival guarantee holds across batches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val sf = "/root/testdata/sf0.001"
    val words = Tables.documents(spark, sf)
      .select(org.apache.spark.sql.functions.explode(
        org.apache.spark.sql.functions.split(
          org.apache.spark.sql.functions.col("text"), " ")).as("w"))
      .as[String].collect().toSeq
    val exact = words.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val n = words.size.toLong
    val k = 64
    val mem = MemoryStream[String]
    val q = EventStreams.heavyHittersStream(mem.toDS(), k).writeStream
      .format("memory").queryName("hh_stream").outputMode("complete").start()
    try {
      // three batches: the sketch buffer must merge across micro-batches
      val third = words.size / 3
      mem.addData(words.take(third)); q.processAllAvailable()
      mem.addData(words.slice(third, 2 * third)); q.processAllAvailable()
      mem.addData(words.drop(2 * third)); q.processAllAvailable()
      val cands = spark.table("hh_stream").collect().last
        .getSeq[org.apache.spark.sql.Row](0).map(_.getString(0)).toSet
      assert(cands.size <= k)
      val mustSurvive = exact.filter { case (_, c) => c * (k + 1) > n }.keySet
      assert(mustSurvive.nonEmpty, "fixture has no heavy hitter — vacuous")
      assert(mustSurvive.subsetOf(cands),
        s"lost heavy hitters: ${mustSurvive.diff(cands)}")
    } finally q.stop()
  }

  test("topKStep: admits below k, displaces the worst, rejects a loser, " +
    "ignores redelivery, k = 1") {
    // entries (score, id); higher score wins, ties to the smaller id;
    // one entry = one id
    type E = (Long, Long)
    def step(kept: List[E], cand: E, k: Int) =
      EventStreams.topKStep(kept, cand, k)((a: E, b: E) => a._2 == b._2,
        (a: E, b: E) => a._1 > b._1 || (a._1 == b._1 && a._2 < b._2))
    // admit while below k
    assert(step(Nil, (5L, 1L), 2) == ((List((5L, 1L)), true, None)))
    assert(step(List((5L, 1L)), (1L, 2L), 2) ==
      ((List((1L, 2L), (5L, 1L)), true, None)))
    // displace the worst (a tie on score loses to the smaller id)
    assert(step(List((5L, 1L), (3L, 4L)), (3L, 2L), 2) ==
      ((List((3L, 2L), (5L, 1L)), true, Some((3L, 4L)))))
    // a loser is not admitted
    assert(step(List((5L, 1L), (3L, 2L)), (3L, 7L), 2) ==
      ((List((5L, 1L), (3L, 2L)), false, None)))
    // redelivering a kept entry does nothing, below k and at k
    assert(step(List((5L, 1L)), (5L, 1L), 2) ==
      ((List((5L, 1L)), false, None)))
    assert(step(List((5L, 1L), (3L, 2L)), (5L, 1L), 2) ==
      ((List((5L, 1L), (3L, 2L)), false, None)))
    // k = 1: the kept list is the running max
    val arrivals = Seq((3L, 1L), (7L, 2L), (5L, 3L), (7L, 2L), (7L, 0L))
    val (last, log) = arrivals.foldLeft((List.empty[E], List.empty[Any])) {
      case ((kept, out), c) =>
        val (next, admitted, evicted) = step(kept, c, 1)
        (next, out :+ ((admitted, evicted)))
    }
    assert(last == List((7L, 0L)))
    assert(log == List((true, None), (true, Some((3L, 1L))), (false, None),
      (false, None), (true, Some((7L, 2L)))))
    // any arrival order with redelivery ends at the sort-and-take model
    val rng = new scala.util.Random(606)
    for (trial <- 0 until 50) {
      val k = 1 + rng.nextInt(4)
      val entries = (0L until 12L).map(id => (rng.nextInt(5).toLong, id))
      val stream = rng.shuffle(entries ++ entries.take(rng.nextInt(12)))
      val kept = stream.foldLeft(List.empty[E])((kp, c) => step(kp, c, k)._1)
      assert(kept.sortBy(e => (-e._1, e._2)) ==
        entries.sortBy(e => (-e._1, e._2)).take(k), s"trial $trial k=$k")
    }
  }

  test("domainCapStream: final kept set EQUALS the batch top-3 window") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val sf = "/root/testdata/sf0.001"
    // same synthesized domain as q164
    val docRows = Tables.documents(spark, sf)
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.concat(
          org.apache.spark.sql.functions.col("source"),
          org.apache.spark.sql.functions.lit("-"),
          (org.apache.spark.sql.functions.col("doc_id") % 5).cast("string"),
          org.apache.spark.sql.functions.lit(".example.com")).as("domain"),
        org.apache.spark.sql.functions.col("n_chars"))
      .collect()
      .map(r => EventStreams.DomDoc(r.getLong(0), r.getString(1),
        r.getLong(2))).toSeq
    // batch expectation: q164's kept (doc_id) set
    val batchKept = SparkEntry.queries("q164_domain_cap")(spark, sf)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val mem = MemoryStream[EventStreams.DomDoc]
    val q = EventStreams.domainCapStream(mem.toDS(), k = 3).writeStream
      .format("memory").queryName("cap_stream").outputMode("append").start()
    try {
      // adversarial batch split: ascending n_chars, so later batches keep
      // displacing earlier admissions
      val ordered = docRows.sortBy(d => (d.n_chars, d.doc_id))
      val third = ordered.size / 3
      mem.addData(ordered.take(third)); q.processAllAvailable()
      mem.addData(ordered.slice(third, 2 * third)); q.processAllAvailable()
      mem.addData(ordered.drop(2 * third)); q.processAllAvailable()
      // at-least-once REDELIVERY of the final batch: already-admitted
      // docs must not be admitted twice (a duplicate state entry would
      // waste a cap slot and displace a distinct doc)
      mem.addData(ordered.drop(2 * third)); q.processAllAvailable()
      val out = spark.table("cap_stream")
        .as[EventStreams.CapDecision].collect()
      // final kept = admitted docs never later displaced; displacement
      // count identity: every false row pairs an earlier true row
      val lastState = out.groupBy(d => (d.domain, d.doc_id))
        .map { case (_, rs) => rs.last }
      val streamKept = lastState.filter(_.admitted).map(_.doc_id).toSet
      assert(out.count(!_.admitted) ==
        out.count(_.admitted) - streamKept.size)
      assert(streamKept == batchKept,
        s"stream/batch divergence: extra=${streamKept.diff(batchKept)} " +
          s"missing=${batchKept.diff(streamKept)}")
    } finally q.stop()
  }

  test("contributionCapStream: final kept set equals the q211 batch cap " +
    "under adversarial batch order + redelivery; state is one row/user") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val sf = "/root/testdata/sf0.001"
    val rows = Tables.events(spark, sf)
      .select(org.apache.spark.sql.functions.col("event_id"),
        org.apache.spark.sql.functions.col("user_id"),
        org.apache.spark.sql.functions.expr("unix_micros(ts)").as("tsu"),
        org.apache.spark.sql.functions.col("event_type"))
      .collect()
      .map(r => EventStreams.CapEv(r.getLong(0), r.getLong(1),
        r.getLong(2), r.getString(3))).toSeq
    // driver mirror of the batch window: newest 8 per user
    val mirrorKept = rows.groupBy(_.user_id).values.flatMap { g =>
      g.sortBy(e => (-e.ts_us, -e.event_id)).take(8).map(_.event_id)
    }.toSet
    // batch q211 per-type n_post for the aggregate cross-check
    val batchPost = SparkEntry.queries("q211_contribution_cap")(spark, sf)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    val mem = MemoryStream[EventStreams.CapEv]
    val q = EventStreams.contributionCapStream(mem.toDS()).writeStream
      .format("memory").queryName("ccap_stream").outputMode("append")
      .start()
    try {
      // adversarial: OLDEST first, so every later batch displaces
      val ordered = rows.sortBy(e => (e.ts_us, e.event_id))
      val third = ordered.size / 3
      mem.addData(ordered.take(third)); q.processAllAvailable()
      mem.addData(ordered.slice(third, 2 * third)); q.processAllAvailable()
      mem.addData(ordered.drop(2 * third)); q.processAllAvailable()
      // at-least-once redelivery of the newest batch: no double-admit
      mem.addData(ordered.drop(2 * third)); q.processAllAvailable()
      val out = spark.table("ccap_stream")
        .as[EventStreams.CapEvDecision].collect()
      val lastState = out.groupBy(d => (d.user_id, d.event_id))
        .map { case (_, rs) => rs.last }
      val streamKept = lastState.filter(_.kept).map(_.event_id).toSet
      assert(streamKept == mirrorKept,
        s"extra=${streamKept.diff(mirrorKept).take(5)} " +
          s"missing=${mirrorKept.diff(streamKept).take(5)}")
      val keptRows = rows.filter(e => streamKept(e.event_id))
      val byType = keptRows.groupBy(_.event_type).view
        .mapValues(_.size.toLong).toMap
      assert(byType == batchPost)
      // state is key-scale: exactly one state row per distinct user
      val st = q.lastProgress.stateOperators.head.numRowsTotal
      assert(st == rows.map(_.user_id).distinct.size.toLong,
        s"state rows $st")
    } finally q.stop()
  }

  test("dpCapStream: admitted counts per cell equal the q227 batch " +
    "n_capped under split delivery + redelivery; state is cell-scale") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val sf = "/root/testdata/sf0.001"
    val rows = Tables.events(spark, sf)
      .select(org.apache.spark.sql.functions.col("event_id"),
        org.apache.spark.sql.functions.col("user_id"),
        org.apache.spark.sql.functions.expr("unix_micros(ts)").as("tsu"),
        org.apache.spark.sql.functions.col("event_type"))
      .collect()
      .map(r => EventStreams.DpEv(r.getLong(0), r.getLong(1),
        r.getLong(2), r.getString(3))).toSeq
    // batch q227 per-cell n_capped (the sensitivity bound)
    val batchCap = SparkEntry.queries("q227_dp_release")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    val mem = MemoryStream[EventStreams.DpEv]
    val q = EventStreams.dpCapStream(mem.toDS()).writeStream
      .format("memory").queryName("dpcap_stream").outputMode("append")
      .start()
    try {
      val ordered = rows.sortBy(e => (e.ts_us, e.event_id))
      val third = ordered.size / 3
      mem.addData(ordered.take(third)); q.processAllAvailable()
      mem.addData(ordered.slice(third, 2 * third)); q.processAllAvailable()
      mem.addData(ordered.drop(2 * third)); q.processAllAvailable()
      // at-least-once redelivery: no double-admit
      mem.addData(ordered.take(third)); q.processAllAvailable()
      val out = spark.table("dpcap_stream")
        .as[EventStreams.DpAdmit].collect()
      // decisions are unique per event (redelivered admits are silent)
      assert(out.map(_.event_id).distinct.length == out.length)
      val streamCap = out.filter(_.admitted)
        .groupBy(a => (a.event_type, a.dow)).view
        .mapValues(_.size.toLong).toMap
      assert(streamCap == batchCap,
        s"extra=${streamCap.toSet.diff(batchCap.toSet).take(3)} " +
          s"missing=${batchCap.toSet.diff(streamCap.toSet).take(3)}")
      // state is cell-scale: one row per distinct (user, type, dow)
      val cells = rows.map(e =>
        (e.user_id, e.event_type, e.ts_us / 86400000000L % 7))
        .distinct.size.toLong
      val st = q.lastProgress.stateOperators.head.numRowsTotal
      assert(st == cells, s"state rows $st vs cells $cells")
    } finally q.stop()
  }

  test("upsertDiffStream: added/changed classes match the q168 batch diff") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val sf = "/root/testdata/sf0.001"
    val base = Tables.documents(spark, sf).select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    // v1 snapshot, then the v2 upsert batch (q168's synthesized pair)
    val v1 = base.filter(_._1 % 10 != 7).map { case (id, t) => (id, 1L, t) }
    val v2 = base.filter(_._1 % 10 != 5).map { case (id, t) =>
      (id, 2L, if (id % 10 == 3) t + " updated" else t)
    }
    val mem = MemoryStream[(Long, Long, String)]
    val q = EventStreams.upsertDiffStream(
        mem.toDF().toDF("doc_id", "ver", "text")).writeStream
      .format("memory").queryName("upsert_stream")
      .outputMode("append").start()
    try {
      mem.addData(v1); q.processAllAvailable()
      val afterV1 = spark.table("upsert_stream")
        .as[EventStreams.UpsertDecision].collect()
      assert(afterV1.length == v1.size && afterV1.forall(_.status == "added"))
      // adversarial delivery: the v2 batch carries REDELIVERED v1 rows
      // mixed in (at-least-once), then the whole v2 batch replays, then
      // a stray OLD-revision v1 record arrives last — none of it may
      // flip state backwards or duplicate a decision
      mem.addData(v2 ++ v1); q.processAllAvailable()
      mem.addData(v2); q.processAllAvailable()
      mem.addData(v1.take(5)); q.processAllAvailable()
      val out = spark.table("upsert_stream")
        .as[EventStreams.UpsertDecision].collect()
      val later = out.drop(afterV1.length)
      val added = later.filter(_.status == "added").map(_.doc_id).toSet
      val changed = later.filter(_.status == "changed").map(_.doc_id).toSet
      // batch expectation from q168 (removed is stream-invisible)
      val diff = SparkEntry.queries("q168_snapshot_diff")(spark, sf)
        .collect().map(r => r.getLong(0) -> r.getString(1))
      assert(added == diff.filter(_._2 == "added").map(_._1).toSet)
      assert(changed == diff.filter(_._2 == "changed").map(_._1).toSet)
      assert(later.length == added.size + changed.size) // replays absorbed
    } finally q.stop()
  }

  test("upsertDiffStream: crash-replay — checkpointed restart with " +
    "old-revision redelivery stays equivalent to the batch diff") {
    // exactly-once audit for the upsert/CDC path: the query is STOPPED
    // after applying v1, a NEW query restarts from the same checkpoint,
    // and the post-restart feed is adversarial — v2 arrives with the
    // whole v1 batch REDELIVERED alongside it (at-least-once across a
    // restart boundary), then a stray old-revision fragment arrives
    // last. Versions in state must survive the restart: every decision
    // is emitted exactly once and equals the q168 batch diff.
    import spark.implicits._
    val sf = "/root/testdata/sf0.001"
    val dir = freshDir("graft-upsert-restart")
    val srcDir = s"$dir/src"
    val ckpt = s"$dir/ckpt"
    val base = Tables.documents(spark, sf).select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val v1 = base.filter(_._1 % 10 != 7).map { case (id, t) => (id, 1L, t) }
    val v2 = base.filter(_._1 % 10 != 5).map { case (id, t) =>
      (id, 2L, if (id % 10 == 3) t + " updated" else t)
    }
    val collected = java.util.Collections.synchronizedList(
      new java.util.ArrayList[EventStreams.UpsertDecision]())
    var stateRows = -1L
    def runPhase(rows: Seq[(Long, Long, String)]): Unit = {
      spark.createDataset(rows).toDF("doc_id", "ver", "text")
        .write.mode("append").parquet(srcDir)
      val stream = spark.readStream
        .schema("doc_id LONG, ver LONG, text STRING").parquet(srcDir)
      val q = EventStreams.upsertDiffStream(stream)
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch {
          (df: org.apache.spark.sql.Dataset[EventStreams.UpsertDecision],
              _: Long) => df.collect().foreach(collected.add)
        }
        .start()
      try {
        q.processAllAvailable()
        q.recentProgress.filter(_.stateOperators.nonEmpty).lastOption
          .foreach(p => stateRows = p.stateOperators.map(_.numRowsTotal).max)
      } finally q.stop()
    }
    runPhase(v1)
    val phase1 = collected.size
    assert(phase1 == v1.size) // every v1 doc decided exactly once: added
    import scala.jdk.CollectionConverters._
    assert(collected.asScala.forall(_.status == "added"))
    // restart boundary: v2 + redelivered v1 in one post-restart feed
    runPhase(v2 ++ v1)
    // second restart: a stray old-revision fragment — must emit NOTHING
    runPhase(v1.take(5))
    val later = collected.asScala.toSeq.drop(phase1)
    val added = later.filter(_.status == "added").map(_.doc_id).toSet
    val changed = later.filter(_.status == "changed").map(_.doc_id).toSet
    val diff = SparkEntry.queries("q168_snapshot_diff")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getString(1))
    assert(added == diff.filter(_._2 == "added").map(_._1).toSet)
    assert(changed == diff.filter(_._2 == "changed").map(_._1).toSet)
    assert(later.length == added.size + changed.size,
      "a decision was duplicated across the restart boundary")
    // state-size evidence (round-9 verdict item 5): exactly ONE fixed-
    // width (ver, md5) state row per distinct doc ever seen — state is
    // doc-cardinality, independent of redelivery volume (v1 was fed
    // twice and a stray fragment a third time)
    assert(stateRows == base.size.toLong,
      s"state rows $stateRows != distinct docs ${base.size}")
  }

  test("contextPackStream: state stays bounded under a 5000-turn " +
    "single-user flood — one row per user, window capped by the budget") {
    implicit val sqlCtx = spark.sqlContext
    // 5000 one-token turns (toks = len('a'+' '+'') div 4 + 1 = 1), one
    // user, budget 64: the kept window can never exceed 64 entries and
    // per-user state is ONE row however long the history grows
    val turns = (1 to 5000).map(i =>
      (i.toLong, new java.sql.Timestamp(i * 1000L), 9L, "a", ""))
    val mem = MemoryStream[(Long, java.sql.Timestamp, Long, String, String)]
    val got = java.util.Collections.synchronizedList(
      new java.util.ArrayList[EventStreams.PackState]())
    val q = EventStreams.contextPackStream(
        mem.toDF().toDF("event_id", "ts", "user_id", "event_type", "props"),
        budget = 64L)
      .writeStream
      .foreachBatch {
        (df: org.apache.spark.sql.Dataset[EventStreams.PackState],
            _: Long) => df.collect().foreach(got.add)
      }
      .outputMode("append").start()
    var stateRows = -1L
    try {
      turns.grouped(500).foreach { b => mem.addData(b); q.processAllAvailable() }
      q.recentProgress.filter(_.stateOperators.nonEmpty).lastOption
        .foreach(p => stateRows = p.stateOperators.map(_.numRowsTotal).max)
    } finally q.stop()
    import scala.jdk.CollectionConverters._
    assert(stateRows == 1L, s"state rows $stateRows != 1 user")
    val fin = got.asScala.last
    // kept = the newest 64 one-token turns: 4937..5000
    assert(fin.n_kept == 64L && fin.tokens_kept == 64L)
    assert(fin.first_kept_event == 4937L)
    assert(fin.kept_from_us == 4937L * 1000000L)
  }

  test("contextPackStream: final state equals the q184 batch pack under " +
    "shuffled batch boundaries and full at-least-once replay") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val sf = "/root/testdata/sf0.001"
    val evs = Tables.events(spark, sf)
      .select("event_id", "ts", "user_id", "event_type", "props")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2),
        r.getString(3), r.getString(4))).toSeq
    // deterministic shuffle: ts order is destroyed across batches, so the
    // state must handle out-of-order arrivals, not just appends
    val shuffled = evs.sortBy(e => (e._1 * 2654435761L) % 9973)
    val batches = shuffled.grouped((shuffled.size + 3) / 4).toSeq
    val mem = MemoryStream[(Long, java.sql.Timestamp, Long, String, String)]
    val got = java.util.Collections.synchronizedList(
      new java.util.ArrayList[(Long, EventStreams.PackState)]())
    val q = EventStreams.contextPackStream(
        mem.toDF().toDF("event_id", "ts", "user_id", "event_type", "props"))
      .writeStream
      .foreachBatch {
        (df: org.apache.spark.sql.Dataset[EventStreams.PackState],
            bid: Long) => df.collect().foreach(p => got.add((bid, p)))
      }
      .outputMode("append").start()
    try {
      batches.foreach { b => mem.addData(b); q.processAllAvailable() }
      // at-least-once adversary: one mid-stream batch replayed, then the
      // ENTIRE feed replayed — trim-monotonicity says none of it may
      // change any user's pack
      mem.addData(batches(1)); q.processAllAvailable()
      batches.foreach(mem.addData(_)); q.processAllAvailable()
    } finally q.stop()
    import scala.jdk.CollectionConverters._
    val last = got.asScala.groupBy(_._2.user_id)
      .map { case (u, rows) => u -> rows.maxBy(_._1)._2 }
    val expect = SparkEntry.queries("q184_context_pack")(spark, sf)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    assert(last.keySet == expect.keySet)
    last.foreach { case (u, p) =>
      val (nk, tk, fe, kf) = expect(u)
      assert((p.n_kept, p.tokens_kept, p.first_kept_event, p.kept_from_us)
        == ((nk, tk, fe, kf)), s"user $u stream/batch pack divergence")
    }
  }

  test("contextPackStream: trim-then-late-old-turn adversary cannot build " +
    "a non-contiguous window, and replayed trimmed turns stay excluded") {
    // The round-8 hole: X(ts2,toks9) kept; Y(ts3,toks2) trims X (kept sum
    // drops 9 -> 2); A(ts1,toks3) then FIT the current sum and was
    // admitted, yielding {A, Y} — but the batch pack (budget 10) keeps
    // only {Y}: the suffix must stay contiguous past the trimmed X.
    // toks = length(event_type || ' ' || props) div 4 + 1.
    implicit val sqlCtx = spark.sqlContext
    def ev(id: Long, sec: Int, propLen: Int) =
      (id, java.sql.Timestamp.valueOf(f"2024-01-01 00:00:$sec%02d"),
        7L, "a", "p" * propLen)
    val X = ev(2, 2, 30) // len 1+1+30=32 -> toks 9
    val Y = ev(3, 3, 2)  // len 4           -> toks 2
    val A = ev(1, 1, 6)  // len 8           -> toks 3
    val mem = MemoryStream[(Long, java.sql.Timestamp, Long, String, String)]
    val got = java.util.Collections.synchronizedList(
      new java.util.ArrayList[EventStreams.PackState]())
    val q = EventStreams.contextPackStream(
        mem.toDF().toDF("event_id", "ts", "user_id", "event_type", "props"),
        budget = 10L)
      .writeStream
      .foreachBatch {
        (df: org.apache.spark.sql.Dataset[EventStreams.PackState],
            _: Long) => df.collect().foreach(got.add)
      }
      .outputMode("append").start()
    try {
      Seq(Seq(X), Seq(Y), Seq(A), Seq(X) /* replay of trimmed X */)
        .foreach { b => mem.addData(b); q.processAllAvailable() }
    } finally q.stop()
    import scala.jdk.CollectionConverters._
    val fin = got.asScala.last
    assert((fin.n_kept, fin.tokens_kept, fin.first_kept_event) == ((1L, 2L, 3L)),
      s"non-contiguous pack window: $fin")
    // every emission along the way stayed batch-consistent (never {A, Y})
    assert(got.asScala.forall(p => p.first_kept_event != 1L))
  }

  test("cusumStream: the final per-type emission equals the q243 batch " +
    "changepoint on the same events, under 3-slice split delivery") {
    implicit val sqlCtx = spark.sqlContext
    val sf = "/root/testdata/sf0.001"
    val rows = Tables.events(spark, sf)
      .select(col("event_type"), expr("unix_micros(ts)").as("us"))
      .collect()
      .map(r => EventStreams.DayEv(r.getString(0), r.getLong(1))).toSeq
    val batch = graft.queries.EventQueries
      .cusumChangepointCore(Tables.events(spark, sf))
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    val mem = MemoryStream[EventStreams.DayEv]
    val last = new java.util.concurrent.atomic.AtomicReference[
      Map[String, (Long, Long, Long, Long, Long)]](Map.empty)
    val q = EventStreams.cusumStream(mem.toDS()).writeStream
      .outputMode("update")
      .foreachBatch { (df: org.apache.spark.sql.Dataset[
          EventStreams.CusumRow], _: Long) =>
        val m = df.collect().map(r => r.event_type ->
          (r.n_days, r.total, r.t_star, r.direction, r.cusum_ppm)).toMap
        if (m.nonEmpty) last.set(last.get ++ m)
      }
      .start()
    try {
      // deliver in timestamp order so the final trigger's state sees
      // every event exactly once (exactly-once within the query; the
      // producer-side dedup is q65's job upstream)
      val ordered = rows.sortBy(_.ts_us)
      val third = ordered.size / 3
      mem.addData(ordered.take(third)); q.processAllAvailable()
      mem.addData(ordered.slice(third, 2 * third)); q.processAllAvailable()
      mem.addData(ordered.drop(2 * third)); q.processAllAvailable()
      assert(last.get == batch,
        s"stream=${last.get.toSeq.sorted.take(3)} " +
          s"batch=${batch.toSeq.sorted.take(3)}")
    } finally q.stop()
  }

  case class LedgerIn(event_type: String, user_id: Long, value: Double)

  test("deletionLedgerStream: folding the final per-(type,user) ledger " +
    "state through q250's increment algebra equals the batch deletion " +
    "audit exactly, under 3-slice split delivery") {
    implicit val sqlCtx = spark.sqlContext
    val sf = "/root/testdata/sf0.001"
    val rows = Tables.events(spark, sf)
      .select(col("event_type"), col("user_id"), col("value"))
      .collect()
      .map(r => LedgerIn(r.getString(0), r.getLong(1), r.getDouble(2)))
      .toSeq
    // batch truth: (n_kept, cents_kept, users_kept, n_forgotten) per
    // type; the three *_diff audit columns are identically zero
    val batch = graft.queries.EventQueries
      .deletionAuditCore(Tables.events(spark, sf))
      .collect()
      .map { r =>
        assert((r.getLong(4), r.getLong(5), r.getLong(6)) ==
          ((0L, 0L, 0L)), s"batch audit nonzero diff: $r")
        r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(7))
      }.toMap
    val mem = MemoryStream[LedgerIn]
    // upsert accumulation: latest emission per (type, user) wins
    val state = new java.util.concurrent.atomic.AtomicReference[
      Map[(String, Long), (Long, Long, Boolean)]](Map.empty)
    val q = EventStreams.deletionLedgerStream(mem.toDF()).writeStream
      .outputMode("update")
      .foreachBatch { (df: org.apache.spark.sql.Dataset[
          EventStreams.LedgerRow], _: Long) =>
        val m = df.collect().map(r => (r.event_type, r.user_id) ->
          (r.n, r.cents, r.forget)).toMap
        if (m.nonEmpty) state.set(state.get ++ m)
      }
      .start()
    try {
      val third = rows.size / 3
      mem.addData(rows.take(third)); q.processAllAvailable()
      mem.addData(rows.slice(third, 2 * third)); q.processAllAvailable()
      mem.addData(rows.drop(2 * third)); q.processAllAvailable()
      val fin = state.get
      val streamed = fin.groupBy(_._1._1).map { case (typ, kv) =>
        val kept = kv.values.filter(!_._3)
        val dropped = kv.values.filter(_._3)
        typ -> (kept.map(_._1).sum, kept.map(_._2).sum,
          kept.size.toLong, dropped.map(_._1).sum)
      }
      assert(streamed == batch,
        s"stream=${streamed.toSeq.sorted.take(3)} " +
          s"batch=${batch.toSeq.sorted.take(3)}")
    } finally q.stop()
  }

  case class QuantIn(ts: java.sql.Timestamp, value: Double)

  test("quantileDriftStream: folding the final per-week quantile " +
    "emissions through q256's drift algebra equals the batch " +
    "value-quantile drift exactly, under 3-slice split delivery") {
    implicit val sqlCtx = spark.sqlContext
    val sf = "/root/testdata/sf0.001"
    val rows = Tables.events(spark, sf)
      .select(col("ts"), col("value"))
      .collect()
      .map(r => QuantIn(r.getTimestamp(0), r.getDouble(1))).toSeq
    val batch = graft.queries.EventQueries
      .quantileDriftCore(Tables.events(spark, sf))
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val mem = MemoryStream[QuantIn]
    // upsert accumulation: latest emission per week wins
    val state = new java.util.concurrent.atomic.AtomicReference[
      Map[Long, (Long, Long, Long)]](Map.empty)
    val q = EventStreams.quantileDriftStream(mem.toDF()).writeStream
      .outputMode("update")
      .foreachBatch { (df: org.apache.spark.sql.Dataset[
          EventStreams.QuantRow], _: Long) =>
        val m = df.collect().map(r => r.wk -> (r.q25, r.q50, r.q75)).toMap
        if (m.nonEmpty) state.set(state.get ++ m)
      }
      .start()
    try {
      val third = rows.size / 3
      mem.addData(rows.take(third)); q.processAllAvailable()
      mem.addData(rows.slice(third, 2 * third)); q.processAllAvailable()
      mem.addData(rows.drop(2 * third)); q.processAllAvailable()
      // the drift step is cross-week and lives DOWNSTREAM of the keyed
      // stream (q243 per-key rule): fold the final per-week quantiles
      // through q256's lag/max/argmax algebra verbatim
      val fin = state.get
      val weeks = fin.keys.toSeq.sorted
      val streamed = Seq[(Long, Long => Long)](
        (25L, w => fin(w)._1), (50L, w => fin(w)._2),
        (75L, w => fin(w)._3)).map { case (p, get) =>
        val ds = weeks.drop(1).zip(weeks.dropRight(1)).map {
          case (w, pw) => (w, get(w) - get(pw))
        }
        val mx = ds.map(d => math.abs(d._2)).max
        val peak = ds.filter(d => math.abs(d._2) == mx).map(_._1).min
        p -> ((mx, peak))
      }.toMap
      assert(streamed == batch, s"stream=$streamed batch=$batch")
    } finally q.stop()
  }
}
