package org.apache.spark.perfbench

import java.io.File
import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType

import graft.{GraftSession, Q, SparkEntry}
import graft.streaming.EventStreams

/** JVM side of the benchmark: one session, one workload, one run.
  *
  * A workload has named queries (`--queries`), stream feed files
  * (`--feed`), or both. Each query's result is first written as parquet
  * for the DuckDB oracle compare (untimed); then `--passes` passes time
  * each query as `q.fn` plus a `noop` write, as `graft.Bench` does,
  * cleaning up between queries. Three stateful stream operators are
  * drained from the feed files, once untimed to check their state and
  * output against analytic bounds and batch twins, then once per timed
  * pass.
  *
  * With `--trace 1` untraced passes (the baseline for the tracing
  * overhead) alternate A-B-B-A with passes that have spans and listeners
  * on; the kernel micro layer runs after that. Everything is written as one JSON
  * document to `--out`; the Python driver turns it into metrics.
  *
  * It lives under `org.apache.spark` only to drain the listener bus
  * before reading listener counts.
  */
object GraftBench {

  /** One timed execution: a query, or a stream operator drained once
    * (then with its micro-batch durations). */
  final case class Item(name: String, pass: Int, seconds: Double,
      ok: Boolean, error: String, batches: Seq[Double] = Nil)

  def main(argv: Array[String]): Unit = {
    val a = Args(argv)
    val names = a.list("queries")
    val byName = SparkEntry.all.map(q => q.name -> q).toMap
    val unknown = names.filterNot(byName.contains)
    if ((names.isEmpty && a.opt("feed").isEmpty) || unknown.nonEmpty) {
      System.err.println("[perfbench] unknown or empty query selection: " +
        (if (names.isEmpty) "<none>" else unknown.mkString(",")))
      sys.exit(3)
    }
    val spark = GraftSession.local(a.int("cores"))
    spark.sparkContext.setLogLevel("ERROR")
    val data = a("data")
    // warm-up as graft.Bench does it: JIT the parquet reader, codegen
    // and shuffle machinery on this run's own tables
    runNoop(spark.read.parquet(s"$data/lineitem.parquet")
      .groupBy("l_returnflag").count())
    val readyMs = System.currentTimeMillis()

    val out = mutable.LinkedHashMap[String, Any](
      "ready_epoch_ms" -> readyMs,
      "jvm_start_epoch_ms" -> ManagementFactory.getRuntimeMXBean.getStartTime)
    val parts = Seq(
      Some(names).filter(_.nonEmpty).map(n => new BatchWorkload(spark, a, n.map(byName))),
      a.opt("feed").map(_ => new StreamWorkload(spark, a))).flatten
    val w = new Workload {
      def pass(p: Int, t: Option[Tracer]): (Seq[Item], Double) = {
        val rs = parts.map(_.pass(p, t))
        (rs.flatMap(_._1), rs.map(_._2).sum)
      }
      def check(): Map[String, Any] = parts.map(_.check()).reduce(_ ++ _)
    }
    val passes = a.int("passes")
    // the correctness pass runs first, untimed: it is also every item's
    // first (cold) execution, so the timed passes measure warm runs
    val c0 = System.nanoTime()
    out ++= w.check()
    out("check_s") = (System.nanoTime() - c0) / 1e9

    // untraced run: the timed passes. Traced run: as many traced passes
    // again, interleaved A-B-B-A with untraced ones so that warming over
    // the run does not read as tracing overhead or as its absence
    val tracer = if (a.int("trace") == 1) Some(new Tracer(spark)) else None
    val order = (0 until passes).flatMap { i =>
      if (tracer.isEmpty) Seq(false) else if (i % 2 == 0) Seq(false, true)
      else Seq(true, false)
    }
    val runs = order.zipWithIndex.map { case (on, p) =>
      if (on) tracer.foreach(_.enable())
      val ((items, sum), host) = hostDelta(w.pass(p, tracer.filter(_ => on)))
      if (on) tracer.foreach(_.disable())
      (on, items, sum, host)
    }
    def of(on: Boolean) = runs.filter(_._1 == on)
    def perPass(on: Boolean, k: String) = of(on).map(_._4(k)).sum / passes
    out("items") = of(false).flatMap(_._2).map(itemJson)
    out("peak_rss_mb") = peakRssMb()
    out("steal_core_s") = perPass(false, "steal_core_s")
    out("gc_s") = perPass(false, "gc_s")
    tracer.foreach { t =>
      val layers = t.finish(passes)
      layers("trace.overhead_s") = median(of(true).map(_._3)) -
        median(of(false).map(_._3))
      layers("host.steal_core_s") = perPass(true, "steal_core_s")
      layers("jvm.gc_s") = perPass(true, "gc_s")
      layers ++= Kernels.run(spark, a.long("seed"))
      out("layers") = layers
      out("traced_items") = of(true).flatMap(_._2).map(itemJson)
      t.writeSpans(a("spans"))
    }
    spark.stop()
    val f = new File(a("out"))
    java.nio.file.Files.writeString(f.toPath, Json(out))
  }

  // ---- shared helpers

  def runNoop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Between-query hygiene, as graft.Bench does it: the SQL cache and
    * every persistent RDD (eager localCheckpoint blocks bypass the
    * CacheManager). Returns the persistent-RDD count left afterwards. */
  def cleanup(spark: SparkSession): Int = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
    spark.sparkContext.getPersistentRDDs.size
  }

  def itemJson(i: Item): Map[String, Any] = Map("name" -> i.name,
    "pass" -> i.pass, "s" -> i.seconds, "ok" -> i.ok, "error" -> i.error,
    "batches" -> i.batches)

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.length % 2 == 1) s(s.length / 2)
      else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
    }

  def stealJiffies(): Long =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().find(_.startsWith("cpu "))
        .map(_.trim.split("\\s+")).filter(_.length > 8)
        .map(_(8).toLong).getOrElse(0L)
      finally src.close()
    } catch { case _: Throwable => 0L }

  def gcMillis(): Long = ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  def peakRssMb(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/self/status")
      try src.getLines().find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
      finally src.close()
    } catch { case _: Throwable => 0.0 }

  /** Steal (core-seconds, USER_HZ = 100) and GC seconds over `body`. */
  def hostDelta[T](body: => T): (T, Map[String, Double]) = {
    val s0 = stealJiffies(); val g0 = gcMillis()
    val r = body
    (r, Map("steal_core_s" -> (stealJiffies() - s0) / 100.0,
      "gc_s" -> (gcMillis() - g0) / 1000.0))
  }

  def errorText(e: Throwable): String =
    (e.getClass.getSimpleName + ": " + String.valueOf(e.getMessage))
      .linesIterator.take(3).mkString(" | ").take(400)

  trait Workload {
    /** One timed pass: its items and their summed time, failed items
      * excluded. */
    def pass(p: Int, tracer: Option[Tracer]): (Seq[Item], Double)
    /** Untimed correctness pass, run before the timed passes; its keys
      * are merged into the output. */
    def check(): Map[String, Any]
  }

  // ---- batch workloads

  final class BatchWorkload(spark: SparkSession, a: Args, qs: Seq[Q])
      extends Workload {
    private val data = a("data")
    private var leaked = 0

    private def build(q: Q): DataFrame = q.fn(spark, data)

    def pass(p: Int, tracer: Option[Tracer]): (Seq[Item], Double) = {
      val items = qs.map { q =>
        val t0 = System.nanoTime()
        val res = try {
          tracer match {
            case None => runNoop(build(q))
            case Some(t) => t.query(q.name) {
              val df = t.span("build")(build(q))
              t.built(df)
              t.span("action")(runNoop(df))
            }
          }
          None
        } catch { case e: Throwable => Some(errorText(e)) }
        val dt = (System.nanoTime() - t0) / 1e9
        leaked = math.max(leaked, cleanup(spark))
        tracer.foreach(_.floorSample())
        Item(q.name, p, dt, res.isEmpty, res.getOrElse(""))
      }
      (items, items.filter(_.ok).map(_.seconds).sum)
    }

    def check(): Map[String, Any] = {
      val dir = a("check-dir")
      val shuffle = new ShuffleCounter(spark)
      val per = qs.map { q =>
        val t0 = System.nanoTime()
        val err = try {
          shuffle.current = q.name
          val df = build(q)
          // collect, not coalesce(1): the query keeps its own parallelism
          spark.createDataFrame(java.util.Arrays.asList(df.collect(): _*),
            df.schema).write.mode("overwrite").parquet(s"$dir/${q.name}")
          ""
        } catch { case e: Throwable => errorText(e) }
        leaked = math.max(leaked, cleanup(spark))
        q.name -> Map("error" -> err,
          "oracle" -> q.oracle.getOrElse(""),
          "check_s" -> (System.nanoTime() - t0) / 1e9)
      }
      spark.sparkContext.listenerBus.waitUntilEmpty()
      spark.sparkContext.removeSparkListener(shuffle)
      Map("queries" -> per.toMap, "shuffle_records" -> shuffle.byQuery.toMap,
        "leak_persistent_rdds" -> leaked)
    }
  }

  /** Per-query shuffle records written, for attribution: deterministic
    * for fixed code and data. */
  final class ShuffleCounter(spark: SparkSession)
      extends org.apache.spark.scheduler.SparkListener {
    @volatile var current = ""
    private val stageOwner = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    val byQuery = mutable.LinkedHashMap[String, Long]()
    spark.sparkContext.addSparkListener(this)
    override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
      e.stageIds.foreach(stageOwner.put(_, current))
    override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
      if (e.taskMetrics != null) synchronized {
        val q = stageOwner.getOrDefault(e.stageId, current)
        byQuery(q) = byQuery.getOrElse(q, 0L) +
          e.taskMetrics.shuffleWriteMetrics.recordsWritten
      }
  }

  // ---- the stream workload

  final class StreamWorkload(spark: SparkSession, a: Args) extends Workload {
    import spark.implicits._
    /** Micro-batch durations and final state rows. */
    private type Drained = (Seq[Double], Long)
    private val data = a("data")
    private val feed = a("feed")
    private val work = a("work")
    private val docFeed = s"$feed/docs"
    private val evFeed = s"$feed/events"
    private val docSchema = spark.read.parquet(docFeed).schema
    private val evSchema = spark.read.parquet(evFeed).schema
    private var runId = 0
    // the latest drain's outputs and final state sizes, per operator
    private val last = mutable.Map[String, Any]()

    private def source(dir: String, schema: org.apache.spark.sql.types.StructType) =
      spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .parquet(dir)

    private def events = source(evFeed, evSchema)
      .withColumn("ts", col("ts").cast(TimestampType))

    /** Drains one operator. */
    private def drain(name: String, ds: org.apache.spark.sql.Dataset[_],
        mode: String)(sink: (DataFrame, Long) => Unit): Drained = {
      runId += 1
      val q = ds.toDF().writeStream.outputMode(mode)
        .option("checkpointLocation", s"$work/ckpt/$runId-$name")
        .foreachBatch((df: DataFrame, id: Long) => sink(df, id))
        .start()
      try q.processAllAvailable() finally q.stop()
      val ps = q.recentProgress.filter(_.numInputRows > 0)
      val state = q.recentProgress.filter(_.stateOperators.nonEmpty)
        .lastOption.map(_.stateOperators.map(_.numRowsTotal).max).getOrElse(-1L)
      (ps.map(_.durationMs.get("triggerExecution").toDouble / 1000).toSeq, state)
    }

    private def span[T](t: Option[Tracer], name: String)(body: => T): T =
      t.fold(body)(_.span(name)(body))

    /** Each operator builds its stream (span `build`) and drains it (span
      * `action`). */
    private def ops(): Seq[(String, Option[Tracer] => Drained)] = Seq(
      "dedupNearStream" -> { t =>
        var kept = 0L; var seen = 0L
        val ds = span(t, "build")(EventStreams.dedupNearStream(
          source(docFeed, docSchema).select(col("doc_id"),
            pmod(xxhash64(substring(col("text"), 1, 64)), lit(1L << 20))
              .as("bucket")).as[EventStreams.Doc]))
        val r = span(t, "action")(drain("dedup", ds, "append") {
          (df, _) =>
            val row = df.agg(count(lit(1)), sum(when(col("kept"), 1L)
              .otherwise(0L))).head()
            seen += row.getLong(0)
            kept += (if (row.isNullAt(1)) 0L else row.getLong(1))
        })
        last("dedup") = (seen, kept, r._2)
        r
      },
      "contextPackStream" -> { t =>
        val fin = mutable.Map[Long, (Long, Long, Long, Long)]()
        val ds = span(t, "build")(EventStreams.contextPackStream(
          events.select("event_id", "ts", "user_id", "event_type", "props")))
        val r = span(t, "action")(drain("pack", ds, "append") { (df, _) =>
          df.collect().foreach { p =>
            fin(p.getAs[Long]("user_id")) = (p.getAs[Long]("n_kept"),
              p.getAs[Long]("tokens_kept"), p.getAs[Long]("first_kept_event"),
              p.getAs[Long]("kept_from_us"))
          }
        })
        last("pack") = (fin.toMap, r._2)
        r
      },
      "quantileDriftStream" -> { t =>
        val fin = mutable.Map[Long, (Long, Long, Long)]()
        val ds = span(t, "build")(
          EventStreams.quantileDriftStream(events.select("ts", "value")))
        val r = span(t, "action")(drain("quant", ds, "update") { (df, _) =>
          df.collect().foreach { q =>
            fin(q.getAs[Long]("wk")) = (q.getAs[Long]("q25"),
              q.getAs[Long]("q50"), q.getAs[Long]("q75"))
          }
        })
        last("quant") = (fin.toMap, r._2)
        r
      })

    def pass(p: Int, tracer: Option[Tracer]): (Seq[Item], Double) = {
      val items = ops().map { case (name, op) =>
        val t0 = System.nanoTime()
        val res = try {
          val (batches, _) = tracer match {
            case None => op(None)
            case Some(t) => t.query(name)(op(tracer))
          }
          Right(batches)
        } catch { case e: Throwable => Left(errorText(e)) }
        val dt = (System.nanoTime() - t0) / 1e9
        cleanup(spark)
        tracer.foreach(_.floorSample())
        res match {
          case Right(bs) => Item(name, p, dt, ok = true, "", bs)
          case Left(err) => Item(name, p, dt, ok = false, err)
        }
      }
      (items, items.filter(_.ok).map(_.seconds).sum)
    }

    /** Drains every operator once and checks it against StreamSoak's
      * analytic state bounds and the batch twins: the last emission per
      * user equals q184, and the final per-week quantiles folded through
      * q256's drift algebra equal q256. */
    def check(): Map[String, Any] = {
      val fails = mutable.ArrayBuffer[String]()
      def expect(what: String, got: Any, want: Any): Unit =
        if (got != want) fails += s"$what: got $got, want $want"
      ops().foreach { case (name, op) =>
        try op(None) catch { case e: Throwable => fails += s"$name: ${errorText(e)}" }
        cleanup(spark)
      }
      val docs = spark.read.parquet(s"$data/documents.parquet")
      val nDocs = docs.count()
      val nBuckets = docs.select(pmod(xxhash64(substring(col("text"), 1, 64)),
        lit(1L << 20))).distinct().count()
      last.get("dedup") match {
        case Some((seen, kept, state)) =>
          expect("dedup decisions", seen, nDocs)
          expect("dedup kept", kept, nBuckets)
          expect("dedup state rows", state, nBuckets)
        case _ => fails += "dedup did not run"
      }
      val ev = graft.Tables.events(spark, data)
      last.get("pack") match {
        case Some((fin: Map[_, _], state)) =>
          val twin = SparkEntry.queries("q184_context_pack")(spark, data)
            .collect().map(r => r.getAs[Long]("user_id") ->
              ((r.getAs[Long]("n_kept"), r.getAs[Long]("tokens_kept"),
                r.getAs[Long]("first_kept_event"), r.getAs[Long]("kept_from_us"))))
            .toMap
          expect("pack users", fin.size, twin.size)
          expect("pack differing users",
            twin.count { case (u, v) => !fin.asInstanceOf[Map[Long, Any]].get(u).contains(v) }, 0)
          expect("pack state rows", state, ev.select("user_id").distinct().count())
        case _ => fails += "contextPack did not run"
      }
      last.get("quant") match {
        case Some((fin0: Map[_, _], state)) =>
          val fin = fin0.asInstanceOf[Map[Long, (Long, Long, Long)]]
          val twin = SparkEntry.queries("q256_value_quantile_drift")(spark, data)
            .collect().map(r => r.getAs[Long]("pct") ->
              ((r.getAs[Long]("max_drift"), r.getAs[Long]("peak_week")))).toMap
          val weeks = fin.keys.toSeq.sorted
          val folded = Seq[(Long, ((Long, Long, Long)) => Long)](
            25L -> (_._1), 50L -> (_._2), 75L -> (_._3)).map { case (p, get) =>
            val ds = weeks.drop(1).zip(weeks.dropRight(1))
              .map { case (wk, pw) => (wk, get(fin(wk)) - get(fin(pw))) }
            val mx = ds.map(d => math.abs(d._2)).max
            p -> ((mx, ds.filter(d => math.abs(d._2) == mx).map(_._1).min))
          }.toMap
          expect("quantile drift vs q256", folded, twin)
          expect("quantile state rows", state, ev
            .select(expr("unix_micros(ts) div 604800000000")).distinct().count())
        case _ => fails += "quantileDrift did not run"
      }
      cleanup(spark)
      Map("stream_failures" -> fails.toSeq)
    }
  }

  // ---- command line

  final case class Args(m: Map[String, String]) {
    def apply(k: String): String =
      m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    def opt(k: String): Option[String] = m.get(k)
    def int(k: String): Int = apply(k).toInt
    def long(k: String): Long = apply(k).toLong
    def list(k: String): Seq[String] =
      m.getOrElse(k, "").split(",").map(_.trim).filter(_.nonEmpty).toSeq
  }
  object Args {
    def apply(argv: Array[String]): Args = Args(argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(
        s"bad argument ${other.mkString(" ")}")
    }.toMap)
  }
}

/** JSON for the run document, through Spark's own Jackson. */
object Json {
  private val mapper = com.fasterxml.jackson.databind.json.JsonMapper.builder()
    .addModule(com.fasterxml.jackson.module.scala.DefaultScalaModule).build()
  def apply(v: Any): String = mapper.writeValueAsString(v)
}
