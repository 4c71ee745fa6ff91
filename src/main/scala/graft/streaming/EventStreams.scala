package graft.streaming

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{DataFrame, Dataset, Encoder}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming surface. The reference is batch-only (SURVEY §2.12);
  * this is the north-star extension: the same event-table operators as
  * `graft.queries.EventQueries`, expressed over an unbounded stream with
  * watermarks and keyed state.
  *
  * Scale notes: watermark + window aggregation is Spark's incremental
  * partial-agg with state-store backing — state is bounded by
  * (#keys x window retention), independent of total stream length;
  * sessionization state is one small record per active user.
  */
object EventStreams {

  /** Every operator's row, key and state encoder, derived from its type:
    * callers pass none, so no caller sees an operator's state type. */
  private implicit def encoder[T: TypeTag]: Encoder[T] = ExpressionEncoder[T]()

  /** Tumbling 1-hour counts with a 1-hour watermark: late events beyond the
    * watermark are dropped, state for closed windows is evicted. Batch twin:
    * EventQueries q60_hourly. */
  def hourlyCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("value").as("sum_val"))
      .select(unix_timestamp(col("window.start")).as("hour_start"),
        col("event_type"), col("n"), col("sum_val"))

  /** Native event-time session windows — the DECLARATIVE sessionization
    * path, complementing `sessionize`'s explicit keyed state: Spark's
    * `session_window` merges each event's [ts, ts+gap) interval with
    * overlapping ones inside a dedicated session-aggregate operator, the
    * state store holds ONE interval per open (user, session), and the
    * watermark closes sessions and emits them in append mode. The same
    * expression runs unchanged on a static frame (batch twin asserted in
    * StreamingSpec against a lag-window reference). Boundary semantics:
    * a gap EXACTLY equal to `gap` starts a new session (intervals are
    * half-open), i.e. new-session iff diff >= gap. */
  def sessionWindows(events: DataFrame, gap: String = "30 minutes")
      : DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(col("user_id"), session_window(col("ts"), gap))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        unix_timestamp(col("session_window.start")).as("start_s"),
        unix_timestamp(col("session_window.end")).as("end_s"),
        col("n_events"))

  /** Streaming keep-first dedup by (user_id, event_type) within the
    * watermark horizon. Batch twin: q65_event_dedup. */
  def dedupFirst(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .dropDuplicates("user_id", "event_type")

  final case class Doc(doc_id: Long, bucket: Long)
  final case class DedupDecision(doc_id: Long, bucket: Long, kept: Boolean)

  /** Streaming near-duplicate suppression: documents arrive as a stream,
    * each already tagged with its MinHash/LSH bucket (a per-row expression
    * — see DedupQueries q52); keyed state keeps the first document per
    * bucket and flags later arrivals as near-duplicates. State is one long
    * per distinct bucket — bounded by the LSH band space, not the stream
    * length. Batch twin: q52_lsh_pairs.
    */
  def dedupNearStream(docs: Dataset[Doc]): Dataset[DedupDecision] =
    docs.groupByKey(_.bucket)
      .flatMapGroupsWithState[Long, DedupDecision](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (bucket: Long, ds: Iterator[Doc], state: GroupState[Long]) =>
          val sorted = ds.toSeq.sortBy(_.doc_id)
          var keeper = state.getOption
          val out = sorted.map { d =>
            val kept = keeper.isEmpty
            if (kept) keeper = Some(d.doc_id)
            DedupDecision(d.doc_id, bucket, kept)
          }
          keeper.foreach(state.update)
          out.iterator
      }

  final case class Ev(user_id: Long, event_id: Long, tsSec: Double)
  final case class SessionState(start: Double, last: Double, n: Long)
  final case class Session(user_id: Long, startSec: Double, endSec: Double,
      nEvents: Long)

  /** Session assembly with explicit keyed state (flatMapGroupsWithState):
    * a session closes after `gapSec` of silence (processing-time timeout in
    * this minimal variant). Batch twin: q64_sessionize. */
  def sessionize(events: Dataset[Ev], gapSec: Double = 1800.0)
      : Dataset[Session] = {
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (user: Long, evs: Iterator[Ev], state: GroupState[SessionState]) =>
          val sorted = evs.toSeq.sortBy(e => (e.tsSec, e.event_id))
          var closed = List.empty[Session]
          var cur = state.getOption
          sorted.foreach { ev =>
            cur match {
              case Some(st) if ev.tsSec - st.last <= gapSec =>
                cur = Some(st.copy(last = ev.tsSec, n = st.n + 1))
              case Some(st) =>
                closed ::= Session(user, st.start, st.last, st.n)
                cur = Some(SessionState(ev.tsSec, ev.tsSec, 1))
              case None =>
                cur = Some(SessionState(ev.tsSec, ev.tsSec, 1))
            }
          }
          cur.foreach(state.update)
          closed.reverseIterator
      }
  }

  final case class FunnelEv(user_id: Long, event_id: Long,
      event_type: String, us: Long)
  /** Stage times in epoch micros; -1 = not yet reached. */
  final case class FunnelState(t1: Long, t2: Long, t3: Long)
  final case class StageReach(user_id: Long, stage: Int, lag_s: Long)

  /** Streaming funnel (view -> click -> purchase, 7-day stage horizons):
    * one tiny FunnelState record per user; a StageReach row is emitted the
    * moment a user first reaches each stage. Exactly the batch semantics
    * of q135_funnel (earliest-qualifying-event, integer-micro lags)
    * under in-order (watermark-respecting) delivery — the same
    * assumption `sessionize` makes; within a batch events are sorted by
    * (us, event_id) so batch boundaries can never reorder a user's
    * history. State is O(1) per user and never grows with stream length.
    */
  def funnelStream(events: Dataset[FunnelEv],
      horizonUs: Long = 604800000000L): Dataset[StageReach] = {
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelState, StageReach](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (user: Long, evs: Iterator[FunnelEv],
            state: GroupState[FunnelState]) =>
          val sorted = evs.toSeq.sortBy(e => (e.us, e.event_id))
          var st = state.getOption.getOrElse(FunnelState(-1L, -1L, -1L))
          val out = scala.collection.mutable.ListBuffer.empty[StageReach]
          sorted.foreach { ev =>
            ev.event_type match {
              case "view" if st.t1 < 0 =>
                st = st.copy(t1 = ev.us)
                out += StageReach(user, 1, 0L)
              case "click" if st.t1 >= 0 && st.t2 < 0 && ev.us > st.t1 &&
                  ev.us <= st.t1 + horizonUs =>
                out += StageReach(user, 2, (ev.us - st.t1) / 1000000L)
                st = st.copy(t2 = ev.us)
              case "purchase" if st.t2 >= 0 && st.t3 < 0 && ev.us > st.t2 &&
                  ev.us <= st.t2 + horizonUs =>
                out += StageReach(user, 3, (ev.us - st.t2) / 1000000L)
                st = st.copy(t3 = ev.us)
              case _ =>
            }
          }
          state.update(st)
          out.iterator
      }
  }

  /** Streaming benchmark-contamination scoring — the stream-static shape:
    * an unbounded document stream scored against a STATIC probe-shingle
    * set (batch twin: q109). The probe set arrives as a one-row static
    * DataFrame with an array column; the stream-static cross join
    * broadcasts that single row, so scoring is per-row, stateless, and
    * safe on an unbounded stream (no watermark, no keyed state). Score =
    * |distinct doc shingles ∩ probes| / |distinct doc shingles|.
    */
  def contaminationScoreStream(docs: DataFrame, probes: DataFrame,
      probeCol: String = "probes"): DataFrame = {
    import graft.functions.TextOps
    docs
      .select(col("doc_id"),
        array_distinct(TextOps.shingles(TextOps.tokens(col("text")), 3))
          .as("sh"))
      .filter(size(col("sh")) > 0)
      .crossJoin(probes)
      .select(col("doc_id"), size(col("sh")).cast("long").as("n_sh"),
        size(array_intersect(col("sh"), col(probeCol))).cast("long")
          .as("n_hit"))
      .withColumn("score",
        round(col("n_hit").cast("double") / col("n_sh"), 4))
  }

  /** Streaming PII scrubbing — the stream twin of batch q120: documents
    * arrive as an unbounded stream and leave with their PII spans
    * replaced and counted. Per-row, stateless (no watermark, no keyed
    * state, no shuffle) — the shape a continuous ingestion pipeline wants
    * for redaction-before-storage; patterns/replacements are the shared
    * [[graft.functions.TextOps.piiRedact]] kernels, so stream and batch
    * can never drift.
    */
  def piiRedactStream(docs: DataFrame): DataFrame = {
    import graft.functions.TextOps
    // q120's 3-pass shape: redact once into a column, counts from the
    // marker DELTA vs the original (length arithmetic, no second set of
    // regex scans, robust to pre-existing markers in the input)
    docs.select(col("doc_id"), col("text"),
        TextOps.piiRedact(col("text")).as("r"))
      .select(col("doc_id"),
        TextOps.redactedSpanCounts(col("text"), col("r"), "[EMAIL]").as("n_email"),
        TextOps.redactedSpanCounts(col("text"), col("r"), "[PHONE]").as("n_phone"),
        TextOps.redactedSpanCounts(col("text"), col("r"), "[IP]").as("n_ip"),
        col("r").as("redacted"))
  }

  final case class Tick(user_id: Long, tsSec: Long, side: Int, value: Double)
  final case class Enriched(user_id: Long, tsSec: Long, value: Double,
      snapValue: Double, matched: Boolean)

  /** Streaming backward as-of join — the streaming twin of
    * [[graft.functions.JoinOps.asofBackward]] (batch q89): a mixed stream
    * of snapshot rows (side=0, e.g. feature updates) and query rows
    * (side=1, e.g. training examples) per key; each query row is enriched
    * with the latest snapshot at-or-before it. Keyed state is ONE
    * (ts, value) pair per key — bounded by #keys, not stream length.
    * Within a micro-batch rows process in (ts, side) order, so snapshot
    * and query arriving together behave like the batch join's >= bound;
    * a snapshot arriving in a LATER micro-batch than a query with a later
    * ts cannot retroactively match (stream reality — feed snapshots with
    * a watermark lead if exactness across batches matters). */
  def asofStream(ticks: Dataset[Tick]): Dataset[Enriched] =
    ticks.groupByKey(_.user_id)
      .flatMapGroupsWithState[(Long, Double), Enriched](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (user: Long, it: Iterator[Tick], state: GroupState[(Long, Double)]) =>
          var snap = state.getOption
          val out = it.toSeq.sortBy(t => (t.tsSec, t.side)).flatMap { t =>
            if (t.side == 0) {
              if (snap.forall(_._1 <= t.tsSec)) {
                snap = Some((t.tsSec, t.value))
                state.update(snap.get)
              }
              None
            } else Some(Enriched(user, t.tsSec, t.value,
              snap.map(_._2).getOrElse(-1.0), snap.nonEmpty))
          }
          out.iterator
      }

  final case class BandHit(doc_id: Long, band: Int, old_id: Long)
  final case class IncDecision(doc_id: Long, dup_of: Long, agree: Long)

  /** The 4 MinHash band keys of a text column as ONE per-row expression —
    * an array fold (`array_min` over arithmetic permutations of the
    * hashed shingle set), no explode/groupBy: the stream shape of batch
    * q51/q116's signature (those explode for map-side combine; a stream
    * doc is a single row, so the per-row fold is exact and shuffle-free).
    * Returns array(mh0, mh1, mh2, mh3); null when the doc has no
    * shingles. */
  def minhashBands(text: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = {
    import graft.functions.{ArrayOps, TextOps}
    ArrayOps.bindOnce(TextOps.hashedShingles(text)) { hs =>
      when(size(hs) > 0, array(TextOps.MinhashPerms.indices.map(i =>
        array_min(transform(hs, h => TextOps.minhashPerm(h, i)))): _*))
    }
  }

  /** Streaming incremental corpus dedup — the stream twin of batch q116:
    * NEW documents arrive as a stream and are flagged when their MinHash
    * signature agrees with some document of the STATIC existing corpus on
    * >= 2 of 4 bands. Per-row signature (no stream-side shuffle) →
    * posexplode to (band, mh) → stream-STATIC equi-join against the old
    * corpus's band table (state-free: the static side is just a batch
    * relation, re-read per micro-batch and prunable/bucketable at 100 TB)
    * → per-doc decision. All 4 band rows of a doc land in the SAME
    * micro-batch (they explode from one input row), so the decision
    * groupBy needs no cross-batch state: flatMapGroupsWithState keeps
    * nothing (state type Unit-like, never updated) and emits
    * (doc_id, min agreeing old_id, max agree) exactly like q116.
    *
    * `oldBands`: (band Int, mh Long, old_id Long) — precompute batch-side
    * from the existing corpus with [[minhashBands]] + posexplode. */
  def incrementalDedupStream(newDocs: DataFrame, oldBands: DataFrame)
      : Dataset[IncDecision] = {
    val bands = newDocs
      .select(col("doc_id"), posexplode(minhashBands(col("text")))
        .as(Seq("band", "mh")))
    val hits = bands
      .join(oldBands, Seq("band", "mh"))
      .select(col("doc_id"), col("band"), col("old_id"))
      .as[BandHit]
    hits.groupByKey(_.doc_id)
      .flatMapGroupsWithState[Boolean, IncDecision](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (id: Long, it: Iterator[BandHit], state: GroupState[Boolean]) =>
          // redelivery guard: an at-least-once source can replay a doc in
          // a later micro-batch; the first decision wins and replays are
          // swallowed instead of emitting contradictory rows. State is
          // one boolean per FLAGGED doc (bounded by the flagged mass).
          if (state.exists) Iterator.empty
          else {
            val byOld = it.toSeq.groupBy(_.old_id)
              .view.mapValues(_.map(_.band).distinct.size).toMap
            val agreeing = byOld.filter(_._2 >= 2)
            if (agreeing.isEmpty) Iterator.empty
            else {
              state.update(true)
              val maxAgree = agreeing.values.max.toLong
              Iterator.single(
                IncDecision(id, agreeing.keys.min, maxAgree))
            }
          }
      }
  }

  final case class ChunkRow(doc_id: Long, chash: String, clen: Long)
  final case class ChunkDecision(doc_id: Long, chash: String, clen: Long,
      first_seen: Boolean)

  /** Streaming CDC chunk dedup — the stream twin of batch q143: documents
    * arrive as an unbounded stream, are chunked by the SAME map-side
    * codegen kernel (`TextOps.cdcChunkRows` — content-defined boundaries,
    * so a re-crawled page with one inserted paragraph still dedups all
    * unchanged chunks), and each chunk is flagged first-seen vs duplicate
    * against everything ingested so far. Keyed state is ONE boolean per
    * DISTINCT chunk hash — the inherent floor for exact dedup (state
    * tracks content volume, not stream length; a production deployment
    * ages it with a TTL or swaps in a Bloom filter when approximate
    * suffices). Within a micro-batch, ties resolve by doc_id so replays
    * and arrival order cannot flip which occurrence counts as first. */
  def cdcDedupStream(docs: DataFrame): Dataset[ChunkDecision] = {
    val chunks = graft.functions.TextOps.cdcChunkRows(docs, "doc_id", "text")
      .as[ChunkRow]
    chunks.groupByKey(_.chash)
      .flatMapGroupsWithState[Boolean, ChunkDecision](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (h: String, it: Iterator[ChunkRow], state: GroupState[Boolean]) =>
          val rows = it.toSeq.sortBy(_.doc_id)
          val seen = state.exists
          if (!seen) state.update(true)
          rows.iterator.zipWithIndex.map { case (r, i) =>
            ChunkDecision(r.doc_id, r.chash, r.clen, !seen && i == 0)
          }
      }
  }

  /** Streaming vocabulary heavy hitters — the stream twin of q131's
    * candidate stage: a Misra–Gries sketch maintained as streaming
    * aggregation STATE (one O(k) buffer; each micro-batch's words reduce
    * into it and the buffer merges across batches — the same
    * mergeability that lets the batch form survive any partial-agg
    * tree). Output mode complete re-emits the current candidate row per
    * batch. The MG survival theorem (every term with count > n/(k+1) is
    * retained under ANY merge order) therefore holds for the whole
    * ingested prefix — StreamingSpec gates the final candidate set
    * against exact corpus counts; the exact-rescore stage that makes
    * q131's OUTPUT deterministic stays batch-side (it needs a second
    * corpus pass by definition). */
  def heavyHittersStream(words: org.apache.spark.sql.Dataset[String],
      k: Int = 64): DataFrame =
    words
      .select(new graft.functions.Aggregators.FreqItemsAgg(k)
        .toColumn.name("items"))
      .toDF("items")

  final case class AttrEv(event_id: Long, user_id: Long,
      ts: java.sql.Timestamp, value: Double)

  /** Stream-stream INTERVAL join (attribution): each purchase joins the
    * same user's views from the preceding hour. This is the streaming
    * join shape with bounded state: BOTH inputs carry watermarks and the
    * predicate bounds each side's event time relative to the other, so
    * the state store can evict a buffered row as soon as the opposite
    * side's watermark passes its last possible match — state is O(events
    * inside the 1 h + watermark horizon) per side, independent of stream
    * length. Without the two time bounds Spark would have to buffer both
    * streams forever (it rejects such joins in append mode). The same
    * expression runs unchanged on static frames — the batch twin
    * StreamingSpec asserts equivalence against. */
  def attributionJoin(views: DataFrame, purchases: DataFrame): DataFrame = {
    val v = views
      .select(col("event_id").as("view_id"), col("user_id"),
        col("ts").as("view_ts"))
      .withWatermark("view_ts", "1 hour")
    val p = purchases
      .select(col("event_id").as("purchase_id"),
        col("user_id").as("p_user"), col("ts").as("purchase_ts"),
        col("value"))
      .withWatermark("purchase_ts", "1 hour")
    v.join(p,
        col("user_id") === col("p_user") &&
          col("purchase_ts") >= col("view_ts") &&
          col("purchase_ts") <= col("view_ts") + expr("INTERVAL 1 HOUR"))
      .select(col("purchase_id"), col("user_id"), col("view_id"),
        unix_timestamp(col("view_ts")).as("view_s"),
        unix_timestamp(col("purchase_ts")).as("purchase_s"), col("value"))
  }

  final case class UpsertRow(doc_id: Long, ver: Long, h: String)
  final case class UpsertDecision(doc_id: Long, status: String)

  /** Streaming UPSERT diff — the stream twin of q168's snapshot diff
    * for the classes an upsert stream can observe: keyed state holds
    * the (version, content hash) last applied per doc_id; an arriving
    * record emits `added` (no state) or `changed` (newer version,
    * different hash) and is silently absorbed otherwise. `removed` is
    * undetectable in a pure upsert stream (no tombstones) — that class
    * stays batch-side by design. The VERSION column (every real CDC/
    * upsert feed carries one: a log offset, commit ts, …) is what makes
    * the operator delivery-order-proof: records at or below the applied
    * version are discarded, so at-least-once redelivery of an OLD
    * revision — in its own batch or mixed into one batch with the new
    * revision — can neither flip state backwards nor emit a duplicate
    * decision. A pure-hash design cannot distinguish a redelivered old
    * revision from a genuine new update. State is one (long, hash) per
    * live doc; content is hashed map-side BEFORE the keyed shuffle. */
  def upsertDiffStream(docs: DataFrame): Dataset[UpsertDecision] =
    docs.select(col("doc_id"), col("ver").cast("long").as("ver"),
        md5(col("text")).as("h"))
      .as[UpsertRow]
      .groupByKey(_.doc_id)
      .flatMapGroupsWithState[(Long, String), UpsertDecision](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (id: Long, it: Iterator[UpsertRow],
            state: GroupState[(Long, String)]) =>
          val out = List.newBuilder[UpsertDecision]
          // ascending version; hash tie-break makes equal-version
          // duplicates deterministic
          it.toSeq.sortBy(r => (r.ver, r.h)).foreach { r =>
            state.getOption match {
              case None =>
                state.update((r.ver, r.h))
                out += UpsertDecision(id, "added")
              case Some((pv, _)) if r.ver <= pv => // stale/replay: absorb
              case Some((_, ph)) if ph != r.h =>
                state.update((r.ver, r.h))
                out += UpsertDecision(id, "changed")
              case Some(_) => // newer version, same content: advance
                state.update((r.ver, r.h))
            }
          }
          out.result().iterator
      }

  /** One arrival into a running top-k (the stream twin of `Scale.topK`):
    * below k `cand` is admitted; at k it displaces the worst kept entry
    * only if it `beats` it (the batch window's order). Returns the new
    * kept list, whether `cand` was admitted, and the entry it displaced.
    * Redelivery of a kept entry (`same`) is a no-op: a second admit would
    * waste a slot and wrongly displace a distinct entry. After any
    * arrival order the kept set is the batch top-k. */
  private[graft] def topKStep[T](kept: List[T], cand: T, k: Int)(
      same: (T, T) => Boolean,
      beats: (T, T) => Boolean): (List[T], Boolean, Option[T]) =
    if (kept.exists(same(_, cand))) (kept, false, None)
    else if (kept.size < k) (cand :: kept, true, None)
    else {
      val worst = kept.reduce((a, b) => if (beats(a, b)) b else a)
      if (beats(cand, worst))
        (cand :: kept.filterNot(same(_, worst)), true, Some(worst))
      else (kept, false, None)
    }

  final case class DomDoc(doc_id: Long, domain: String, n_chars: Long)
  final case class CapDecision(domain: String, doc_id: Long,
      n_chars: Long, admitted: Boolean)

  /** Streaming per-domain diversity cap — the stream twin of q164: a
    * running top-k (by n_chars desc, doc_id asc) per domain maintained
    * as keyed state (k pairs per domain — O(k) state per key). Append
    * mode cannot retract, so the operator emits ADMISSION events: a doc
    * that enters the current top-k emits `admitted = true`, and the doc
    * it displaces emits a later `admitted = false` row. The final kept
    * set (admitted minus later-displaced) is EXACTLY the batch top-k —
    * StreamingSpec gates that equivalence against the q164 window.
    * Within-batch arrival order is canonicalized (n_chars desc, doc_id)
    * so replays cannot flip decisions. */
  def domainCapStream(docs: Dataset[DomDoc], k: Int = 3): Dataset[CapDecision] =
    docs.groupByKey(_.domain)
      .flatMapGroupsWithState[List[(Long, Long)], CapDecision](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (domain: String, it: Iterator[DomDoc],
            state: GroupState[List[(Long, Long)]]) =>
          // state: (n_chars, doc_id) of the current top-k
          var top = state.getOption.getOrElse(Nil)
          // (a beats b) under the batch ordering n_chars desc, doc_id asc
          def beats(a: (Long, Long), b: (Long, Long)): Boolean =
            a._1 > b._1 || (a._1 == b._1 && a._2 < b._2)
          val out = List.newBuilder[CapDecision]
          it.toSeq.sortBy(d => (-d.n_chars, d.doc_id)).foreach { d =>
            val (next, admitted, evicted) =
              topKStep(top, (d.n_chars, d.doc_id), k)(_ == _, beats)
            top = next
            if (admitted) out += CapDecision(domain, d.doc_id, d.n_chars, true)
            evicted.foreach(w => out += CapDecision(domain, w._2, w._1, false))
          }
          state.update(top)
          out.result().iterator
      }

  final case class CapEv(event_id: Long, user_id: Long, ts_us: Long,
      event_type: String)
  final case class CapEvDecision(user_id: Long, event_id: Long,
      event_type: String, kept: Boolean)

  /** Streaming CONTRIBUTION CAPPING — the stream twin of q211's DP
    * sensitivity prep: per user, keep only the NEWEST k events
    * ((ts, event_id) lexicographic, exactly the batch window's
    * ts DESC, event_id DESC); a newer arrival evicts the oldest kept
    * entry. State is the kept set itself — at most k (ts, id, type)
    * triples per user, independent of stream length or redelivery count.
    * Emits an admit row per kept event and an evict row per
    * displacement, so a downstream consumer can maintain the capped set
    * incrementally; redelivery is a no-op ([[topKStep]]). */
  def contributionCapStream(evs: Dataset[CapEv], k: Int = 8)
      : Dataset[CapEvDecision] =
    evs.groupByKey(_.user_id)
      .flatMapGroupsWithState[List[(Long, Long, String)], CapEvDecision](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (uid: Long, it: Iterator[CapEv],
            state: GroupState[List[(Long, Long, String)]]) =>
          var top = state.getOption.getOrElse(Nil) // (ts_us, event_id, type)
          // a beats b = a is NEWER under the batch ordering
          def beats(a: (Long, Long, String), b: (Long, Long, String)) =
            a._1 > b._1 || (a._1 == b._1 && a._2 > b._2)
          val out = List.newBuilder[CapEvDecision]
          it.toSeq.sortBy(e => (-e.ts_us, -e.event_id)).foreach { ev =>
            // one event = one (ts, event_id); the type rides along
            val (next, admitted, evicted) =
              topKStep(top, (ev.ts_us, ev.event_id, ev.event_type), k)(
                (a, b) => a._1 == b._1 && a._2 == b._2, beats)
            top = next
            if (admitted)
              out += CapEvDecision(uid, ev.event_id, ev.event_type, true)
            evicted.foreach(w => out += CapEvDecision(uid, w._2, w._3, false))
          }
          state.update(top)
          out.result().iterator
      }

  final case class DpEv(event_id: Long, user_id: Long, ts_us: Long,
      event_type: String)
  final case class DpAdmit(event_type: String, dow: Long, user_id: Long,
      event_id: Long, admitted: Boolean)
  /** Streaming twin of q227's sensitivity stage: admit at most c events
    * per (user, event_type, epoch-dow) cell, idempotent under
    * at-least-once redelivery (state holds the admitted event ids —
    * bounded at c rows per cell, so state is cells·c-scale, never
    * event-scale). Unlike contributionCapStream's newest-k window, DP
    * capping is order-free: ANY c admitted events bound the cell's
    * sensitivity, so first-come admission keeps state minimal and the
    * admitted COUNT per cell equals the batch Σ least(count, c)
    * exactly. The release tail (hash noise + clamp, dpReleaseCore's
    * map stages) runs on the admitted sink at window close. */
  def dpCapStream(evs: Dataset[DpEv], c: Int = 4): Dataset[DpAdmit] =
    evs.groupByKey(e =>
        (e.user_id, e.event_type, e.ts_us / 86400000000L % 7))
      .flatMapGroupsWithState[List[Long], DpAdmit](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key: (Long, String, Long), it: Iterator[DpEv],
            state: GroupState[List[Long]]) =>
          var ids = state.getOption.getOrElse(Nil)
          val out = List.newBuilder[DpAdmit]
          it.foreach { ev =>
            if (ids.contains(ev.event_id)) {
              // redelivery of an admitted event: no double-admit
            } else if (ids.size < c) {
              ids = ev.event_id :: ids
              out += DpAdmit(key._2, key._3, key._1, ev.event_id, true)
            } else {
              out += DpAdmit(key._2, key._3, key._1, ev.event_id, false)
            }
          }
          state.update(ids)
          out.result().iterator
      }

  final case class Turn(user_id: Long, event_id: Long, ts_us: Long,
      toks: Long)
  final case class PackState(user_id: Long, n_kept: Long, tokens_kept: Long,
      first_kept_event: Long, kept_from_us: Long)
  /** Kept window + the EXCLUSION BOUNDARY: the newest (ts_us, event_id)
    * ever trimmed or rejected for this user. Sentinel Long.MinValue =
    * nothing excluded yet. */
  final case class PackWindow(kept: List[Turn], b_ts: Long, b_id: Long)

  /** Streaming CONTEXT-WINDOW PACKING — the stream twin of q184: per
    * user, keep the newest-turns suffix whose token cost fits the budget.
    * State is the kept window itself (turns sorted by (ts, event_id))
    * plus a two-long exclusion boundary; the list is bounded by
    * construction: every turn costs >= 1 token (null-cost turns are
    * filtered, see below), so it never exceeds `budget` entries.
    *
    * The boundary is what makes out-of-order and at-least-once arrival
    * batch-equivalent. The batch pack keeps exactly the maximal newest
    * suffix whose sum fits, so every turn at-or-below the newest excluded
    * turn is excluded FOREVER (costs are strictly positive — the running
    * suffix sum only grows as the corpus grows). An arrival is therefore:
    * (a) deduped against the kept list by event_id; (b) refused if not
    * strictly newer than the boundary (replay of a trimmed/rejected turn,
    * or older still); (c) otherwise INSERTED in (ts, event_id) order and
    * the window re-trimmed from the oldest end while over budget — the
    * newest trimmed turn advances the boundary. Insert-then-trim subsumes
    * rejection (an old arrival that does not fit trims itself right back
    * out) and reproduces the batch greedy exactly: with positive costs,
    * "longest newest-prefix under the budget" and "remove oldest while
    * over budget" select the same set. The earlier revision admitted an
    * older-than-head turn whenever it fit the CURRENT kept sum — wrong
    * once anything had been trimmed (the trimmed turn's cost is no longer
    * in the sum, so the window could go non-contiguous vs q184).
    *
    * NULL-cost turns (concat null-propagates when event_type or props is
    * NULL) are filtered before decoding: Turn.toks is a primitive Long
    * (a NULL would fail the whole micro-batch), and a zero-cost turn
    * would break the `budget`-entries state bound. The batch twin can
    * count such a turn inside the window (it inherits the running cum);
    * the stream deliberately reports the positive-cost pack core.
    *
    * The emission carries no total-turn count: a count of ever-seen
    * turns would need unbounded dedup state to survive at-least-once
    * delivery (the batch q184 reports it; the stream reports the
    * budget-pack core). Emits the user's pack state after each batch;
    * the LAST emission per user equals the batch query's kept columns
    * (StreamingSpec gates this under shuffled batch boundaries, full
    * replay, and the trim-then-late-old-turn adversary). */
  def contextPackStream(events: DataFrame, budget: Long = 256L)
      : Dataset[PackState] =
    events.select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("ts_us"),
        (expr("CAST(length(concat(event_type, ' ', props)) AS BIGINT) div 4")
          + lit(1L)).as("toks"))
      .filter(col("toks").isNotNull)
      .as[Turn]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[PackWindow, PackState](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (uid: Long, it: Iterator[Turn], state: GroupState[PackWindow]) =>
          var w = state.getOption.getOrElse(
            PackWindow(Nil, Long.MinValue, Long.MinValue))
          var kept = w.kept
          var bTs = w.b_ts; var bId = w.b_id
          it.toSeq.sortBy(t => (t.ts_us, t.event_id)).foreach { t =>
            val dup = kept.exists(_.event_id == t.event_id)
            val excluded = t.ts_us < bTs || (t.ts_us == bTs && t.event_id <= bId)
            if (!dup && !excluded) {
              // kept suffix, newest LAST, sorted by (ts_us, event_id)
              kept = (t :: kept).sortBy(k => (k.ts_us, k.event_id))
              // trim from the FRONT (oldest) while over budget; each trim
              // advances the exclusion boundary (ascending, so the final
              // boundary is the newest trimmed turn)
              while (kept.map(_.toks).sum > budget) {
                bTs = kept.head.ts_us; bId = kept.head.event_id
                kept = kept.tail
              }
            }
          }
          state.update(PackWindow(kept, bTs, bId))
          if (kept.isEmpty) Iterator.empty
          else Iterator.single(PackState(uid,
            kept.size.toLong, kept.map(_.toks).sum,
            kept.map(_.event_id).min, kept.head.ts_us))
      }

  final case class DayEv(event_type: String, ts_us: Long)
  final case class CusumRow(event_type: String, n_days: Long, total: Long,
      t_star: Long, direction: Long, cusum_ppm: Long)

  /** Streaming CUSUM drift monitor — the stream twin of q243: per event
    * type, maintain the (day → count) histogram in state and emit the
    * CURRENT changepoint (peak |S_t·D| = |D·P_t − t·T| over the gap-filled
    * day spine, earliest-day tie-break) on every trigger. State is one
    * map per type bounded by the OBSERVED DAY SPAN — days, not events —
    * so a 100 TB/day stream carries the same state as a trickle. The
    * final emitted row per type equals the batch q243 output on the same
    * prefix exactly (integer arithmetic identical; StreamingSpec pins the
    * equivalence under split delivery). */
  def cusumStream(evs: Dataset[DayEv]): Dataset[CusumRow] =
    evs.groupByKey(_.event_type)
      .mapGroupsWithState[Map[Long, Long], CusumRow](
        GroupStateTimeout.NoTimeout()) {
        (typ: String, it: Iterator[DayEv],
            state: GroupState[Map[Long, Long]]) =>
          var m = state.getOption.getOrElse(Map.empty[Long, Long])
          it.foreach { e =>
            val day = e.ts_us / 86400000000L
            m = m.updated(day, m.getOrElse(day, 0L) + 1L)
          }
          state.update(m)
          val d0 = m.keys.min
          val d1 = m.keys.max
          val dd = d1 - d0 + 1
          val tt = m.valuesIterator.sum
          var p = 0L
          var bestAbs = -1L
          var bestT = 1L
          var bestSd = 0L
          var t = 0L
          var day = d0
          while (day <= d1) {
            t += 1
            p += m.getOrElse(day, 0L)
            val sd = dd * p - t * tt
            val a = math.abs(sd)
            if (a > bestAbs) { bestAbs = a; bestT = t; bestSd = sd }
            day += 1
          }
          CusumRow(typ, dd, tt, bestT,
            if (bestSd >= 0) 1L else -1L, bestAbs * 1000000L / (dd * tt))
      }

  final case class QuantRow(wk: Long, n: Long, q25: Long, q50: Long,
      q75: Long)

  /** Streaming value-quantile monitor — the stream twin of q256: per
    * WEEK (the stream key), maintain the cents-value histogram in keyed
    * state and emit that week's exact type-1 quantiles (p25/p50/p75 =
    * min v with 100·cum ≥ p·n — q256's integer rule verbatim) on every
    * trigger. State is one map per week bounded by the DISTINCT CENT
    * VALUES observed — distribution granularity, not event count — so a
    * 100 TB/day stream carries the same state as a trickle, and weeks
    * shard across executors like any keyed state. The drift step
    * (week-over-week lag, max |Δ| per quantile) is CROSS-key and
    * therefore stays downstream of the stream (the q243 per-key-span
    * rule: keyed state cannot see other weeks); StreamingSpec folds the
    * final per-week emissions through q256's drift algebra and pins
    * byte-equality with the batch output under split delivery.
    *
    * Retention (ADVICE r13): state is bounded PER WEEK but retained for
    * every week ever seen (NoTimeout, no removal) — deliberate here
    * because the drift consumer compares arbitrary week pairs and a
    * year of weeks is ≤52 bounded histograms. A deployment whose
    * week-count genuinely grows without bound (multi-year, many
    * streams) should key the same op behind an event-time watermark
    * and `state.remove()` weeks older than the watermark minus the
    * drift lag — the emission algebra is unchanged because closed
    * weeks never receive data. */
  def quantileDriftStream(evs: DataFrame): Dataset[QuantRow] =
    evs.select(expr("unix_micros(ts) div 604800000000").as("wk"),
        expr("cast(floor(value * 100) as bigint)").as("v"))
      .as[(Long, Long)]
      .groupByKey(_._1)
      .mapGroupsWithState[Map[Long, Long], QuantRow](
        GroupStateTimeout.NoTimeout()) {
        (wk: Long, it: Iterator[(Long, Long)],
            state: GroupState[Map[Long, Long]]) =>
          var m = state.getOption.getOrElse(Map.empty[Long, Long])
          it.foreach { e =>
            m = m.updated(e._2, m.getOrElse(e._2, 0L) + 1L)
          }
          state.update(m)
          val n = m.valuesIterator.sum
          val sorted = m.toArray.sortBy(_._1)
          def q(p: Long): Long = {
            var cc = 0L
            var i = 0
            while (i < sorted.length) {
              cc += sorted(i)._2
              if (cc * 100 >= p * n) return sorted(i)._1
              i += 1
            }
            sorted.last._1
          }
          QuantRow(wk, n, q(25), q(50), q(75))
      }

  final case class LedgerRow(event_type: String, user_id: Long,
      n: Long, cents: Long, forget: Boolean)

  /** Streaming deletion-audit ledger — the stream twin of q250: the
    * per-(type, user) increment table a right-to-be-forgotten store
    * maintains ONLINE, so a deletion request subtracts ready-made deltas
    * instead of recomputing aggregates from the corpus. Keyed state is
    * two longs per live (event_type, user_id) — the same grain as
    * q250's checkpointed `per` table, which is exactly what Spark's
    * state store shards across executors; no global aggregate rides the
    * stream (a keyed stream cannot see one — the q243 per-key-span
    * rule). The forget bit is the batch rule verbatim
    * (md5_prefix64("del|"+uid) % 16 == 0), computed map-side BEFORE the
    * keyed shuffle. Emission is an upsert (latest row per key wins);
    * StreamingSpec folds the final state through q250's ledger algebra
    * and pins byte-equality with the batch output under split delivery. */
  def deletionLedgerStream(evs: DataFrame): Dataset[LedgerRow] =
    evs.select(col("event_type"),
        col("user_id").cast("long").as("user_id"),
        expr("cast(floor(value * 100) as bigint)").as("cents"),
        (pmod(call_function("md5_prefix64",
          concat(lit("del|"), col("user_id").cast("string"))),
          lit(16)) === 0).as("forget"))
      .as[(String, Long, Long, Boolean)]
      .groupByKey(e => (e._1, e._2))
      .mapGroupsWithState[(Long, Long), LedgerRow](
        GroupStateTimeout.NoTimeout()) {
        (key: (String, Long), it: Iterator[(String, Long, Long, Boolean)],
            state: GroupState[(Long, Long)]) =>
          var (n, c) = state.getOption.getOrElse((0L, 0L))
          var forget = false
          it.foreach { e => n += 1; c += e._3; forget = e._4 }
          state.update((n, c))
          LedgerRow(key._1, key._2, n, c, forget)
      }
}
