package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{Q, Tables}
import graft.Tables.{documents => docs, embeddings => emb}
import graft.functions.{Scale, TextOps}

/** Deduplication + similarity search — the scale-path operators a training
  * data pipeline needs (north-star mandate; absent from the reference).
  *
  * Scale design notes (100 TB):
  *  - exact dedup = hash-groupBy on md5(text): map-side partial agg, one
  *    shuffle of (digest, id) pairs only — never the payload.
  *  - MinHash LSH = per-row signature (shuffle-free) → explode to
  *    (band, doc) pairs → groupBy band → pairs within bucket. The
  *    candidate-pair join shuffles only signature-bucket keys; the
  *    quadratic blowup is bounded per bucket, and band width trades
  *    recall vs cost.
  *  - ANN = per-row bucket id (shuffle-free) → co-partitioned
  *    bucket-join instead of the O(N·Q) brute-force cross join.
  */
object DedupQueries {

  /** Shared PQ layout for q138 (flat PQ), q167 (IVF-PQ) and q217 (PQ
    * distortion): M=4 subspaces of 16 dims × K=8 centroids (the vec_id
    * < 8 seeds), LUT slot index m*8 + cid (so the 32-slot per-query
    * array is laid out subspace-major), ADC adds the 4 slots in FIXED
    * left-to-right order (a bare sum would be
    * summation-order-nondeterministic cross-engine). Any change to M/K
    * or the slot layout lands here once and every PQ query follows. */
  private object Pq {
    import org.apache.spark.sql.{Column, DataFrame}
    /** (vec_id, cid, d0..d3): every vector's per-subspace dot with each
      * centroid — the 8-row codebook broadcast, codegen'd dot_product
      * on the 16-dim slices. */
    def subspaceDots(e: DataFrame): DataFrame = {
      val cent = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("cid"), col("embedding").as("cv"))
      val dcols = (0 until 4).map(m => TextOps.dot(
        slice(col("embedding"), m * 16 + 1, 16),
        slice(col("cv"), m * 16 + 1, 16)).as(s"d$m"))
      e.crossJoin(broadcast(cent))
        .select(Seq(col("vec_id"), col("cid")) ++ dcols: _*)
    }
    /** The 4 PQ codes c0..c3 over [[subspaceDots]] rows grouped by
      * vec_id: each subspace's argmax-dot centroid, ties to the smaller
      * cid. */
    def codeAggs: Seq[Column] = (0 until 4).map(m =>
      max_by(col("cid"), struct(col(s"d$m"), -col("cid"))).as(s"c$m"))
    /** (vec_id, c0..c3): each vector's [[codeAggs]]. */
    def codes(withD: DataFrame): DataFrame =
      withD.groupBy("vec_id").agg(codeAggs.head, codeAggs.tail: _*)
    /** Per-query 32-slot LUT array from the (vec_id, cid, d0..d3)
      * subspace-dot table, bounded collect_list of 32 structs. */
    def lutArr(withD: DataFrame, qids: Seq[Long]): DataFrame =
      withD.filter(col("vec_id").isin(qids: _*))
        .selectExpr("vec_id as qid", "cid",
          "stack(4, 0, d0, 1, d1, 2, d2, 3, d3) as (m, ld)")
        .groupBy("qid")
        .agg(transform(
          array_sort(collect_list(struct(
            (col("m") * 8 + col("cid")).cast("int").as("i"),
            col("ld").as("v")))),
          x => x.getField("v")).as("lut"))
    /** ADC score: the 4 code lookups of c0..c3 in `lut`, added in fixed
      * order. */
    def adc: Column =
      element_at(col("lut"), col("c0").cast("int") + 1) +
        element_at(col("lut"), col("c1").cast("int") + 9) +
        element_at(col("lut"), col("c2").cast("int") + 17) +
        element_at(col("lut"), col("c3").cast("int") + 25)
    /** The ANN tail over (qid, vec_id, adc) scores: top-5 per query
      * (WindowGroupLimit), then an exact dot re-score of just those
      * survivors, broadcast. */
    def rescoreTop5(e: DataFrame, scored: DataFrame,
        qids: Seq[Long]): DataFrame = {
      val top5 = Scale.topK(scored, Seq("qid"),
          Seq(col("adc").desc, col("vec_id")), 5)
        .select(col("qid"), col("vec_id").as("cand_id"), col("adc"))
      e.select(col("vec_id").as("cand_id"), col("embedding").as("ev"))
        .join(broadcast(top5), "cand_id")
        .join(broadcast(RankKey.probeVecs(e, col("vec_id").isin(qids: _*))),
          "qid")
        .select(col("qid"), col("cand_id").as("vec_id"),
          RankKey.round4(col("adc")).as("adc_dot"),
          RankKey.round4(TextOps.dot(col("ev"), col("qv"))).as("exact_dot"))
        .orderBy(col("qid"), col("adc_dot").desc, col("vec_id"))
    }
  }
  /** The packed rank key of the vector-search evaluations (q215 q216 q217
    * q218 q224 q226 q233 q238 q247 q257): key = score·(−M) + low, so
    * MinKAgg's k smallest keys are the top k by score DESC, then low ASC
    * — integer and tie-exact in both engines. Scores are quantized rank
    * values (`rq` = round(dot·1e4)), never raw doubles. low is the id
    * (M = 2^40) or id·16 + a 4-bit label (M = 2^44). M = 2^40 keeps ids
    * exact to 1.1e12 while |score|·M < 2^63 for |score| < 2^23; 2^33
    * let replica-scale ids (~1e10) leak into the score lane and corrupt
    * the ranking near the cut (the r11 audit). The labelled layout holds
    * |score| < 2^19 (rq ≤ ~1.6e5). */
  private[graft] object RankKey {
    import org.apache.spark.sql.{Column, DataFrame}
    import org.apache.spark.sql.expressions.UserDefinedFunction
    /** 2^40: the id lane. */
    val M = 1099511627776L
    /** 2^44: the (id·16 + label) lane. */
    val ML = 17592186044416L
    /** The probe front: (qid, qv) of the rows of `e` where `which` holds. */
    def probeVecs(e: DataFrame, which: Column): DataFrame =
      e.filter(which).select(col("vec_id").as("qid"), col("embedding").as("qv"))
    /** `x` rounded to 4 places, −0.0 read as 0.0 (the oracle's `+ 0`). */
    def round4(x: Column): Column = round(x, 4) + lit(0.0)
    /** The rounded cosine of each row's `embedding` with its probe's `qv`. */
    def rcos: Column =
      round4(TextOps.cosine(col("embedding"), col("qv"))).as("rcos")
    /** The rows of `e` against every probe of `probes` (qid, ...) but the
      * row's own vector. */
    def crossProbes(e: DataFrame, probes: DataFrame): DataFrame =
      e.crossJoin(probes).filter(col("vec_id") =!= col("qid"))
    /** The `k` best rows of `scored` per qid: `score` DESC, then vec_id. */
    def topScored(scored: DataFrame, score: String, k: Int): DataFrame =
      Scale.topK(scored, Seq("qid"), Seq(col(score).desc, col("vec_id")), k)
    /** The Spark twin of `OracleSql.ivfProbes`: the 2 cells (cid) of
      * largest `dot` per probe vector of `dots` where `which` holds, ties
      * to the smaller cid. */
    def ivfProbes(dots: DataFrame, which: Column): DataFrame =
      Scale.topK(dots.filter(which), Seq("vec_id"),
        Seq(col("dot").desc, col("cid")), 2)
    /** A dot product quantized to round(dot·1e4) as BIGINT. */
    def quant(dot: Column): Column = round(dot * 10000).cast("long")
    /** `embedding` as scaled ints, [[quant]] per dim: the Spark twin of
      * `OracleSql.scaledInts`. */
    def scaledInts: Column =
      transform(col("embedding"), x => quant(x.cast("double")))
    /** [[quant]] of the codegen'd `dot_product(a, b)`. */
    def rq(a: Column, b: Column): Column =
      quant(call_function("dot_product", a, b))
    def pack(score: Column, id: Column): Column = score * lit(-M) + id
    /** The brute-force key: [[rq]] of the row's `embedding` with its
      * probe's `qv`, packed with vec_id. */
    def bfKey: Column = pack(rq(col("embedding"), col("qv")), col("vec_id"))
    def packLabeled(score: Column, id: Column, label: Column): Column =
      score * lit(-ML) + id * 16L + label
    def id(key: Column): Column = pmod(key, lit(M))
    /** The score of a key of width `m`: exactly (low − key) div m. Spark's
      * `div` truncates toward zero and the key is negative whenever the
      * score is positive, so a bare −(key div m) reads one low whenever
      * low > 0 (q216 caught it at sf0.001). */
    def score(key: Column, m: Long = M): Column =
      call_function("div", pmod(key, lit(m)) - key, lit(m))
    def labeledId(key: Column): Column =
      call_function("div", pmod(key, lit(ML)), lit(16))
    def label(key: Column): Column = pmod(key, lit(ML)) % 16
    /** `label`, or a per-row error naming `query` when it is outside
      * [0,16): such a label would silently corrupt both the id and the
      * label decodes while the oracle stays right. A map-side codegen'd
      * branch, free next to the dot product. */
    def checkedLabel(query: String): Column =
      when(col("label") >= 0 && col("label") < 16, col("label"))
        .otherwise(raise_error(concat(lit(s"$query: label outside [0,16)" +
          " corrupts the packed rank key: "), col("label").cast("string"))))
    /** The bottom-k gather: the k smallest keys of a group, ascending. */
    def bottomK(k: Int): UserDefinedFunction =
      graft.functions.Aggregators.minK(k)
    /** `key` where `keep` holds, else the Long.MaxValue sentinel — a
      * second, filtered top-k fused into the same groupBy. */
    def gated(key: Column, keep: Column): Column =
      when(keep, key).otherwise(lit(Long.MaxValue))
    private def ids(keys: Column): Column = transform(keys, k => id(k))
    /** How many ids two gathered key arrays share, as BIGINT. */
    def overlap(a: Column, b: Column): Column =
      size(array_intersect(ids(a), ids(b))).cast("long")
    /** The recall tail: rows (qid, hits, recall_ppm), hits = how many of
      * the exact top-10 keys `bf` the gathered key array `got` holds. */
    def recall(g: DataFrame, got: String): DataFrame =
      recallPpm(g.select(col("qid"), overlap(col("bf"), col(got)).as("hits")),
        Seq("qid"))
    /** [[recall]] of each (value of `param`, gathered column) in `levels`:
      * rows (qid, param, hits, recall_ppm), ascending by value. */
    def recallBy(g: DataFrame, param: String,
        levels: Seq[(Int, String)]): DataFrame = {
      val hits = levels.map { case (v, got) =>
        overlap(col("bf"), col(got)).as(s"h$v") }
      val stack = levels.map(_._1).sorted.map(v => s"${v}L, h$v")
        .mkString(s"stack(${levels.size}, ", ", ", s") as ($param, hits)")
      recallPpm(g.select(col("qid") +: hits: _*).selectExpr("qid", stack),
        Seq("qid", param))
    }
    /** [[ranks]] of the `k` smallest `key`s per qid of `keyed`. */
    def topRanks(keyed: DataFrame, k: Int, decode: Column*): DataFrame =
      ranks(keyed.groupBy("qid").agg(bottomK(k)(col("key")).as("ks")),
        decode: _*)
    /** The ranked tail: one row (qid, rk, `decode`...) per key of the
      * gathered array `ks`, rk its 1-based position, ordered by (qid, rk). */
    def ranks(g: DataFrame, decode: Column*): DataFrame =
      g.select(col("qid"), posexplode(col("ks")).as(Seq("p", "key")))
        .select(col("qid") +: (col("p") + 1L).cast("long").as("rk") +: decode: _*)
        .orderBy("qid", "rk")
    private def recallPpm(h: DataFrame, keys: Seq[String]): DataFrame =
      h.select(keys.map(col) ++ Seq(col("hits"),
          (col("hits") * 100000L).as("recall_ppm")): _*)
        .orderBy(keys.map(col): _*)
    /** The IVF cell of `v`: the centroid with the largest [[rq]], ties to
      * the smaller cell id — quantized like the oracle's assign CTE, so a
      * near-tie between cells cannot flip the assignment cross-engine. */
    def nearestCell(v: Column, cents: Seq[(Long, Seq[Float])]): Column =
      -greatest(cents.map { case (cid, cv) =>
        struct(rq(v, typedLit(cv)).as("dt"), lit(-cid).as("negid"))
      }: _*).getField("negid")
    /** (vec_id, embedding) of `e` with each row's [[nearestCell]] as cid. */
    def withCell(e: DataFrame, cents: Seq[(Long, Seq[Float])]): DataFrame =
      e.select(col("vec_id"), col("embedding"),
        nearestCell(col("embedding"), cents).as("cid"))
  }

  /** Per-dim affine scalar quantization (SQ) to `levels` + 1 integer
    * steps centred on 0, over per-dim (min, max) `ranges`; a degenerate
    * dim maps to 0. [[sqQuantize]] is the codegen'd column kernel
    * (plans/SqQuantize) and [[sqProbe]] its driver-side twin for probe
    * vectors — the same BigDecimal HALF_UP rounding. */
  private def sqQuantize(v: org.apache.spark.sql.Column,
      ranges: (Seq[Double], Seq[Double]),
      levels: Long): org.apache.spark.sql.Column =
    org.apache.spark.sql.GraftColumnBridge.column(graft.plans.SqQuantize(
      org.apache.spark.sql.GraftColumnBridge.expression(v),
      ranges._1, ranges._2, levels))
  private def sqProbe(qv: Seq[Float], ranges: (Seq[Double], Seq[Double]),
      levels: Long): Seq[Double] = {
    val (mns, mxs) = ranges
    qv.indices.map { i =>
      if (mxs(i) > mns(i))
        (BigDecimal((qv(i).toDouble - mns(i)) * levels / (mxs(i) - mns(i)))
          .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
          - levels / 2).toDouble
      else 0d
    }
  }
  /** The rank key of an SQ candidate: the integer dot of its quantized
    * column `q` with the probe's `p<q>`, packed with vec_id. */
  private def sqKey(q: String): org.apache.spark.sql.Column =
    RankKey.pack(call_function("dot_product", col(q), col(s"p$q"))
      .cast("long"), col("vec_id"))

  /** Adaptive RP plane count: max(8, bitlen(n-1) - 3), i.e. 8 planes up to
    * 2048 vectors, then one more plane per corpus doubling — bucket count
    * tracks corpus size so bucket OCCUPANCY (and the self-join's candidate
    * mass) stays bounded instead of growing linearly inside 2^8 fixed
    * buckets. The round-6 100x skew rehearsal measured the fixed-8-plane
    * form at 42x runtime for 10x data (the `% 256` lesson in a new coat);
    * adaptive width restored ~linear growth. Integer-exact and mirrored in
    * SQL as GREATEST(8, length(bin(count(*) - 1)) - 3), so both engines
    * derive the same width at every SF — and at every gate SF the value is
    * exactly 8, leaving gate outputs byte-identical to the fixed form.
    * Near-identical vectors (the dedup signal) agree on almost every
    * hyperplane, so their recall survives the extra planes. */
  private def adaptivePlanes(n: Long): Int = math.max(8, Scale.bitLen(n) - 3)

  /** q88/q92/q111 shared candidate-pair builder: adaptive random-projection
    * buckets, capped bucket-equi self-join, cosine threshold (see q88
    * notes). The 256-per-bucket cap (lowest vec_ids, `rp_cap` metric)
    * cannot engage at gate SF (max bucket occupancy at sf0.1 is 75) but
    * DOES at the 10x replica (3933 rows/side dropped), so the oracle
    * models it too — the round-6 replica gate caught q111/q134 diverging
    * when it didn't. */
  private def rpPairs(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    // Bucket self-join, NOT the q52-style bucket-collect: collect+
    // per-bucket combinations would copy the 64-float embedding into an
    // interpreted HOF struct pair for every candidate (measured 1.6->2.5 s
    // at sf0.1), while the codegen'd join streams the wide vectors through
    // build/probe without per-pair copies. Bucket-collect wins only for
    // NARROW payloads (q52 collects bare doc_ids).
    //
    // The count below is one parquet-metadata job; it sizes the LSH
    // structure (plane count), not the data path.
    val planes = adaptivePlanes(embCount(s, d))
    val withB = emb(s, d).select(col("vec_id"), col("embedding"),
      TextOps.rpBucket(col("embedding"), planes, 64).as("bucket"))
    bucketCosinePairs(Scale.capPerBucket(withB, "rp_cap", Seq("bucket"),
      Seq("vec_id")))
  }

  /** The bucket-equi cosine self-join of q59 and [[rpPairs]]: pairs
    * (id_a < id_b) sharing a bucket whose rounded dot clears 0.15, over
    * an already-bucketed, capped (vec_id, embedding, bucket) frame. The
    * frame is aliased twice, unchanged, so the bucket exchange is reused
    * across build and probe (see Scale.capPerBucket). */
  private def bucketCosinePairs(
      capped: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val a = capped.as("a")
    val b = capped.as("b").hint("shuffle_hash")
    val rdot = round(TextOps.dot(col("a.embedding"), col("b.embedding")), 4) +
      lit(0.0)
    a.join(b, col("a.bucket") === col("b.bucket")
      && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"),
        rdot.as("rdot"))
      .filter(col("rdot") > 0.15)
  }

  /** The MinHash retriever of q52 and q146: verified candidate pairs
    * (id_a < id_b, not distinct) of a (doc_id, k0..k3) signature frame.
    *  - Band rows: one (rec, band, key) row per permutation, band key =
    *    the FULL minhash value (never a fixed-cardinality fold). rec =
    *    (doc_id, k0..k3) rides along so the verify stage needs no join
    *    back to the signatures: 5 longs per doc, inside the
    *    narrow-payload rule.
    *  - Each (band, key) bucket is capped at 256 by rec (observed as
    *    `metric`) BEFORE the gather, so collect_list's per-group buffer
    *    is bounded; a collect-then-slice form would still buffer the
    *    whole mega-cluster in one final-agg task.
    *  - Gather each bucket and pair its members (bucket-collect, not a
    *    self-join: one shuffle of the narrow rows); keep pairs agreeing
    *    on >= 2 of the 4 minhashes (estimated Jaccard >= 0.5; the
    *    oracles apply the same threshold). */
  private def minhashPairs(sig: org.apache.spark.sql.DataFrame,
      metric: String): org.apache.spark.sql.DataFrame = {
    val ks = TextOps.MinhashPerms.indices.map(i => col(s"k$i"))
    val bands = sig.select(struct(col("doc_id") +: ks: _*).as("rec"),
      posexplode(array(ks: _*)).as(Seq("band", "key")))
    val agree = TextOps.MinhashPerms.indices
      .map(i => (col(s"a.k$i") === col(s"b.k$i")).cast("int")).reduce(_ + _)
    Scale.capPerBucket(bands, metric, Seq("band", "key"), Seq("rec"))
      .groupBy("band", "key")
      .agg(sort_array(collect_list(col("rec"))).as("recs"))
      .select(explode(graft.functions.ArrayOps.combinations2(col("recs"),
        fields = Seq("a", "b"))).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .filter(agree >= 2)
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
  }

  /** q54/q119's adjacent-id pair co-group over (doc_id, text) rows: per
    * pair id p, `rs` holds the sorted (role, sh) hashed-shingle sets of
    * docs p (role 0) and p + 1 (role 1); a pair whose second doc is
    * missing has one entry. Pair-reduce instead of a self-join: each doc
    * emits its set into both pairs it belongs to, then one groupBy(pair)
    * recombines the two sides — one scan, ONE shingle computation, one
    * shuffle (the self-join form scans and computes shingles twice, and
    * a lazily-persisted variant races AQE's concurrent map stages into
    * computing the cache twice). The same co-group shape serves
    * arbitrary LSH candidate pairs at 100 TB: emit (pair_key, role) per
    * membership, never broadcast computed shingle tables (their size
    * estimate comes from source parquet bytes and is off by orders of
    * magnitude). collect_list (an ObjectHashAggregate) rather than
    * first(when(...)): array-typed `first` buffers force SortAggregate,
    * which sorts both sides of the exchange; group state is still the
    * pair's two rows. */
  private def adjacentShinglePairs(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    docs.select(col("doc_id"), TextOps.hashedShingles(col("text")).as("sh"))
      .select(explode(array(
        struct(col("doc_id").as("pair"), lit(0).as("role"), col("sh")),
        struct((col("doc_id") - 1).as("pair"), lit(1).as("role"), col("sh"))
      )).as("e")).select(col("e.pair"), col("e.role"), col("e.sh"))
      .groupBy("pair")
      .agg(sort_array(collect_list(struct(col("role"), col("sh")))).as("rs"))

  /** One bucketed side of [[rpPairsSql]] with the adaptive plane count
    * derived in SQL (integer-exact twin of [[adaptivePlanes]]) and the
    * 256-per-bucket cap mirrored (row_number by vec_id — identical to the
    * Spark side's deterministic truncation). */
  private def rpSideSql: String =
    """(SELECT vec_id, embedding, bucket FROM (
      |  SELECT vec_id, embedding, bucket,
      |    row_number() OVER (PARTITION BY bucket ORDER BY vec_id) AS __rk
      |  FROM (SELECT vec_id, embedding,
      |    CAST(list_sum(list_transform(range(0, p.np), j ->
      |      CASE WHEN list_sum(list_transform(range(0, 64), i ->
      |        CAST(embedding[i + 1] AS DOUBLE) *
      |        ((1103515245 * (j * 64 + i) + 12345) % 100003 - 50001)
      |      )) > 0 THEN 1 << j ELSE 0 END)) AS BIGINT) AS bucket
      |  FROM embeddings,
      |    (SELECT GREATEST(8, length(bin(count(*) - 1)) - 3) AS np
      |     FROM embeddings) p) rawb) cappedb
      |WHERE __rk <= 256)""".stripMargin

  /** The oracle-SQL twin of [[bucketCosinePairs]] over the bucketed
    * relation `side`, aliased `a` and `b` (no ORDER BY). */
  private def bucketCosinePairsSql(side: String): String =
    s"""SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      |  round(${OracleSql.dot("a.embedding", "b.embedding")}, 4) + 0
      |    AS rdot
      |FROM $side a
      |JOIN $side b
      |  ON a.bucket = b.bucket AND a.vec_id < b.vec_id
      |WHERE round(${OracleSql.dot("a.embedding", "b.embedding")}, 4) + 0 > 0.15""".stripMargin

  /** The oracle-SQL twin of [[rpPairs]] (no ORDER BY; composable in CTEs),
    * cap included via [[rpSideSql]]. */
  private val rpPairsSql: String = bucketCosinePairsSql(rpSideSql)

  /** Degree bound for connected-components edge input: each id_a of
    * `pairs(id_a, id_b, rdot)` keeps its 32 strongest edges (rdot desc,
    * id_b tie-break — both engine-exact, rdot is rounded to 4). CC needs
    * CONNECTIVITY, not the full thresholded pair graph; a replica family
    * of m near-identical docs otherwise feeds O(m²) edges into every CC
    * round (the round-6 100x rehearsal measured 25x runtime at 10x data).
    * Top-k per node keeps edge mass O(kn) while family members still
    * chain into one component. k = 32, NOT smaller: label propagation
    * pays a round per BFS hop from each component's min node, and the
    * measured k-vs-rounds trade (sf0.1 / 100x-skew CC seconds: k=8
    * 4.7/10.3, k=16 2.8/6.5, k=32 2.4/5.4, unbounded 2.2/110) flattens at
    * 32 — sparser graphs are cheaper per round but pay more rounds.
    * Mirrored EXACTLY in the oracles, so the gate checks these
    * semantics. */
  private def degreeBounded(pairs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    // eager localCheckpoint: CC persists its edge input and re-reads it
    // every propagation round, and a window-bearing cached plan loses
    // AQE's partition coalescing (measured +1.1 s per CC at sf0.1 —
    // same row count, same graph). Cutting lineage to a materialized
    // RDD restores the pre-window CC cost; same lesson as the per-round
    // checkpoints inside GraphOps.
    Scale.topK(pairs, Seq("id_a"), Seq(col("rdot").desc, col("id_b").asc),
        32).drop("__rk")
      .localCheckpoint(true)
  }

  /** The degree-bounded near-dup edges the CC consumers (q92/q111/...)
    * read: [[degreeBounded]] over [[rpPairs]]. */
  private def rpEdges(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    degreeBounded(rpPairs(s, d))

  /** The oracle-SQL twin of [[rpEdges]]. */
  private val rpEdgesSql: String =
    s"""SELECT id_a, id_b, rdot FROM (
      |  SELECT id_a, id_b, rdot,
      |    row_number() OVER (PARTITION BY id_a ORDER BY rdot DESC, id_b)
      |      AS rn
      |  FROM ($rpPairsSql) full_pairs) ranked
      |WHERE rn <= 32""".stripMargin

  /** Each node of [[rpEdges]]'s connected components, selected as `id`,
    * with its component label selected as `label`: the Spark twin of
    * [[rpGroupsSql]]. */
  private def rpGroups(s: org.apache.spark.sql.SparkSession, d: String,
      id: String, label: String): org.apache.spark.sql.DataFrame =
    graft.functions.GraphOps
      .connectedComponents(rpEdges(s, d), "id_a", "id_b")
      .select(col("id").as(id), col("lbl").as(label))

  /** The connected-components oracle over [[rpEdgesSql]]: CTEs `pairs`,
    * `und` and `reach`, then `grp`, each node (selected as `id`, e.g.
    * `id AS vec_id`) with its component label `label`. */
  private def rpGroupsSql(id: String, label: String): String =
    s"""WITH RECURSIVE pairs AS ($rpEdgesSql),
      |${OracleSql.und("pairs")},
      |${OracleSql.reach},
      |grp AS (SELECT $id, min(r) AS $label FROM reach GROUP BY id)""".stripMargin

  /** The oracle-SQL twin of [[boundaryOverlap]] with the real 60-bit
    * hash (q197's pair set, composable — no ORDER BY). */
  private val boundaryPairsSql: String =
    s"""(WITH t AS (
      |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |hk AS (
      |  SELECT doc_id,
      |    list_aggregate(ws[1:3], 'string_agg', ' ') AS head3,
      |    list_aggregate(ws[-3:], 'string_agg', ' ') AS tail3
      |  FROM t WHERE len(ws) >= 6),
      |hh AS (
      |  SELECT doc_id, head3,
      |    ${OracleSql.md560("head3")} AS hh
      |  FROM hk),
      |th AS (
      |  SELECT doc_id, tail3,
      |    ${OracleSql.md560("tail3")} AS th
      |  FROM hk),
      |hc AS (SELECT doc_id, head3, hh,
      |         row_number() OVER (PARTITION BY hh, head3
      |                            ORDER BY doc_id) AS r
      |       FROM hh),
      |tc AS (SELECT doc_id, tail3, th,
      |         row_number() OVER (PARTITION BY th, tail3
      |                            ORDER BY doc_id) AS r
      |       FROM th)
      |SELECT a.doc_id AS pred, b.doc_id AS succ
      |FROM (SELECT * FROM tc WHERE r <= 256) a
      |JOIN (SELECT * FROM hc WHERE r <= 256) b ON a.th = b.hh
      |WHERE a.doc_id <> b.doc_id AND a.tail3 = b.head3)""".stripMargin

  /** Row counts per data dir — q59/q88/q92/q111 each size their LSH
    * structure from one, with one parquet-metadata count job per dir
    * instead of one per query. */
  private val embCount = Tables.perDir((s, d) => emb(s, d).count())
  private val docCount = Tables.perDir((s, d) => docs(s, d).count())

  private val dbl = (c: org.apache.spark.sql.Column) => c.cast("double")

  /** Join strategy for CORPUS-SCALE build sides (the r11 1000x sweep
    * finding): a shuffled hash join pins the whole build partition in an
    * in-memory map, so a build side that grows with the corpus OOMs once
    * corpus/partitions outgrows executor memory (q126's covered-position
    * anti join died at "not enough memory to build hash map", q141's
    * wide shingle-set verify joins took the JVM down) — while sort-merge
    * spills to disk and survives any size. Below 2^18 docs (every gate
    * SF and the 10x replica) shuffle_hash keeps its measured win over
    * SMJ's sorts; above it the only safe plan is merge. Hints never
    * change output, so the gate is untouched; the 100x/1000x replicas
    * exercise the merge path. */
  private def bigJoin(s: org.apache.spark.sql.SparkSession,
      d: String): String =
    if (docCount(s, d) <= 262144L) "shuffle_hash" else "merge"

  val queries: Seq[Q] = Seq(
    // Exact dedup via content digest: representative = min doc_id per
    // digest; groups listed with their sizes.
    Q(
      "q50_dedup_exact",
      """SELECT substr(md5(text), 1, 8) AS fp8, count(*) AS n,
        |       min(doc_id) AS keep_id
        |FROM documents GROUP BY fp8 ORDER BY fp8""".stripMargin
    ) { (s, d) =>
      docs(s, d)
        .groupBy(substring(md5(col("text")), 1, 8).as("fp8"))
        .agg(count(lit(1)).as("n"), min("doc_id").as("keep_id"))
        .orderBy("fp8")
    },

    // MinHash signatures: k=4 permutations simulated as multiply-mod
    // arithmetic over ONE md5 per shingle (not k salted digests), shingles
    // exploded to rows so the min-aggregation gets map-side combine —
    // at 100 TB this is a scan + partial agg, with hashing cost k times
    // cheaper than the naive salted form.
    Q(
      "q51_minhash_sig",
      s"""WITH ${OracleSql.hashedShingleRows("doc_id")}
        |SELECT doc_id,
        |  ${OracleSql.minhashAggs("h", "mh")}
        |FROM hv GROUP BY doc_id ORDER BY doc_id""".stripMargin
    ) { (s, d) =>
      TextOps.minhashSignatures(docs(s, d), Seq("doc_id"), "mh")
        .orderBy("doc_id")
    },

    // LSH near-dup pairs, banded + VERIFIED. Scale shape: ONE md5 per
    // shingle, k permutations as multiply-mod arithmetic over its 32-bit
    // prefix (a 4x hash saving vs salted digests); shingles exploded to
    // rows then min-aggregated (map-side combine). Band key = the FULL
    // minhash value: genuinely similar docs still collide (that IS the
    // LSH signal) while coincidental collisions have probability ~1/4e9.
    // An earlier % 256 folding kept bucket count constant, so bucket
    // occupancy — and pair count — grew super-linearly with corpus size
    // (measured 24x runtime at 10x docs on the /tmp scale replica); with
    // full-width keys the candidate set is the true near-dup pairs and
    // scales linearly.
    //
    // Two output-mass controls on top of the banding (the r5 verdict's
    // remaining flag — candidates were emitted unverified, and a 10x
    // replica grew output 11x):
    //  1. VERIFY stage: each candidate pair's signature agreement is
    //     computed (signatures ride through the bucket-collect as narrow
    //     5-long structs — no join-back) and only pairs agreeing on >= 2
    //     of 4 minhashes (estimated Jaccard >= 0.5) are emitted. The
    //     oracle applies the identical threshold, so the gate stays
    //     exact. At sf0.01 this keeps 32 of 450 candidates.
    //  2. Per-bucket cap: a pathological mega-cluster of m near-identical
    //     docs would still emit O(m²) pairs from its bucket; buckets are
    //     truncated to the first 256 docs (by doc_id — deterministic);
    //     the `q52_cap` observed metric reads max_rank 257 when it cut
    //     a bucket (GraftSession logs it to stderr). The cap cannot
    //     engage at gate SF (max bucket occupancy is 7 at sf0.01) but
    //     does on the 10x-skew replica's mega cluster, so the oracle
    //     models it identically (row_number by doc_id <= 256); at 100 TB
    //     it bounds the worst bucket while the metric makes the
    //     truncation visible.
    Q(
      "q52_lsh_pairs",
      s"""WITH ${OracleSql.hashedShingleRows("doc_id")},
        |${OracleSql.minhashBands}
        |SELECT id_a, id_b
        |FROM cand
        |JOIN sig sa ON sa.doc_id = cand.id_a
        |JOIN sig sb ON sb.doc_id = cand.id_b
        |WHERE ${OracleSql.minhashAgree}
        |ORDER BY id_a, id_b""".stripMargin
    ) { (s, d) =>
      val sig = TextOps.minhashSignatures(docs(s, d), Seq("doc_id"), "k")
      minhashPairs(sig, "q52_cap")
        .distinct()
        .orderBy("id_a", "id_b")
    },

    // 16-bit SimHash per document + Hamming distance to document 0.
    // Scale shape: explode words so md5 runs ONCE per word (the naive
    // per-row form recomputes the digest for each of the 16 bits), then a
    // single groupBy computes all 16 bit-votes as conditional sums
    // (map-side combine; state = 16 ints per doc).
    Q(
      "q53_simhash",
      s"""WITH wr AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
        |hw AS (
        |  SELECT doc_id,
        |    ${OracleSql.md5Int("w", 4)} AS h
        |  FROM wr),
        |votes AS (
        |  SELECT doc_id,
        |    ${(0 until 16).map(b =>
             s"sum(CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS v$b")
             .mkString(", ")}
        |  FROM hw GROUP BY doc_id),
        |sh AS (
        |  SELECT doc_id,
        |    CAST(${(0 until 16).map(b =>
             s"(CASE WHEN v$b > 0 THEN ${1L << b} ELSE 0 END)")
             .mkString(" + ")} AS BIGINT) AS simhash
        |  FROM votes)
        |SELECT s.doc_id, s.simhash,
        |  CAST(bit_count(xor(s.simhash, f.simhash)) AS BIGINT) AS ham0
        |FROM sh s, (SELECT simhash FROM sh WHERE doc_id = 0) f
        |ORDER BY s.doc_id""".stripMargin
    ) { (s, d) =>
      val words = PipelineQueries.docWords(s, d)
      // first 4 md5 hex digits == top 16 bits of the codegen'd
      // md5_prefix64 (first 4 digest bytes): one digest per word, no
      // 32-char hex-string materialization + re-parse (the conv/substring
      // composition was q53's whole hot path — same fix as q51/q46)
      val h = shiftright(call_function("md5_prefix64", col("w")), 16)
        .cast("int")
      val voteCols = (0 until 16).map(b =>
        sum(when(shiftright(col("h"), b) % 2 === 1, 1).otherwise(-1))
          .as(s"v$b"))
      val votes = words.select(col("doc_id"), h.as("h"))
        .groupBy("doc_id")
        .agg(voteCols.head, voteCols.tail: _*)
      val simhash = (0 until 16).map(b =>
        when(col(s"v$b") > 0, lit(1L << b)).otherwise(lit(0L)))
        .reduce(_ + _)
      val withSh = votes.select(col("doc_id"), simhash.as("simhash"))
      val ref = withSh.filter(col("doc_id") === 0)
        .select(col("simhash").as("sim0"))
      withSh.crossJoin(broadcast(ref))
        .select(col("doc_id"), col("simhash"),
          bit_count(col("simhash").bitwiseXOR(col("sim0"))).cast("long")
            .as("ham0"))
        .orderBy("doc_id")
    },

    // N-gram Jaccard near-dup scoring on a bounded candidate set
    // (consecutive doc pairs — in production the LSH candidates feed this).
    Q(
      "q54_jaccard",
      s"""WITH ${OracleSql.shingleSets}
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
        |        len(list_distinct(list_concat(a.sh, b.sh))), 4) AS jac
        |FROM hs a JOIN hs b ON b.doc_id = a.doc_id + 1
        |ORDER BY id_a""".stripMargin
    ) { (s, d) =>
      // Jaccard over HASHED shingles (one codegen'd md5_prefix64 per
      // shingle, both engines hash identically so the oracle stays exact):
      // the pair shuffle then carries array<long> instead of array<string>
      // — ~3x fewer shuffle bytes and GC-light. The string form thrashed
      // the 8g bench heap at the 10x replica (47 s, run-to-run degrading);
      // hashed it is linear. md5_prefix64 keeps 32 bits (first 4 digest
      // bytes), so within a PAIR's combined shingle set of size m the
      // expected collisions are ~m²/2^33 — harmless for per-pair Jaccard
      // at realistic m (thousands), though a corpus-wide distinct over
      // these hashes would need the full 64-bit width.
      adjacentShinglePairs(docs(s, d))
        .filter(size(col("rs")) === 2)
        .select(col("pair").as("id_a"), (col("pair") + 1).as("id_b"),
          round(TextOps.jaccard(
            col("rs").getItem(0).getField("sh"),
            col("rs").getItem(1).getField("sh")), 4).as("jac"))
        .orderBy("id_a")
    },

    // Brute-force cosine top-5 per query vector (the correctness baseline
    // for ANN): queries broadcast against the full embedding table.
    Q(
      "q55_cosine_knn",
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
        |           WHERE vec_id < 3),
        |scored AS (
        |  SELECT q.qid, e.vec_id,
        |    ${OracleSql.cosine("e.embedding", "q.qv")} AS rcos
        |  FROM embeddings e, q WHERE e.vec_id != q.qid),
        |${OracleSql.rcosRanked}
        |SELECT qid, vec_id, rcos FROM ranked WHERE rn <= 5
        |ORDER BY qid, rcos DESC, vec_id""".stripMargin
    ) { (s, d) =>
      val q = RankKey.probeVecs(emb(s, d), col("vec_id") < 3)
      val scored = RankKey.crossProbes(emb(s, d), broadcast(q))
        .select(col("qid"), col("vec_id"), RankKey.rcos)
      RankKey.topScored(scored, "rcos", 5)
        .select("qid", "vec_id", "rcos")
        .orderBy(col("qid"), col("rcos").desc, col("vec_id"))
    },

    // LSH-bucketed ANN (the scale path): sign-bucket on the first 4
    // components (16 buckets), candidates restricted to the query's bucket.
    Q(
      "q56_ann_lsh",
      s"""WITH b AS (
        |  SELECT vec_id, embedding,
        |    ${OracleSql.signBucket("4")} AS bucket
        |  FROM embeddings),
        |q AS (SELECT vec_id AS qid, embedding AS qv, bucket FROM b
        |      WHERE vec_id < 5),
        |scored AS (
        |  SELECT q.qid, b.vec_id, b.bucket,
        |    round(${OracleSql.dot("b.embedding", "q.qv")}, 4) + 0
        |      AS rdot
        |  FROM b JOIN q ON b.bucket = q.bucket AND b.vec_id != q.qid),
        |ranked AS (
        |  SELECT qid, vec_id, bucket, rdot,
        |    row_number() OVER (PARTITION BY qid ORDER BY rdot DESC, vec_id) AS rn
        |  FROM scored)
        |SELECT qid, vec_id, bucket, rdot FROM ranked WHERE rn <= 3
        |ORDER BY qid, rdot DESC, vec_id""".stripMargin
    ) { (s, d) =>
      val withB = emb(s, d).select(col("vec_id"), col("embedding"),
        TextOps.signBucket(col("embedding"), 4).as("bucket"))
      val q = withB.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"),
          col("bucket").as("qbucket"))
      val scored = withB.join(broadcast(q),
        col("bucket") === col("qbucket") && col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id"), col("bucket"),
          RankKey.round4(TextOps.dot(col("embedding"), col("qv"))).as("rdot"))
      RankKey.topScored(scored, "rdot", 3)
        .select("qid", "vec_id", "bucket", "rdot")
        .orderBy(col("qid"), col("rdot").desc, col("vec_id"))
    },

    // IVF-style ANN: coarse quantizer = 8 deterministic centroids; every
    // vector is assigned to its nearest centroid (one scan, shuffle-free
    // per row); a query probes its nprobe=2 nearest cells and ranks only
    // those candidates. At 100 TB the assignment is a write-once partition
    // key and each probe touches ~nprobe/nlist of the data.
    Q(
      "q58_ivf_ann",
      s"""WITH cent AS (
        |  SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id < 8),
        |dots AS (
        |  SELECT e.vec_id, c.cid,
        |    ${OracleSql.dot("e.embedding", "c.cv")} AS dot
        |  FROM embeddings e, cent c),
        |${OracleSql.ivfProbes("dots", "10, 11, 12")},
        |${OracleSql.cellCand("cand")},
        |scored AS (
        |  SELECT c.qid, c.vec_id,
        |    round(${OracleSql.dot("e.embedding", "q.embedding")}, 4) + 0
        |      AS rdot
        |  FROM cand c
        |  JOIN embeddings e ON e.vec_id = c.vec_id
        |  JOIN embeddings q ON q.vec_id = c.qid)
        |SELECT qid, vec_id, rdot FROM (
        |  SELECT qid, vec_id, rdot,
        |    row_number() OVER (PARTITION BY qid ORDER BY rdot DESC, vec_id) AS rn
        |  FROM scored) t WHERE rn <= 3
        |ORDER BY qid, rdot DESC, vec_id""".stripMargin
    ) { (s, d) =>
      val e = emb(s, d)
      val cent = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("cid"), col("embedding").as("cv"))
      val dots = e.crossJoin(broadcast(cent))
        .select(col("vec_id"), col("cid"),
          TextOps.dot(col("embedding"), col("cv")).as("dot"))
      // assignment as a max_by AGGREGATE (map-side partial combine) rather
      // than a window rank — at scale the window would shuffle+sort all
      // N x nlist scored rows; the aggregate shuffles one partial per
      // (partition, vector). Ties break to the smaller centroid id.
      val assign = dots.groupBy("vec_id")
        .agg(max_by(col("cid"), struct(col("dot"), -col("cid"))).as("cid"))
      val probes = RankKey.ivfProbes(dots, col("vec_id").isin(10, 11, 12))
        .select(col("vec_id").as("qid"), col("cid"))
      val cand = probes.join(assign.withColumnRenamed("vec_id", "cand_id"), "cid")
        .filter(col("cand_id") =!= col("qid"))
      val scored = cand
        .join(e.select(col("vec_id").as("cand_id"), col("embedding").as("ev")),
          "cand_id")
        .join(broadcast(RankKey.probeVecs(e, col("vec_id").isin(10, 11, 12))),
          "qid")
        .select(col("qid"), col("cand_id").as("vec_id"),
          RankKey.round4(TextOps.dot(col("ev"), col("qv"))).as("rdot"))
      RankKey.topScored(scored, "rdot", 3)
        .select("qid", "vec_id", "rdot")
        .orderBy(col("qid"), col("rdot").desc, col("vec_id"))
    },

    // Embedding-cosine near-duplicate pairs from LSH buckets (the fourth
    // dedup flavor): candidates restricted to a shared sign-bucket, kept
    // when similarity clears a threshold. Sign-bit count is ADAPTIVE
    // (max(6, bitlen(n-1) - 5) — exactly 6 at every gate SF, one more bit
    // per corpus doubling beyond 4096 vectors) and buckets are capped at
    // 256 members (q52 doctrine; mirrored in the oracle — cannot engage
    // at gate SF where max occupancy is 46, but does on big replicas):
    // the fixed-6-bit form measured 40x runtime for 10x data on the
    // round-6 100x skew rehearsal — 64 fixed buckets are the `% 256`
    // lesson again.
    Q(
      "q59_cosine_dups",
      s"""WITH braw AS (
        |  SELECT vec_id, embedding,
        |    ${OracleSql.signBucket("p.nb")} AS bucket
        |  FROM embeddings,
        |    (SELECT GREATEST(6, length(bin(count(*) - 1)) - 5) AS nb
        |     FROM embeddings) p),
        |b AS (
        |  SELECT vec_id, embedding, bucket FROM (
        |    SELECT vec_id, embedding, bucket,
        |      row_number() OVER (PARTITION BY bucket ORDER BY vec_id) AS rk
        |    FROM braw) t WHERE rk <= 256)
        |${bucketCosinePairsSql("b")}
        |ORDER BY id_a, id_b""".stripMargin
    ) { (s, d) =>
      // No persist: signBucket is a handful of element_at's per row —
      // recomputing per join side beats cache traffic (see q54 note).
      val bits = math.max(6, Scale.bitLen(embCount(s, d)) - 5)
      val withB = emb(s, d).select(col("vec_id"), col("embedding"),
        TextOps.signBucket(col("embedding"), bits).as("bucket"))
      bucketCosinePairs(Scale.capPerBucket(withB, "q59_cap", Seq("bucket"),
          Seq("vec_id")))
        .orderBy("id_a", "id_b")
    },

    // Random-projection LSH near-dup pairs — the general-position upgrade
    // of q59's axis-aligned buckets (Charikar SimHash for vectors:
    // P(bit flip) = angle/pi). Hyperplane coefficients come from one
    // integer LCG step per (plane, dim) — see TextOps.rpCoef — so Spark
    // and the oracle derive bit-identical planes with no RNG seed to
    // share. Same scale shape as q59: bucket-equi-join, never all-pairs.
    Q(
      "q88_rp_neardup",
      // The oracle is the shared rpPairsSql twin — adaptive plane count
      // AND the 256-per-bucket cap, exactly what the Spark side runs (an
      // earlier fixed-8-plane inline form matched at every gate SF but
      // diverged on the 10x replica where adaptivity and the cap engage).
      s"""SELECT id_a, id_b, rdot FROM ($rpPairsSql) pairs
        |ORDER BY id_a, id_b""".stripMargin
    ) { (s, d) =>
      rpPairs(s, d).orderBy("id_a", "id_b")
    },

    // Near-dup GROUPS: connected components over the q88 candidate pairs —
    // the tail of the dedup pipeline (pairs -> groups -> keep the group's
    // canonical min id). Spark side: Pregel-style min-label propagation
    // (GraphOps.connectedComponents, one shuffle join per round, converges
    // at the exact fixpoint); oracle: DuckDB recursive-CTE reachability +
    // min. Both are exact, so they agree row-for-row.
    Q(
      "q92_dedup_groups",
      s"""WITH RECURSIVE pairs AS ($rpEdgesSql),
        |${OracleSql.und("pairs")},
        |${OracleSql.reach}
        |SELECT id AS vec_id, min(r) AS group_id FROM reach
        |GROUP BY id ORDER BY vec_id""".stripMargin
    ) { (s, d) =>
      rpGroups(s, d, "vec_id", "group_id").orderBy("vec_id")
    },

    // Canonical-document selection per near-dup group — the step after
    // q92: of each connected component, KEEP the best-quality member
    // (longest document; ties -> min id), not the arbitrary min-id one.
    // Spark shape: scalar hash-agg for (max len, count), then join back
    // and hash-agg min(id) among the maximizers — same shape as the
    // oracle. A one-pass max(struct(len, -id)) was measured and rejected:
    // the struct-typed buffer forces SortAggregate (full sort of every
    // member row per partition); the join-back keeps both aggregates
    // HashAggregate and the per-group rows it re-touches are the same
    // rows the sort would have sorted.
    Q(
      "q111_canonical_docs",
      s"""${rpGroupsSql("id AS vec_id", "group_id")},
        |qual AS (SELECT doc_id AS vec_id, n_chars FROM documents),
        |best AS (SELECT g.group_id, max(q.n_chars) AS best_len,
        |           CAST(count(*) AS BIGINT) AS n_members
        |         FROM grp g JOIN qual q USING (vec_id) GROUP BY g.group_id)
        |SELECT b.group_id, b.n_members, b.best_len,
        |  min(g.vec_id) AS canonical_id
        |FROM best b JOIN grp g USING (group_id) JOIN qual q ON g.vec_id = q.vec_id
        |WHERE q.n_chars = b.best_len
        |GROUP BY b.group_id, b.n_members, b.best_len
        |ORDER BY group_id""".stripMargin
    ) { (s, d) =>
      val grp = rpGroups(s, d, "vec_id", "group_id")
      val qual = docs(s, d)
        .select(col("doc_id").as("vec_id"), col("n_chars"))
      // r14: ONE fused aggregate (count + max + canonPick argmax) over
      // the member table, replacing the two-hash-agg join-back that
      // computed members twice (PLANS.md's old 34-node plan: two
      // grp BHJ docs subtrees feeding an SMJ). Tie-break identical to
      // the oracle's min(vec_id) WHERE n_chars = best_len.
      val members = grp.join(qual, "vec_id")
      members.groupBy("group_id")
        .agg(count(lit(1)).as("n_members"),
          max(col("n_chars")).as("best_len"),
          canonPick(col("n_chars"), col("vec_id")).as("canonical_id"))
        .select(col("group_id"), col("n_members"), col("best_len"),
          col("canonical_id"))
        .orderBy("group_id")
    },

    // Leakage-guarded train/val/test split — the reason dedup groups
    // exist: a random per-doc split leaks near-duplicates of training
    // docs into eval. Here the split key is the doc's connected-component
    // label (singletons fall back to their own id), so an entire near-dup
    // group lands in ONE split by construction; the 80/10/10 assignment
    // is the established rank-free integer hash (functions/Mixing
    // constants — one map stage, no per-split shuffle). Same CC machinery
    // as q92/q111 (degree-bounded edges, checkpointed rounds); the only
    // additions are a left join of all ids onto the group labels and a
    // per-row hash — both scale-free.
    Q(
      "q134_group_split",
      s"""${rpGroupsSql("id AS vec_id", "group_id")},
        |base AS (
        |  SELECT e.vec_id, coalesce(g.group_id, e.vec_id) AS group_id
        |  FROM embeddings e LEFT JOIN grp g USING (vec_id)),
        |h AS (SELECT vec_id, group_id,
        |        ${OracleSql.mix("group_id")} % 10
        |        AS b FROM base)
        |SELECT vec_id, group_id,
        |  CASE WHEN b < 8 THEN 'train' WHEN b = 8 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM h ORDER BY vec_id""".stripMargin
    ) { (s, d) =>
      import graft.functions.Mixing
      val grp = rpGroups(s, d, "vec_id", "group_id")
      val base = emb(s, d).select(col("vec_id"))
        .join(grp.hint("shuffle_hash"), Seq("vec_id"), "left")
        .select(col("vec_id"),
          coalesce(col("group_id"), col("vec_id")).as("group_id"))
      base
        .withColumn("b", expr(
          s"(group_id % ${Mixing.HashMod}) * ${Mixing.HashMul}" +
          s" % ${Mixing.HashMod} % 10"))
        .select(col("vec_id"), col("group_id"),
          when(col("b") < 8, "train").when(col("b") === 8, "val")
            .otherwise("test").as("split"))
        .orderBy("vec_id")
    },

    // Capstone pipeline: the composed training-data flow — quality filter
    // -> MinHash bucket dedup (keep min doc per bucket) -> join embeddings
    // -> per-language corpus stats. One shuffle per stage boundary; every
    // per-row step is scan-local.
    Q(
      "q81_pipeline",
      s"""WITH toks AS (
        |  SELECT doc_id, lang, string_split(text, ' ') AS ws FROM documents),
        |quality AS (
        |  SELECT doc_id, lang, len(ws) AS nw FROM toks WHERE len(ws) >= 30),
        |shr AS (
        |  SELECT t.doc_id, unnest(list_transform(range(1, len(t.ws) - 1),
        |           i -> array_to_string(t.ws[i:i+2], ' '))) AS s
        |  FROM toks t JOIN quality q ON q.doc_id = t.doc_id),
        |hv AS (
        |  SELECT doc_id,
        |    ${OracleSql.md5Int("s")} AS h
        |  FROM shr),
        |sig AS (
        |  SELECT doc_id, min(${OracleSql.minhashPerm("h", 0)}) AS bucket
        |  FROM hv GROUP BY doc_id),
        |kept AS (
        |  SELECT bucket, min(doc_id) AS doc_id FROM sig GROUP BY bucket),
        |enriched AS (
        |  SELECT q.lang, q.nw,
        |    sqrt(list_sum(list_transform(e.embedding,
        |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
        |  FROM kept k
        |  JOIN quality q ON q.doc_id = k.doc_id
        |  JOIN embeddings e ON e.vec_id = k.doc_id)
        |SELECT lang, count(*) AS n_kept,
        |  round(avg(CAST(nw AS DOUBLE)), 2) AS avg_words,
        |  round(avg(nrm), 4) AS avg_norm
        |FROM enriched GROUP BY lang ORDER BY lang""".stripMargin
    ) { (s, d) =>
      val toks = docs(s, d).select(col("doc_id"), col("lang"),
        TextOps.tokens(col("text")).as("ws"))
      val quality = toks.filter(size(col("ws")) >= 30)
        .select(col("doc_id"), col("lang"), size(col("ws")).as("nw"))
      val shingleRows = toks
        .join(quality.select("doc_id"), "doc_id")
        .select(col("doc_id"),
          explode(TextOps.shingles(col("ws"), 3)).as("sh"))
      val h = call_function("md5_prefix64", col("sh"))
      val sig = shingleRows.select(col("doc_id"), h.as("h"))
        .groupBy("doc_id")
        // full-width minhash as the dedup key (same rationale as q52:
        // folding to a fixed bucket count over-collapses as the corpus
        // grows — at 10x docs a % 1024 key kept at most 1024 documents)
        .agg(min(TextOps.minhashPerm(col("h"), 0)).as("bucket"))
      val kept = sig.groupBy("bucket").agg(min("doc_id").as("doc_id"))
      val enriched = kept
        .join(quality, "doc_id")
        .join(emb(s, d).select(col("vec_id").as("doc_id"),
          TextOps.norm(col("embedding")).as("nrm")), "doc_id")
      enriched.groupBy("lang")
        .agg(count(lit(1)).as("n_kept"),
          round(avg(col("nw").cast("double")), 2).as("avg_words"),
          round(avg("nrm"), 4).as("avg_norm"))
        .orderBy("lang")
    },

    // Embedding near-dup histogram: distribution of rounded cosine between
    // consecutive vectors (bounded deterministic candidate set).
    Q(
      "q57_cosine_hist",
      s"""SELECT CAST(floor(rcos * 10) AS BIGINT) AS bucket, count(*) AS n
        |FROM (
        |  SELECT round(${OracleSql.dot("a.embedding", "b.embedding")}, 4) + 0
        |         AS rcos
        |  FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1) t
        |GROUP BY bucket ORDER BY bucket""".stripMargin
    ) { (s, d) =>
      val a = emb(s, d).as("a")
      val b = emb(s, d).as("b")
      a.join(b, col("b.vec_id") === col("a.vec_id") + 1)
        .select((round(TextOps.dot(col("a.embedding"), col("b.embedding")), 4) + lit(0.0))
          .as("rcos"))
        .groupBy(floor(col("rcos") * 10).cast("long").as("bucket"))
        .agg(count(lit(1)).as("n"))
        .orderBy("bucket")
    },

    // Asymmetric CONTAINMENT scoring on the bounded candidate frame
    // (consecutive pairs, the q54 stand-in for LSH candidates): a short
    // doc quoted inside a long one scores |A∩B|/|A| ≈ 1 while symmetric
    // Jaccard stays small — the signal quote/boilerplate dedup needs.
    // Same pair-reduce shape as q54 (one scan, one shingle computation,
    // one shuffle, two-row group state); the intersection size appears in
    // three output expressions — three evaluations of a ~60-element
    // array_intersect, a bounded constant, not the q104 struct trap.
    Q(
      "q119_containment",
      s"""WITH ${OracleSql.shingleSets}
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(len(a.sh) AS BIGINT) AS n_a, CAST(len(b.sh) AS BIGINT) AS n_b,
        |  CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) AS n_common,
        |  round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(a.sh), 4)
        |    AS cont_a,
        |  round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(b.sh), 4)
        |    AS cont_b
        |FROM hs a JOIN hs b ON b.doc_id = a.doc_id + 1
        |WHERE len(a.sh) > 0 AND len(b.sh) > 0
        |ORDER BY id_a""".stripMargin
    ) { (s, d) =>
      val sa = col("rs").getItem(0).getField("sh")
      val sb = col("rs").getItem(1).getField("sh")
      val common = size(array_intersect(sa, sb))
      adjacentShinglePairs(docs(s, d))
        .filter(size(col("rs")) === 2 &&
          size(sa) > 0 && size(sb) > 0)
        .select(col("pair").as("id_a"), (col("pair") + 1).as("id_b"),
          size(sa).cast("long").as("n_a"), size(sb).cast("long").as("n_b"),
          common.cast("long").as("n_common"),
          round(common.cast("double") / size(sa), 4).as("cont_a"),
          round(common.cast("double") / size(sb), 4).as("cont_b"))
        .orderBy("id_a")
    },

    // Incremental (corpus-vs-corpus) near-dup scan: flag each NEW doc
    // (source <> 'src0') whose MinHash signature agrees with some OLD doc
    // (source = 'src0') on >= 2 of 4 permutations — the "dedup the fresh
    // crawl against the existing corpus" step, which is how dedup actually
    // runs in production (nobody re-pairs 100 TB from scratch per crawl).
    // Scale shape: ONE signature pass over the union (the q51/q52
    // pipeline: codegen'd md5_prefix64 + arithmetic permutations,
    // map-side-combined min agg) -> explode to full-width (band, mh) keys
    // (never a fixed-cardinality fold) -> new-vs-old equi-join with the
    // OLD side per-bucket-capped at 256 (q52 doctrine: a mega-cluster
    // bucket otherwise multiplies every matching new doc by m old docs;
    // deterministic lowest-doc_id keep, `q116_cap` observed metric,
    // mirrored in the oracle — cannot engage at gate SF, where old-side
    // band buckets hold <= 2 docs at sf0.1, but does on big replicas).
    // Neither side broadcasts: both are SF-scaled. Per-(new, old) agree
    // counts are bounded by 4; output is linear in the flagged mass.
    Q(
      "q116_incremental_dedup",
      s"""WITH ${OracleSql.hashedShingleRows("doc_id, source")},
        |sig AS (
        |  SELECT doc_id, source,
        |    ${OracleSql.minhashAggs("h", "k")}
        |  FROM hv GROUP BY doc_id, source),
        |bands AS (
        |  SELECT doc_id, source, b.band,
        |    CASE b.band WHEN 0 THEN k0 WHEN 1 THEN k1
        |      WHEN 2 THEN k2 ELSE k3 END AS mh
        |  FROM sig CROSS JOIN (SELECT unnest(range(0, 4)) AS band) b),
        |oldc AS (
        |  SELECT doc_id, band, mh FROM (
        |    SELECT doc_id, band, mh,
        |      row_number() OVER (PARTITION BY band, mh ORDER BY doc_id)
        |        AS rk
        |    FROM bands WHERE source = 'src0') t WHERE rk <= 256),
        |cand AS (
        |  SELECT n.doc_id AS new_id, o.doc_id AS old_id, count(*) AS agree
        |  FROM bands n JOIN oldc o ON n.band = o.band AND n.mh = o.mh
        |  WHERE n.source <> 'src0'
        |  GROUP BY 1, 2)
        |SELECT new_id, min(old_id) AS dup_of,
        |  CAST(max(agree) AS BIGINT) AS max_agree
        |FROM cand WHERE agree >= 2 GROUP BY new_id
        |ORDER BY new_id""".stripMargin
    ) { (s, d) =>
      val sig = TextOps.minhashSignatures(docs(s, d),
        Seq("doc_id", "source"), "k")
      val bands = sig.select(col("doc_id"), col("source"),
        posexplode(array(col("k0"), col("k1"), col("k2"), col("k3")))
          .as(Seq("band", "mh")))
      val newB = bands.filter(col("source") =!= "src0")
        .select(col("doc_id").as("new_id"), col("band"), col("mh"))
      val oldCapped = Scale.capPerBucket(
          bands.filter(col("source") === "src0"), "q116_cap",
          Seq("band", "mh"), Seq("doc_id"))
        .select(col("doc_id").as("old_id"), col("band"), col("mh"))
      newB.join(oldCapped.hint("shuffle_hash"), Seq("band", "mh"))
        .groupBy("new_id", "old_id")
        .agg(count(lit(1)).as("agree"))
        .filter(col("agree") >= 2)
        .groupBy("new_id")
        .agg(min(col("old_id")).as("dup_of"),
          max(col("agree")).cast("long").as("max_agree"))
        .orderBy("new_id")
    },

    // SemDeDup (Abbas et al. 2023): cluster-scoped semantic near-dup
    // pairs — k-means-assign every embedding to its nearest seed centroid,
    // then search for high-cosine pairs ONLY within a cluster. The cluster
    // scope is what makes semantic dedup tractable at corpus scale: the
    // pair search is O(Σ cluster²) instead of O(n²), and K grows with the
    // corpus (adaptive-width doctrine: K = 2^clamp(3, 10,
    // bitlen(n-1) - 6), mirrored integer-exactly in SQL via
    // length(bin(count(*) - 1)) — 8 at sf0.001/0.01 so gate outputs match
    // the fixed-K form, 32 at sf0.1, 1024 from ~64k vectors), keeping
    // expected cluster occupancy — and so candidate mass per cluster —
    // bounded as n grows. Membership additionally caps at 256 per cluster
    // (lowest vec_ids, observed metric), and the cap IS modeled in the
    // oracle, so the gate checks the capped semantics.
    //
    // Cross-engine exactness: vectors quantize to round(x*1e4) BIGINT once
    // (q118's doctrine). Assignment distance is the dot identity on
    // v' = v/1e4 doubles (every op exactly rounded, identical in both
    // engines); pair similarity is cosine over the INTEGER vectors — the
    // dot_product kernel on integer-valued doubles is exact (|Σ| < 2^53),
    // so dot/(√aa·√bb) is the same exactly-rounded IEEE sequence as the
    // oracle's HUGEINT-cast form. Assignment is TWO-LEVEL (coarse cell →
    // fine seeds, see inline note): the standard IVF probe once K
    // outgrows the 32 coarse cells, degenerate-to-flat at every gate SF.
    // Each argmin is ONE fused ObjectHashAggregate (ArgMinAgg: min sid
    // at min dist in a scalar buffer, candidate set evaluated once) —
    // never min_by/min(struct), which buffer structs and force
    // SortAggregate.
    // The self-join keeps ONE capped subtree aliased twice (exchange
    // reuse) and streams the wide vectors through a codegen'd
    // shuffle-hash join (bucket-collect is for narrow payloads only).
    Q(
      "q121_semdedup", {
      def dist(a: String, b: String) =
        OracleSql.dot64(OracleSql.scaled(a), OracleSql.scaled(b))
      def dot(a: String, b: String) =
        s"CAST(${OracleSql.dot64(s"$a.v[i]", s"$b.v[i]")} AS DOUBLE)"
      val cos = s"${dot("a", "b")} /\n    " +
        s"(sqrt(${dot("a", "a")}) * sqrt(${dot("b", "b")}))"
      val vv = "list_sum(list_transform(v, x ->\n" +
        "      (CAST(x AS DOUBLE) / 10000.0) * (CAST(x AS DOUBLE) / 10000.0)))"
      s"""WITH p AS (SELECT (CAST(1 AS BIGINT) <<
        |    CAST(GREATEST(3, LEAST(10, length(bin(count(*) - 1)) - 6))
        |      AS INTEGER)) AS k FROM embeddings),
        |ei AS (SELECT vec_id,
        |    ${OracleSql.scaledInts} AS v
        |  FROM embeddings),
        |ei2 AS (SELECT vec_id, v, $vv AS vv FROM ei),
        |seeds AS (SELECT vec_id AS sid, v AS c, $vv AS cc
        |  FROM ei, p WHERE vec_id < p.k),
        |coarse AS (SELECT sid AS cid, c AS gc, cc AS gcc
        |  FROM seeds, p WHERE sid < LEAST(16, p.k)),
        |scell AS (SELECT sid, cid AS cell FROM (
        |  SELECT s.sid, g.cid, row_number() OVER (PARTITION BY s.sid
        |    ORDER BY s.cc - 2 * ${dist("s.c", "g.gc")} + g.gcc, g.cid) AS rn
        |  FROM seeds s CROSS JOIN coarse g) t WHERE rn = 1),
        |vcell AS (SELECT vec_id, cid AS cell FROM (
        |  SELECT e.vec_id, g.cid, row_number() OVER (PARTITION BY e.vec_id
        |    ORDER BY e.vv - 2 * ${dist("e.v", "g.gc")} + g.gcc, g.cid) AS rn
        |  FROM ei2 e CROSS JOIN coarse g) t WHERE rn = 1),
        |assigned AS (SELECT vec_id, sid AS cluster FROM (
        |  SELECT e.vec_id, s.sid, row_number() OVER (PARTITION BY e.vec_id
        |    ORDER BY e.vv - 2 * ${dist("e.v", "s.c")} + s.cc, s.sid) AS rn
        |  FROM ei2 e
        |  JOIN vcell ON e.vec_id = vcell.vec_id
        |  JOIN scell ON scell.cell = vcell.cell
        |  JOIN seeds s ON s.sid = scell.sid) t WHERE rn = 1),
        |capped AS (SELECT * FROM (
        |  SELECT a.cluster, e.vec_id, e.v,
        |    row_number() OVER (PARTITION BY a.cluster ORDER BY a.vec_id)
        |      AS mrk
        |  FROM assigned a JOIN ei e USING (vec_id)) m WHERE mrk <= 256)
        |SELECT cluster, a.vec_id AS id_a, b.vec_id AS id_b,
        |  round($cos, 4) + 0 AS sim
        |FROM capped a JOIN capped b USING (cluster)
        |WHERE a.vec_id < b.vec_id AND $cos >= 0.40
        |ORDER BY cluster, id_a, id_b""".stripMargin
    }
    ) { (s, d) =>
      val n = embCount(s, d)
      val k = 1L << math.max(3, math.min(10, Scale.bitLen(n) - 6))
      // vd = exact integer values as doubles; vs = vd/1e4 (the assignment
      // space); both are plain projected columns so the HOFs run once
      val ei = emb(s, d).select(col("vec_id"),
          RankKey.scaledInts.as("v"))
        .select(col("vec_id"),
          transform(col("v"), _.cast("double")).as("vd"))
        .select(col("vec_id"), col("vd"),
          transform(col("vd"), _ / 10000.0).as("vs"))
      val seeds = ei.filter(col("vec_id") < k)
        .select(col("vec_id").as("sid"), col("vs").as("cs"))
        .withColumn("cc", TextOps.dot(col("cs"), col("cs")))
      // Two-level IVF assignment: vectors first pick one of ≤16 coarse
      // cells, then argmin only over the fine seeds mapped to that cell —
      // O(n·16 + n·K/16) distance work instead of O(n·K). When K ≤ 16
      // the hierarchy is provably identical to the flat argmin (coarse =
      // all seeds; every seed's nearest coarse is itself, dist exactly
      // 0.0: cc - 2·dot(cs,cs) + cc with dot(cs,cs) ≡ cc; duplicate seed
      // vectors collapse to the same min-sid under both forms), so Spark
      // takes the cheaper single-stage flat plan there — sf0.001/0.01
      // outputs are byte-identical either way, while sf0.1 (K = 32) runs
      // and GATE-CHECKS the hierarchical path against the oracle's
      // two-stage CTEs. Measured 140 s -> 29 s at the 100x replica (200k
      // vectors, K = 1024), where the flat n·K crossJoin — evaluated
      // twice by the two-hash-agg argmin — was the dominant cost.
      val cNum = math.min(16L, k)
      val coarse = seeds.filter(col("sid") < cNum)
        .select(col("sid").as("cid"), col("cs").as("gcs"), col("cc").as("gcc"))
      // Single-pass fused argmin (Aggregators.ArgMinAgg): ONE groupBy
      // whose ObjectHashAggregate keeps (min dist, min value at that
      // dist) in a 17-byte buffer — the candidate crossJoin is evaluated
      // exactly once. The previous two-hash-agg form (min dist, join
      // back, min value) evaluated the candidate set TWICE (the r12
      // verdict's last acknowledged double-eval; PLANS.md showed the
      // BroadcastNestedLoopJoin Cross pair). Never min_by/min(struct):
      // struct buffers force SortAggregate over the n·k pair stream.
      // Tie-break (min value at equal dist) matches the oracle's
      // row_number ORDER BY dist, id exactly — A/B'd at sf0.1 AND the
      // 100x replica per the q240 rule before adopting.
      // Candidates are scored by the squared distance xx - 2·x·c + cc
      // of each (key vector x, value vector c) with their norms.
      def argmin(cands: org.apache.spark.sql.DataFrame, key: String,
          value: String, out: String, xx: String, x: String, c: String,
          cc: String): org.apache.spark.sql.DataFrame =
        cands.select(col(key), col(value),
            (col(xx) - lit(2.0) * TextOps.dot(col(x), col(c))
              + col(cc)).as("dist"))
          .groupBy(key).agg(graft.functions.Aggregators
            .argMin(col("dist"), col(value).cast("long")).as(out))
      val ei2 = ei.withColumn("vv", TextOps.dot(col("vs"), col("vs")))
      val assigned = if (k <= cNum) {
        argmin(ei2.crossJoin(broadcast(seeds)),
          "vec_id", "sid", "cluster", "vv", "vs", "cs", "cc")
      } else {
        val scell = argmin(seeds.crossJoin(broadcast(coarse)),
          "sid", "cid", "cell", "cc", "cs", "gcs", "gcc")
        val vcell = argmin(ei2.crossJoin(broadcast(coarse)),
          "vec_id", "cid", "cell", "vv", "vs", "gcs", "gcc")
        val cellSeeds = seeds.join(scell, "sid")
          .select(col("cell"), col("sid"), col("cs"), col("cc"))
        argmin(ei2.join(vcell, "vec_id").join(broadcast(cellSeeds), "cell"),
          "vec_id", "sid", "cluster", "vv", "vs", "cs", "cc")
      }
      // norms hoist to one per member (vs one per PAIR side in the naive
      // form): sqrt(dot(vd,vd)) is the identical exactly-rounded value
      // wherever it evaluates, so the oracle's per-pair sqrt(aa)*sqrt(bb)
      // still matches bit-for-bit — measured 2.3x on the pair stage at the
      // 100x replica, where the within-cluster join emits ~39M candidates
      val capped = Scale.capPerBucket(assigned.join(ei, "vec_id"),
          "semdedup_cap", Seq("cluster"), Seq("vec_id"))
        .select(col("cluster"), col("vec_id"), col("vd"),
          sqrt(TextOps.dot(col("vd"), col("vd"))).as("norm"))
      val a = capped.as("a")
      val b = capped.as("b").hint("shuffle_hash")
      val cos = TextOps.dot(col("a.vd"), col("b.vd")) /
        (col("a.norm") * col("b.norm"))
      a.join(b, col("a.cluster") === col("b.cluster")
          && col("a.vec_id") < col("b.vec_id"))
        .select(col("a.cluster").as("cluster"),
          col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"),
          cos.as("cosr"))
        .filter(col("cosr") >= 0.40)
        .select(col("cluster"), col("id_a"), col("id_b"),
          (round(col("cosr"), 4) + lit(0.0)).as("sim"))
        .orderBy("cluster", "id_a", "id_b")
    },

    // Duplicated-span REMOVAL (the exact-substring dedup of Lee et al.
    // 2022 / RefinedWeb, at 5-gram granularity): q115 only SCORES the
    // fraction of cross-doc duplicated 5-grams — this query actually
    // rewrites the corpus, dropping every token covered by a 5-gram that
    // occurs in >= 2 distinct documents, and emits the cleaned text's md5
    // plus before/after token counts. Scale shape: one tokenize ->
    // positional 5-gram hashes (i64 via md5_prefix64 BEFORE any exchange,
    // the q54/q109 lesson) -> distinct-per-doc df hash-agg -> gram-keyed
    // join back -> covered positions via a bounded x5 sequence explode ->
    // (doc, idx)-keyed LEFT ANTI against the token stream -> per-doc
    // reassembly with ONE bounded collect_list (sorted by position).
    // Everything is linear in corpus size; the only per-doc state is the
    // kept-token list, bounded by document length. n_tokens is derived
    // from the already-exploded token stream (partial+final count) so the
    // documents table is scanned exactly twice (tokens + shingles), not
    // three times.
    Q(
      "q126_dup_span_removal",
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws
        |           FROM documents),
        |tok AS (
        |  SELECT doc_id, i AS idx, ws[i] AS w
        |  FROM t, unnest(range(1, len(ws) + 1)) AS u(i)),
        |sh AS (
        |  SELECT doc_id, i AS start,
        |    ${OracleSql.md5Int("array_to_string(ws[i:i+4], ' ')")} AS g
        |  FROM t, unnest(range(1, len(ws) - 3)) AS u(i)
        |  WHERE len(ws) >= 5),
        |dfd AS (SELECT g FROM (SELECT DISTINCT doc_id, g FROM sh)
        |        GROUP BY g HAVING count(*) >= 2),
        |cov AS (SELECT DISTINCT s.doc_id, c.idx
        |        FROM sh s JOIN dfd USING (g),
        |             unnest(range(s.start, s.start + 5)) AS c(idx)),
        |kept AS (SELECT tok.doc_id, tok.idx, tok.w FROM tok
        |         ANTI JOIN cov
        |         ON tok.doc_id = cov.doc_id AND tok.idx = cov.idx),
        |base AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens
        |         FROM tok GROUP BY doc_id),
        |k AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
        |        md5(string_agg(w, ' ' ORDER BY idx)) AS clean_md5
        |      FROM kept GROUP BY doc_id)
        |SELECT b.doc_id, b.n_tokens,
        |  CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept,
        |  coalesce(k.clean_md5, md5('')) AS clean_md5
        |FROM base b LEFT JOIN k USING (doc_id)
        |ORDER BY b.doc_id""".stripMargin
    ) { (s, d) =>
      val tok = docs(s, d).select(col("doc_id"),
          posexplode(TextOps.tokens(col("text"))).as(Seq("idx", "w")))
      val sh = docs(s, d).select(col("doc_id"),
        posexplode(transform(
          TextOps.shingles(TextOps.tokens(col("text")), 5),
          sg => call_function("md5_prefix64", sg))).as(Seq("start", "g")))
      val dfd = sh.select("doc_id", "g").distinct()
        .groupBy("g").agg(count(lit(1)).as("df"))
        .filter(col("df") >= 2).select("g")
      // every join below keys on computed/exploded SF-scaled sides — the
      // broadcast estimator can't be trusted there (doctrine), so each is
      // pinned: shuffled hash below 2^18 docs, sort-merge above (the
      // covered-position anti-join build is corpus-scale and OOM'd the
      // hash map at the 1000x replica — see bigJoin)
      val cov = sh.join(dfd.hint(bigJoin(s, d)), "g")
        .select(col("doc_id"),
          explode(sequence(col("start"), col("start") + 4)).as("idx"))
        .distinct()
      val kept = tok.join(cov.hint(bigJoin(s, d)),
        Seq("doc_id", "idx"), "left_anti")
      val base = tok.groupBy("doc_id")
        .agg(count(lit(1)).cast("long").as("n_tokens"))
      val k = kept.groupBy("doc_id")
        .agg(count(lit(1)).cast("long").as("n_kept"),
          md5(array_join(transform(
            array_sort(collect_list(struct(col("idx"), col("w")))),
            p => p("w")), " ")).as("clean_md5"))
      base.join(k.hint(bigJoin(s, d)), Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_tokens"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"),
          coalesce(col("clean_md5"), md5(lit(""))).as("clean_md5"))
        .orderBy("doc_id")
    },

    // Sorted-neighborhood fuzzy dedup (record-linkage SNM): docs are
    // sorted by a normalized 64-char key, each compared only to its w=4
    // following neighbors, and a candidate survives iff the EXACT edit
    // distance of the keys is <= 16. Complements the set-similarity
    // family (MinHash/SimHash measure token overlap; edit distance
    // catches character-level near-dups — OCR noise, typo variants,
    // truncations — that shingle Jaccard scores poorly).
    //
    // Scale shape: blocking on the key's 8-char prefix makes the sort a
    // per-block WINDOW (one shuffle on blk, spillable per-block sort,
    // O(w) window state via lead()) instead of a single-partition global
    // row_number — the neighbor comparison is w*n pairs, each a bounded
    // 64x64 levenshtein, so the whole operator is one exchange + linear
    // work. At sf0.01 prefix-8 blocking loses NO pairs vs the global
    // sort (verified: both emit the same 25). A pathological block (every
    // doc sharing one prefix) degrades to one sorted task, never to
    // quadratic pairs. levenshtein() is an exact integer in both engines
    // and the normalized key is pure ASCII, so byte-vs-char semantics
    // cannot diverge.
    Q(
      "q129_fuzzy_dedup",
      """WITH norm AS (
        |  SELECT doc_id,
        |    left(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), 64)
        |      AS nk
        |  FROM documents),
        |srt AS (
        |  SELECT doc_id, nk, substr(nk, 1, 8) AS blk,
        |    row_number() OVER (PARTITION BY substr(nk, 1, 8)
        |                       ORDER BY nk, doc_id) AS rn
        |  FROM norm),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |         levenshtein(a.nk, b.nk) AS dist
        |  FROM srt a JOIN srt b
        |    ON a.blk = b.blk AND b.rn BETWEEN a.rn + 1 AND a.rn + 4)
        |SELECT CAST(least(id_a, id_b) AS BIGINT) AS id_lo,
        |       CAST(greatest(id_a, id_b) AS BIGINT) AS id_hi,
        |       CAST(dist AS BIGINT) AS dist
        |FROM pairs WHERE dist <= 16
        |ORDER BY id_lo, id_hi""".stripMargin
    ) { (s, d) =>
      val norm = docs(s, d).select(col("doc_id"),
        substring(regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""),
          1, 64).as("nk"))
      val w = Window.partitionBy(substring(col("nk"), 1, 8))
        .orderBy("nk", "doc_id")
      // all four lead()s share one window spec -> ONE Window operator,
      // O(4) rows of state per partition
      val nbrs = norm.select(col("doc_id"), col("nk"),
        array((1 to 4).map(i =>
          struct(lead("doc_id", i).over(w).as("b_id"),
            lead("nk", i).over(w).as("b_nk"))): _*).as("nbrs"))
      nbrs.select(col("doc_id"), col("nk"), explode(col("nbrs")).as("b"))
        .filter(col("b.b_id").isNotNull)
        .select(
          least(col("doc_id"), col("b.b_id")).cast("long").as("id_lo"),
          greatest(col("doc_id"), col("b.b_id")).cast("long").as("id_hi"),
          levenshtein(col("nk"), col("b.b_nk")).cast("long").as("dist"))
        .filter(col("dist") <= 16)
        .orderBy("id_lo", "id_hi")
    },

    // Product-quantization ANN (the storage-side scale path beyond IVF
    // q58): split the 64-d embedding into M=4 subspaces of 16 dims, code
    // each subvector as the argmax-dot codebook entry (K=8 deterministic
    // seeds, vec_id < 8), and score queries against the CODES ONLY via an
    // asymmetric lookup table — at 100 TB the corpus is touched as 4
    // small ints per vector, not 64 floats. Plan shape: one broadcast of
    // the 8-row codebook -> per-row subspace dots (codegen dot_product on
    // slices) -> ONE partial+final max_by agg for the codes; the 3-row
    // 32-entry LUT is built by a bounded collect_list and broadcast back,
    // so ADC scoring is map-only (element_at, fixed left-to-right add
    // order mirrored by the oracle's CASE pivot — a bare SQL sum() over
    // the 4 subspace terms would be summation-order-nondeterministic);
    // top-5 per query goes through WindowGroupLimit (per-task partial
    // top-k before the 3-key exchange); exact rescore joins only the 15
    // survivors, broadcast. Cites reference similarity scope:
    // /root/reference/src/dask_awkward/lib/core.py (no ANN — north-star
    // mandate operator).
    Q(
      "q138_pq_ann",
      s"""WITH ${OracleSql.pqSubdots},
        |${OracleSql.pqCodes},
        |${OracleSql.pqLut("20, 21, 22")},
        |adc AS (
        |  SELECT l.qid, k.vec_id,
        |    ${OracleSql.pqSlotSum("l.")} AS adc
        |  FROM codes k JOIN lut l ON l.m = k.m AND l.cid = k.cid
        |  WHERE k.vec_id != l.qid
        |  GROUP BY l.qid, k.vec_id),
        |${OracleSql.pqRescoreTop5}""".stripMargin
    ) { (s, d) =>
      val e = emb(s, d)
      val qids = Seq(20L, 21L, 22L)
      val withD = Pq.subspaceDots(e)
      val codes = Pq.codes(withD)
      // 3 queries x 4 subspaces x 8 centroids -> one 32-slot array per
      // query (Pq.lutArr: bounded collect_list, 32 elements)
      val lutArr = Pq.lutArr(withD, qids)
      val scored = RankKey.crossProbes(codes, broadcast(lutArr))
        .select(col("qid"), col("vec_id"), Pq.adc.as("adc"))
      Pq.rescoreTop5(e, scored, qids)
    },

    // EXACT set-similarity join via prefix filtering (AllPairs/PPJoin
    // family; public MapReduce adaptation: Vernica et al., SIGMOD 2010) —
    // the deterministic counterpart to the probabilistic MinHash-LSH path
    // (q52): every Jaccard >= 0.5 shingle-set pair, no false negatives.
    // Each doc's hashed w-gram set is globally ordered RAREST-FIRST
    // (df asc, hash asc); a qualifying pair must share an element inside
    // both prefixes of length m - ceil(m/2) + 1 (pigeonhole on the
    // required overlap ceil(m/2)), so candidate join keys are by
    // construction LOW-frequency tokens — the opposite of a skewed
    // shuffle key. Candidates additionally pass the PPJoin size filter
    // (m_b in [m_a/2, 2*m_a]) and positional filter
    // (1 + min(m_a - rn_a, m_b - rn_b) >= ceil((m_a+m_b)/3), the
    // J >= tau iff |I| >= tau/(1+tau)*(ma+mb) bound) before the exact
    // integer verify (3*|I| >= ma + mb — no doubles anywhere).
    //
    // ADAPTIVE SHINGLE WIDTH (the q88 adaptive-planes doctrine applied
    // to prefix filtering): on a saturating vocabulary the "rarest"
    // w-grams of every doc go common as the corpus grows, and prefix
    // selectivity collapses — measured 40M distinct candidates for 250k
    // true pairs at the 10x replica with fixed w=3. Width grows with
    // corpus size, w = 3 + max(0, bitlen(n-1) - 13) div 3 (3 up to 8191
    // docs — every gate SF, outputs byte-identical to fixed w=3 — then
    // 4 from ~32k, 5 from ~262k), derived integer-exactly in BOTH
    // engines; re-measured candidate mass: 253k at 10x (w=4), 27.2M at
    // 100x (w=5) — candidates ~= true output mass, which is the floor
    // for an exact join. Per-bucket 256 cap (by doc_id, observed
    // metric, mirrored in the oracle) bounds any residual mega-cluster.
    Q(
      "q141_ppjoin",
      s"""WITH wdt AS (SELECT 3 + GREATEST(0,
        |    length(bin(count(*) - 1)) - 13) // 3 AS wd FROM documents),
        |ws AS (SELECT doc_id, string_split(text, ' ') AS w, wd
        |       FROM documents, wdt),
        |sh AS (SELECT doc_id, list_distinct(list_transform(
        |    list_transform(range(1, len(w) - wd + 2),
        |      i -> array_to_string(w[i:i + wd - 1], ' ')),
        |    s -> ${OracleSql.md5Int("s")})) AS s
        |  FROM ws),
        |toks AS (SELECT doc_id, len(s) AS m, unnest(s) AS h FROM sh),
        |df AS (SELECT h, count(*) AS df FROM toks GROUP BY h),
        |ranked AS (SELECT t.doc_id, t.m, t.h,
        |    row_number() OVER (PARTITION BY t.doc_id
        |                       ORDER BY d.df, t.h) AS rn
        |  FROM toks t JOIN df d USING (h)),
        |prefix AS (SELECT doc_id, m, h, rn FROM ranked
        |  WHERE rn <= m - (m + 1) // 2 + 1),
        |capped AS (SELECT doc_id, m, h, rn FROM (
        |    SELECT doc_id, m, h, rn,
        |      row_number() OVER (PARTITION BY h ORDER BY doc_id) AS brn
        |    FROM prefix) t WHERE brn <= 256),
        |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM capped a JOIN capped b ON a.h = b.h AND a.doc_id < b.doc_id
        |  WHERE 2 * a.m >= b.m AND 2 * b.m >= a.m
        |    AND 1 + least(a.m - a.rn, b.m - b.rn) >= (a.m + b.m + 2) // 3),
        |verify AS (SELECT c.id_a, c.id_b,
        |    len(list_intersect(x.s, y.s)) AS inter,
        |    len(x.s) + len(y.s) AS msum
        |  FROM cand c JOIN sh x ON x.doc_id = c.id_a
        |               JOIN sh y ON y.doc_id = c.id_b)
        |SELECT CAST(id_a AS BIGINT) AS id_lo, CAST(id_b AS BIGINT) AS id_hi,
        |  CAST(inter AS BIGINT) AS inter,
        |  CAST(msum - inter AS BIGINT) AS uni
        |FROM verify WHERE 3 * inter >= msum
        |ORDER BY id_lo, id_hi""".stripMargin
    ) { (s, d) =>
      val wdt = 3 + math.max(0, Scale.bitLen(docCount(s, d)) - 13) / 3
      // hashed shingle set, computed in its OWN projection so the size()
      // reference below cannot re-trigger the chain (q46 CollapseProject
      // pattern)
      val shCol = array_distinct(transform(
        TextOps.shingles(TextOps.tokens(col("text")), wdt),
        sg => call_function("md5_prefix64", sg)))
      // eager localCheckpoint: the sets table feeds THREE consumers (tok
      // explosion and both verify sides) whose exchanges differ, so
      // nothing else dedups the shingle+digest compute; ~8 longs/doc-KB,
      // materializes in O(corpus scan) once (lazy persist would race
      // AQE's concurrent map stages — q54 note)
      val sets = docs(s, d).select(col("doc_id"), shCol.as("s"))
        .select(col("doc_id"), col("s"), size(col("s")).cast("long").as("m"))
        .localCheckpoint()
      val toks = sets.select(col("doc_id"), col("m"), explode(col("s")).as("h"))
      // df via count() OVER (PARTITION BY h) on the SAME h-exchange the
      // old groupBy+join-back pair needed two of: the r14 shape exchanged
      // toks by h twice (once as partial-agg df rows, once as the join
      // probe) and built a vocabulary-scale hash relation per partition;
      // the window computes identical df values (toks is distinct per
      // (doc_id, h) by construction) in ONE exchange with no join. Output
      // is provably byte-identical: same df -> same rn -> same prefix ->
      // same candidates -> same exact-verify result.
      val byBucketAll = Window.partitionBy("h")
      val byDoc = Window.partitionBy("doc_id").orderBy("df", "h")
      val ranked = toks
        .withColumn("df", count(lit(1)).over(byBucketAll))
        .withColumn("rn", row_number().over(byDoc))
      val prefix = ranked
        .filter(col("rn") <= col("m") - expr("(m + 1) div 2") + 1)
        .select(col("doc_id"), col("m"), col("h"), col("rn"))
      // one capped subtree self-joined (exchange reuse, see Scale)
      val capped = Scale.capPerBucket(prefix, "q141_cap", Seq("h"),
        Seq("doc_id"))
      val cand = capped.as("a")
        .join(capped.as("b").hint(bigJoin(s, d)),
          col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id")
            && lit(2) * col("a.m") >= col("b.m")
            && lit(2) * col("b.m") >= col("a.m")
            && lit(1) + least(col("a.m") - col("a.rn"),
                 col("b.m") - col("b.rn")) >=
               expr("(a.m + b.m + 2) div 3"))
        .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
        .distinct()
      val verify = cand
        .join(sets.select(col("doc_id").as("id_a"), col("s").as("sa"),
          col("m").as("ma")).hint(bigJoin(s, d)), "id_a")
        .join(sets.select(col("doc_id").as("id_b"), col("s").as("sb"),
          col("m").as("mb")).hint(bigJoin(s, d)), "id_b")
        .select(col("id_a"), col("id_b"),
          size(array_intersect(col("sa"), col("sb"))).cast("long")
            .as("inter"),
          (col("ma") + col("mb")).as("msum"))
      verify.filter(lit(3) * col("inter") >= col("msum"))
        .select(col("id_a").as("id_lo"), col("id_b").as("id_hi"),
          col("inter"), (col("msum") - col("inter")).as("uni"))
        .orderBy("id_lo", "id_hi")
    },

    // Content-defined chunking dedup: split every document at rolling-
    // window boundary positions (plans/CdcCuts — h_i = 16-char additive
    // window sum, cut iff (h_i · 2654435761) % 64 == 0), hash each chunk,
    // and report per-document duplicated-chunk mass. Unlike q126's fixed
    // 5-gram spans, CDC boundaries depend only on LOCAL content, so a
    // one-char insertion shifts at most one chunk before the hash stream
    // re-synchronizes — the rsync/LBFS property, which is what makes
    // sub-document dedup workable on near-identical web pages.
    //
    // Scale shape: chunking is ONE codegen'd O(n)-per-row expression
    // (map-only; the declarative equivalent explodes per CHARACTER and
    // window-sums over a doc_id exchange — the oracle does exactly that,
    // this plan does not). Chunk hashes are fixed-width md5 hex before
    // the only data shuffle (CLAUDE.md: never exchange computed string
    // collections); the duplicate count is a window count over the chash
    // exchange (no join-back, one exchange fewer than the freq-join
    // form), then a doc_id re-agg. ~64-char expected chunks keep the
    // exploded row count ≈ n_chars/64 — linear.
    Q(
      "q143_cdc_chunks",
      s"""WITH ${OracleSql.cdcCuts}
        |  UNION ALL SELECT doc_id, 0 FROM documents
        |  UNION ALL SELECT doc_id, length(text) FROM documents
        |), bounds AS (
        |  SELECT doc_id, cut AS lo,
        |    lead(cut) OVER (PARTITION BY doc_id ORDER BY cut) AS hi
        |  FROM cuts
        |), chunks AS (
        |  SELECT doc_id,
        |    md5(substr(d.text, CAST(lo+1 AS INT), CAST(hi-lo AS INT))) AS chash,
        |    hi-lo AS clen
        |  FROM bounds b JOIN documents d USING (doc_id) WHERE hi IS NOT NULL
        |), w AS (
        |  SELECT doc_id, clen, count(*) OVER (PARTITION BY chash) AS cnt
        |  FROM chunks
        |)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
        |  CAST(sum(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS dup_chunks,
        |  CAST(sum(CASE WHEN cnt > 1 THEN clen ELSE 0 END) AS BIGINT)
        |    AS dup_mass
        |FROM w GROUP BY doc_id ORDER BY doc_id""".stripMargin
    ) { (s, d) =>
      val chunks = TextOps.cdcChunkRows(docs(s, d), "doc_id", "text")
      chunks
        .withColumn("cnt", count(lit(1)).over(Window.partitionBy("chash")))
        .groupBy("doc_id")
        .agg(count(lit(1)).cast("long").as("n_chunks"),
          sum(when(col("cnt") > 1, 1L).otherwise(0L)).cast("long")
            .as("dup_chunks"),
          sum(when(col("cnt") > 1, col("clen")).otherwise(0L)).cast("long")
            .as("dup_mass"))
        .orderBy("doc_id")
    },

    // LSH quality evaluation by sampled ground truth — the ANN-benchmark
    // methodology applied to the q52 MinHash-LSH dedup retriever: take a
    // FIXED probe set (doc_id < 100 — scale-invariant cardinality, so its
    // broadcast is legitimate at any corpus size), compute EXACT
    // Jaccard >= 1/2 pairs for the probes by one linear scan
    // (BroadcastNestedLoopJoin of 100 probes x corpus — O(100·N), the
    // q55 brute-force pattern), run the production LSH pipeline
    // (signatures → banded buckets → >=2-of-4 agreement verify), and emit
    // recall/precision in integer ppm. This is the query a pipeline
    // operator runs before trusting an LSH threshold at 100 TB.
    // The truth/retrieved/tp counts fuse into ONE pass over the tagged
    // pair union (max-marker groupBy — the q109 twin-agg pattern).
    Q(
      "q146_lsh_recall",
      s"""WITH ${OracleSql.wordShingleSets},
        |truth AS (
        |  SELECT p.doc_id AS id_a, c.doc_id AS id_b
        |  FROM hs p JOIN hs c ON c.doc_id > p.doc_id
        |  WHERE p.doc_id < 100
        |    AND 2 * len(list_intersect(p.sh, c.sh)) >=
        |        len(list_distinct(list_concat(p.sh, c.sh)))),
        |hv AS (
        |  SELECT doc_id, unnest(sh) AS h FROM hs),
        |${OracleSql.minhashBands},
        |retr AS (
        |  SELECT id_a, id_b FROM cand
        |  JOIN sig sa ON sa.doc_id = cand.id_a
        |  JOIN sig sb ON sb.doc_id = cand.id_b
        |  WHERE id_a < 100
        |    AND ${OracleSql.minhashAgree}),
        |tagged AS (
        |  SELECT id_a, id_b, 1 AS t, 0 AS r FROM truth
        |  UNION ALL SELECT id_a, id_b, 0 AS t, 1 AS r FROM retr),
        |pairs AS (
        |  SELECT id_a, id_b, max(t) AS t, max(r) AS r
        |  FROM tagged GROUP BY id_a, id_b),
        |m AS (
        |  SELECT CAST(sum(t) AS BIGINT) AS n_truth,
        |         CAST(sum(r) AS BIGINT) AS n_retr,
        |         CAST(sum(t * r) AS BIGINT) AS n_tp
        |  FROM pairs)
        |SELECT n_truth, n_retr, n_tp,
        |  n_tp * 1000000 // greatest(n_truth, 1) AS recall_ppm,
        |  n_tp * 1000000 // greatest(n_retr, 1) AS precision_ppm
        |FROM m""".stripMargin
    ) { (s, d) =>
      // Shared 3-consumer shingle-set table: eager localCheckpoint (the
      // q141 precedent — AQE does not dedup the consumers otherwise).
      val sets = docs(s, d).select(col("doc_id"),
          TextOps.hashedShingles(col("text")).as("sh"))
        .localCheckpoint(true)
      // Exact truth via the inverted index, not a probes x corpus
      // nested-loop of array_intersects: |A∩B| = count of shared shingle
      // hashes (sets are distinct), so explode the corpus ONCE, broadcast
      // the fixed 100-probe posting list, hash-join on h and count per
      // pair — work ∝ pairs that actually share a shingle, each a
      // counter bump instead of an O(|set|) intersect (measured 54.7 ->
      // ~7 s at the 10x replica). J >= 1/2 ⇔ 3·inter >= ma+mb.
      val sizes = sets.select(col("doc_id"), size(col("sh")).as("m"))
      val probeEx = sets.filter(col("doc_id") < 100)
        .select(col("doc_id").as("id_a"), explode(col("sh")).as("h"))
      val corpusEx = sets.select(col("doc_id").as("id_b"),
        explode(col("sh")).as("h"))
      val inter = broadcast(probeEx)
        .join(corpusEx, probeEx("h") === corpusEx("h")
          && col("id_b") > col("id_a"))
        .groupBy("id_a", "id_b").agg(count(lit(1)).as("inter"))
      val truth = inter
        .join(sizes.select(col("doc_id").as("id_a"), col("m").as("ma")),
          "id_a")
        .join(sizes.select(col("doc_id").as("id_b"), col("m").as("mb"))
          .hint("shuffle_hash"), "id_b")
        .filter(lit(3) * col("inter") >= col("ma") + col("mb"))
        .select(col("id_a"), col("id_b"))
      // Production LSH retriever: q52's minhashPairs chain.
      val k = TextOps.minhashAggs(col("h"), "k")
      val sig = sets.select(col("doc_id"), explode(col("sh")).as("h"))
        .groupBy("doc_id")
        .agg(k.head, k.tail: _*)
      val retr = minhashPairs(sig, "q146_cap")
        .filter(col("id_a") < 100)
        .distinct()
      // One-pass fused counting over the tagged union (q109 pattern).
      val tagged = truth.withColumn("t", lit(1)).withColumn("r", lit(0))
        .unionByName(retr.withColumn("t", lit(0)).withColumn("r", lit(1)))
      tagged.groupBy("id_a", "id_b")
        .agg(max("t").as("t"), max("r").as("r"))
        .agg(sum("t").cast("long").as("n_truth"),
          sum("r").cast("long").as("n_retr"),
          sum(col("t") * col("r")).cast("long").as("n_tp"))
        .select(col("n_truth"), col("n_retr"), col("n_tp"),
          expr("n_tp * 1000000 div greatest(n_truth, 1)").as("recall_ppm"),
          expr("n_tp * 1000000 div greatest(n_retr, 1)").as("precision_ppm"))
    },

    // Cross-source duplicate report — split-hygiene scan: documents whose
    // LEADING-CONTENT fingerprint (md5 of the first 80 chars — the
    // boilerplate/header signal; exact full-text dup is a special case)
    // appears in MORE THAN ONE source. If train and eval splits are drawn
    // by source, every row here is a leakage channel. Scale shape: one
    // map-side fingerprint, one fixed-width-keyed partial+final agg
    // (collect_set bounded by the source universe, which is
    // low-cardinality by definition), filter on the grouped row — no
    // joins, no windows.
    Q(
      "q154_cross_source_dups",
      """WITH dg AS (
        |  SELECT md5(substr(text, 1, 80)) AS digest, source, doc_id
        |  FROM documents
        |), grp AS (
        |  SELECT digest,
        |    CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
        |    array_to_string(list_sort(list_distinct(list(source))), ',')
        |      AS sources,
        |    CAST(min(doc_id) AS BIGINT) AS first_doc
        |  FROM dg GROUP BY digest
        |)
        |SELECT substr(digest, 1, 16) AS digest16, n_docs, n_sources,
        |       sources, first_doc
        |FROM grp WHERE n_sources > 1 ORDER BY digest16""".stripMargin
    ) { (s, d) =>
      docs(s, d)
        .select(md5(substring(col("text"), 1, 80)).as("digest"),
          col("source"), col("doc_id"))
        .groupBy("digest")
        .agg(count(lit(1)).cast("long").as("n_docs"),
          countDistinct("source").cast("long").as("n_sources"),
          concat_ws(",", sort_array(collect_set(col("source"))))
            .as("sources"),
          min("doc_id").cast("long").as("first_doc"))
        .filter(col("n_sources") > 1)
        .select(substring(col("digest"), 1, 16).as("digest16"),
          col("n_docs"), col("n_sources"), col("sources"), col("first_doc"))
        .orderBy("digest16")
    },

    // INCREMENTAL near-dup check: a new shard arrives and must be
    // deduplicated against the EXISTING corpus without recomputing
    // corpus-internal pairs — the day-2 shape of every production dedup
    // (q52 is the day-0 full-corpus pass). Incoming docs (~1/8 by a
    // doc_id hash split; in production the shard boundary is the
    // ingestion batch) probe the corpus's banded minhash index: band
    // match -> candidate, then the q52 verify stage (signature agreement
    // >= 2 of 4 ~ Jaccard >= 0.5) confirms. Scale shape: ONE shingle ->
    // md5 -> 4-min signature pipeline feeds both sides below a shared
    // partial-agg exchange (computed once); the corpus band index is
    // capped at 256 docs/bucket BEFORE the join (same mega-cluster bound
    // as q52, mirrored in the oracle) and its cap window's (band, key)
    // exchange doubles as the join-side partitioning, so the probe is
    // one shuffle-hash equi-join on fixed-width keys — never a
    // corpus-sized broadcast. Output is per-incoming-doc (is_dup,
    // n_matches, best_match): shard-linear, not pair-quadratic.
    Q(
      "q159_incremental_dedup",
      s"""WITH ${OracleSql.hashedShingleRows("doc_id")},
        |sig AS (
        |  SELECT doc_id,
        |    ${OracleSql.md5Int("CAST(doc_id AS VARCHAR)")} % 8 = 0 AS incoming,
        |    ${OracleSql.minhashAggs("h", "k")}
        |  FROM hv GROUP BY doc_id),
        |braw AS (
        |  SELECT doc_id, incoming, k0, k1, k2, k3,
        |         unnest([0, 1, 2, 3]) AS band,
        |         unnest([k0, k1, k2, k3]) AS key FROM sig),
        |corpus AS (
        |  SELECT doc_id, band, key, k0, k1, k2, k3 FROM (
        |    SELECT *, row_number() OVER (PARTITION BY band, key
        |      ORDER BY doc_id) AS rk
        |    FROM braw WHERE NOT incoming) t WHERE rk <= 256),
        |hits AS (
        |  SELECT DISTINCT i.doc_id, c.doc_id AS match_id
        |  FROM braw i JOIN corpus c ON i.band = c.band AND i.key = c.key
        |  WHERE i.incoming
        |    AND (CASE WHEN i.k0 = c.k0 THEN 1 ELSE 0 END +
        |         CASE WHEN i.k1 = c.k1 THEN 1 ELSE 0 END +
        |         CASE WHEN i.k2 = c.k2 THEN 1 ELSE 0 END +
        |         CASE WHEN i.k3 = c.k3 THEN 1 ELSE 0 END) >= 2),
        |agg AS (
        |  SELECT doc_id, count(*) AS n_matches, min(match_id) AS best_match
        |  FROM hits GROUP BY doc_id)
        |SELECT s.doc_id,
        |  CAST(CASE WHEN a.doc_id IS NULL THEN 0 ELSE 1 END AS BIGINT)
        |    AS is_dup,
        |  CAST(coalesce(a.n_matches, 0) AS BIGINT) AS n_matches,
        |  CAST(a.best_match AS BIGINT) AS best_match
        |FROM sig s LEFT JOIN agg a USING (doc_id)
        |WHERE s.incoming ORDER BY s.doc_id""".stripMargin
    ) { (s, d) =>
      // eager localCheckpoint (q144 doctrine): three consumers (incoming
      // bands, corpus bands, final left join) would otherwise each
      // re-run the scan+shingle+md5 pipeline — Catalyst pushes the
      // incoming/corpus filters below the explode, so the subtrees
      // differ per branch and exchange reuse can't fire. sig is
      // doc-count x 5 longs: cheap to materialize, and every consumer
      // then reads the checkpointed table.
      val sig = TextOps.minhashSignatures(docs(s, d), Seq("doc_id"), "k")
        .withColumn("incoming",
          call_function("md5_prefix64", col("doc_id").cast("string"))
            % 8L === 0L)
        .localCheckpoint(true)
      val bands = sig.select(col("doc_id"), col("incoming"),
        col("k0"), col("k1"), col("k2"), col("k3"),
        posexplode(array(col("k0"), col("k1"), col("k2"), col("k3")))
          .as(Seq("band", "key")))
      val corpus = Scale.capPerBucket(bands.filter(!col("incoming")),
          "q159_cap", Seq("band", "key"), Seq("doc_id"))
        .select(col("doc_id").as("c_doc"), col("band"), col("key"),
          col("k0").as("c0"), col("k1").as("c1"),
          col("k2").as("c2"), col("k3").as("c3"))
      val agree = (col("k0") === col("c0")).cast("int") +
        (col("k1") === col("c1")).cast("int") +
        (col("k2") === col("c2")).cast("int") +
        (col("k3") === col("c3")).cast("int")
      val hits = bands.filter(col("incoming"))
        .hint("shuffle_hash")
        .join(corpus, Seq("band", "key"))
        .filter(agree >= 2)
        .select(col("doc_id"), col("c_doc"))
        // pre-distinct pair mass — attributes 1000x growth (join output
        // vs band-exchange volume) without touching the plan shape
        .observe("q159_hits", count(lit(1)).as("pre_distinct_pairs"))
        .distinct()
      val agg = hits.groupBy("doc_id")
        .agg(count(lit(1)).cast("long").as("n_matches"),
          min("c_doc").cast("long").as("best_match"))
      sig.filter(col("incoming"))
        .join(agg, Seq("doc_id"), "left")
        .select(col("doc_id"),
          col("n_matches").isNotNull.cast("long").as("is_dup"),
          coalesce(col("n_matches"), lit(0L)).as("n_matches"),
          col("best_match"))
        .orderBy("doc_id")
    },

    // Per-document NOVELTY score vs the rest of the corpus: the fraction
    // of a doc's distinct 3-gram shingles owned by no other document —
    // the memorization-risk / information-content signal that complements
    // within-doc repetition (q97) and external-probe contamination
    // (q109). Scale shape: shingles -> codegen md5 -> DISTINCT (doc, h)
    // (one exchange on fixed-width keys), the shingle occurrence table is
    // a reuse of that distinct's exchange (groupBy h), and the h-keyed
    // shuffle-hash join back is docs·shingles-linear; final partial+final
    // agg by doc_id. Novelty is an exact integer ppm (floor division of
    // nonneg ints — identical in both engines).
    Q(
      "q160_novelty",
      s"""WITH shr AS (
        |  SELECT doc_id, unnest(${OracleSql.shingles("ws")}) AS s
        |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents) t),
        |dh AS (
        |  SELECT DISTINCT doc_id,
        |    ${OracleSql.md5Int("s")} AS h
        |  FROM shr),
        |occ AS (SELECT h, count(*) AS nd FROM dh GROUP BY h)
        |SELECT d.doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
        |  CAST(sum(CASE WHEN o.nd = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_novel,
        |  CAST(1000000 * sum(CASE WHEN o.nd = 1 THEN 1 ELSE 0 END)
        |    // count(*) AS BIGINT) AS novelty_ppm
        |FROM dh d JOIN occ o USING (h)
        |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin
    ) { (s, d) =>
      // occurrence count as count-over-window keyed by h rather than a
      // groupBy+join-back: ONE subtree (the join form re-ran the whole
      // scan+shingle+distinct pipeline per side — branch-dependent filter
      // placement defeated exchange reuse), one extra h-keyed exchange.
      // Round-8 A/B (1000x replica, box-speed-controlled via unchanged
      // q159): a map-side array_distinct(transform(shingles, md5)) form
      // that deletes this distinct's exchange measured 202.5 s vs 181.5 —
      // the HOF-interpreted md5 over the 265M-row mass (observed
      // q160_mass) costs MORE on local[32] than the exchange it saves, so
      // the codegen explode+distinct form stays (on a multi-node cluster,
      // where the exchange is network-priced, the trade may flip).
      val dh = TextOps.hashedShingleRows(docs(s, d), col("doc_id"))
        .distinct()
        .observe("q160_mass", count(lit(1)).as("doc_h_rows"))
      dh.withColumn("nd",
        count(lit(1)).over(Window.partitionBy("h")))
        .groupBy("doc_id")
        .agg(count(lit(1)).cast("long").as("n_shingles"),
          sum((col("nd") === 1).cast("long")).cast("long").as("n_novel"))
        .select(col("doc_id"), col("n_shingles"), col("n_novel"),
          expr("1000000 * n_novel div n_shingles").as("novelty_ppm"))
        .orderBy("doc_id")
    },

    // IVF-PQ composite ANN — the PRODUCTION index shape, composing
    // q58's inverted-file cell restriction with q138's code-only
    // scoring: the query probes its 2 nearest coarse cells and runs the
    // asymmetric-LUT scan ONLY over vectors assigned to those cells,
    // touching each as M=4 small code ints — at 100 TB that is ~nprobe/
    // nlist of the corpus at 4 bytes/vector instead of 64 floats, and
    // the exact rescore reads just the 15 survivors. Exactness: the
    // coarse assignment dot is the FIXED-ORDER sum of the 4 subspace
    // dots (d0+d1+d2+d3 in both engines — one subspace pass feeds coarse
    // AND codes, halving the multiply work vs separate full-dot and
    // subdot passes); ADC adds the 4 LUT slots in the same fixed order
    // (a bare sum() would be order-nondeterministic). Plan: one
    // broadcast of the 8-row codebook -> subspace-dot map stage -> ONE
    // max_by agg producing cell + 4 codes per vector -> broadcast probe
    // cells filter -> broadcast 32-slot LUT map-side ADC ->
    // WindowGroupLimit top-5 -> broadcast exact rescore.
    Q(
      "q167_ivfpq_ann",
      s"""WITH ${OracleSql.pqSubdots},
        |fulld AS (
        |  SELECT vec_id, cid,
        |    ${OracleSql.pqSlotSum("")} AS dot
        |  FROM subdots GROUP BY vec_id, cid),
        |${OracleSql.ivfProbes("fulld", "30, 31, 32")},
        |${OracleSql.pqCodes},
        |${OracleSql.pqLut("30, 31, 32")},
        |${OracleSql.cellCand("cellcand")},
        |adc AS (
        |  SELECT l.qid, k.vec_id,
        |    ${OracleSql.pqSlotSum("l.")} AS adc
        |  FROM codes k
        |  JOIN cellcand cc ON cc.vec_id = k.vec_id
        |  JOIN lut l ON l.m = k.m AND l.cid = k.cid AND l.qid = cc.qid
        |  GROUP BY l.qid, k.vec_id),
        |${OracleSql.pqRescoreTop5}""".stripMargin
    ) { (s, d) =>
      val e = emb(s, d)
      val qids = Seq(30L, 31L, 32L)
      val withD = Pq.subspaceDots(e)
        .withColumn("dot",
          col("d0") + col("d1") + col("d2") + col("d3"))
      // ONE aggregate yields the coarse cell AND the 4 PQ codes
      val assigned = withD.groupBy("vec_id").agg(
        max_by(col("cid"), struct(col("dot"), -col("cid"))).as("cell"),
        Pq.codeAggs: _*)
      val probes = RankKey.ivfProbes(withD, col("vec_id").isin(qids: _*))
        .select(col("vec_id").as("qid"), col("cid").as("cell"))
      val lutArr = Pq.lutArr(withD, qids)
      val scored = assigned
        .join(broadcast(probes), Seq("cell"))
        .filter(col("vec_id") =!= col("qid"))
        .join(broadcast(lutArr), Seq("qid"))
        .select(col("qid"), col("vec_id"), Pq.adc.as("adc"))
      Pq.rescoreTop5(e, scored, qids)
    },

    // EXACT substring-level dedup, bounded Lee-et-al variant ("Deduplicating
    // Training Data Makes Language Models Better" finds verbatim repeated
    // SUBSTRINGS, not whole near-dup docs — the modality q115/q126/q143
    // approximate via n-grams/CDC-chunk hashes). Full suffix arrays don't
    // distribute cheaply; this is the bounded form: a fixed 64-char window
    // anchored at every CDC cut (cut positions re-synchronize after
    // insertions, so shared content anchors at the SAME windows in both
    // docs), grouped EXACTLY by window hash, consecutive matched anchors
    // merged into diagonal runs per doc pair (run of length r at expected
    // 64-char chunks ~ an r*64-char verbatim shared span). Scale shape:
    // anchor extraction is map-only (cdc_cuts + substr + md5_prefix60
    // codegen kernels); the window-hash bucket is capped at 256 anchors
    // (observe'd) and pairs via the q52 bucket-collect (payload = 2 longs,
    // inside the narrow-payload rule); run merging is a window over pair
    // diagonals — pair-mass keyed, never corpus-quadratic.
    //
    // Round-9 exactness hardening: (a) the window hash is the 60-bit
    // md5_prefix60 (the 32-bit prefix SATURATES at 10^12 anchors — ~250
    // contents per bucket — and even as a pair key it left a birthday
    // floor of false matches); (b) a CONTENT-VERIFY: the 64-char window
    // TEXT rides inside the bucket-collect rec and every candidate pair
    // is content-compared inline, so a counted match is verbatim by
    // construction — Lee et al.'s exactness, not hash-equality. The
    // gather stays bounded (cap 256 recs x ~90 B = ~23 KB/group) and the
    // pair exchange stays narrow (the win is dropped at pair projection).
    // This fattens the one bucket exchange 16 B -> ~90 B per anchor
    // (~1.25x corpus bytes — the honest price of exact substring dedup;
    // Lee et al.'s suffix arrays ship the corpus too). The join-based
    // alternative (re-derive windows for matched docs, join pairs back
    // twice) was measured 4.1x WORSE at the 1000x replica (564 s vs
    // 136 s baseline): on a near-dup-heavy corpus "matched docs" is the
    // whole corpus, so it shipped the same window text AND paid two
    // pair-mass joins, a doc-id semi-join and a second pair explode.
    Q(
      "q181_substring_dedup",
      s"""WITH ${OracleSql.cdcCuts}
        |), anch AS (
        |  SELECT c.doc_id,
        |    row_number() OVER (PARTITION BY c.doc_id ORDER BY cut) AS idx,
        |    substr(d.text, CAST(cut + 1 AS INT), 64) AS win,
        |    ${OracleSql.md560("substr(d.text, CAST(cut + 1 AS INT), 64)")} AS h
        |  FROM cuts c JOIN documents d USING (doc_id)
        |  WHERE cut + 64 <= length(d.text)
        |), capped AS (
        |  SELECT doc_id, idx, h, win FROM (
        |    SELECT *, row_number() OVER (PARTITION BY h
        |      ORDER BY doc_id, idx) AS rk
        |    FROM anch) t WHERE rk <= 256
        |), m AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.idx AS ia, b.idx AS ib
        |  FROM capped a JOIN capped b
        |    ON a.h = b.h AND a.win = b.win AND a.doc_id < b.doc_id
        |), runs AS (
        |  SELECT id_a, id_b, ia - ib AS diag, ia,
        |    ia - row_number() OVER (PARTITION BY id_a, id_b, ia - ib
        |      ORDER BY ia) AS grp
        |  FROM m
        |), runlen AS (
        |  SELECT id_a, id_b, count(*) AS rl
        |  FROM runs GROUP BY id_a, id_b, diag, grp
        |)
        |SELECT id_a, id_b, CAST(sum(rl) AS BIGINT) AS n_matches,
        |  CAST(count(*) AS BIGINT) AS n_runs,
        |  CAST(max(rl) AS BIGINT) AS longest_run
        |FROM runlen GROUP BY id_a, id_b
        |ORDER BY n_matches DESC, id_a, id_b LIMIT 50""".stripMargin
    ) { (s, d) =>
      // anchors: one map-only pass — interior CDC cuts, keep cuts with a
      // full 64-char window (array-filtered BEFORE posexplode so idx ranks
      // kept cuts, matching the oracle's rank-after-where), window hashed
      // to fixed width before any exchange
      val anch = docs(s, d)
        // length(text) projected to a column BEFORE the lambda: evaluated
        // inside the per-cut filter it would re-run the O(bytes) numChars
        // scan once per cut (~n²/64 work per doc — the CLAUDE.md
        // project-the-expensive-expression rule)
        .select(col("doc_id"), col("text"),
          length(col("text")).cast("long").as("tl"))
        .select(col("doc_id"), col("text"),
          posexplode(filter(call_function("cdc_cuts", col("text")),
            c => c + lit(64L) <= col("tl")))
            .as(Seq("pos", "cut")))
        .select(col("doc_id"), (col("pos") + 1).cast("long").as("idx"),
          col("text").substr((col("cut") + 1).cast("int"), lit(64))
            .as("win"))
        .select(col("doc_id"), col("idx"), col("win"),
          call_function("md5_prefix60", col("win")).as("h"))
      val buckets = Scale.capPerBucket(anch, "q181_cap", Seq("h"),
          Seq("doc_id", "idx"))
        .groupBy("h")
        .agg(sort_array(collect_list(struct(col("doc_id"), col("idx"),
          col("win")))).as("recs"))
      val m = buckets
        .select(explode(graft.functions.ArrayOps.combinations2(col("recs"),
          fields = Seq("a", "b"))).as("p"))
        .filter(col("p.a.doc_id") < col("p.b.doc_id"))
        .observe("q181_verify",
          sum(when(col("p.a.win") =!= col("p.b.win"), 1L).otherwise(0L))
            .as("hash_collision_pairs"))
        .filter(col("p.a.win") === col("p.b.win"))
        .select(col("p.a.doc_id").as("id_a"), col("p.b.doc_id").as("id_b"),
          col("p.a.idx").as("ia"), col("p.b.idx").as("ib"))
      val runGrp = col("ia") - row_number().over(
        Window.partitionBy(col("id_a"), col("id_b"), col("ia") - col("ib"))
          .orderBy("ia"))
      m.withColumn("diag", col("ia") - col("ib"))
        .withColumn("grp", runGrp)
        .groupBy("id_a", "id_b", "diag", "grp")
        .agg(count(lit(1)).as("rl"))
        .groupBy("id_a", "id_b")
        .agg(sum("rl").cast("long").as("n_matches"),
          count(lit(1)).cast("long").as("n_runs"),
          max("rl").cast("long").as("longest_run"))
        .orderBy(col("n_matches").desc, col("id_a"), col("id_b"))
        .limit(50)
    },

    // GROUP-AWARE train/val/test split — the leakage-prevention step
    // every eval pipeline needs: splitting docs independently leaks
    // near-duplicates of eval docs into train (the contamination q109
    // detects after the fact). Here the split key is the NEAR-DUP GROUP:
    // connected components over the degree-bounded RP edge table (q92's
    // graph), singletons defaulting to their own id, hashed to a 80/10/10
    // split — so a whole near-dup cluster lands in one split by
    // construction, and the query PROVES it (spanning_groups column,
    // computed, not assumed). Scale shape: CC on bounded edges (node-
    // scale state), one doc-scale join, split assignment is a pure map
    // of the group id; the assigned table is checkpointed (doc-scale,
    // 3 longs/row) so the audit pass and the per-split rollup don't
    // re-run CC.
    Q(
      "q182_leakage_free_split",
      s"""${rpGroupsSql("id AS doc_id", "lbl")},
        |asg AS (
        |  SELECT d.doc_id, d.n_chars, coalesce(g.lbl, d.doc_id) AS group_id
        |  FROM documents d LEFT JOIN grp g USING (doc_id)),
        |sp AS (
        |  SELECT doc_id, n_chars, group_id,
        |    CASE WHEN b <= 7 THEN 'train' WHEN b = 8 THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM (SELECT *,
        |    ${OracleSql.md5Int("CAST(group_id AS VARCHAR)")} % 10 AS b
        |  FROM asg) t),
        |leak AS (
        |  SELECT CAST(count(*) AS BIGINT) AS spanning_groups FROM (
        |    SELECT group_id FROM sp GROUP BY group_id
        |    HAVING count(DISTINCT split) > 1) t)
        |SELECT s.split, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(count(DISTINCT s.group_id) AS BIGINT) AS n_groups,
        |  CAST(sum(s.n_chars) AS BIGINT) AS sum_chars, l.spanning_groups
        |FROM sp s CROSS JOIN leak l
        |GROUP BY s.split, l.spanning_groups ORDER BY s.split""".stripMargin
    ) { (s, d) =>
      val grp = rpGroups(s, d, "doc_id", "lbl")
      val b = call_function("md5_prefix64",
        col("group_id").cast("string")) % 10L
      val sp = docs(s, d).select(col("doc_id"), col("n_chars"))
        .join(grp, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_chars"),
          coalesce(col("lbl"), col("doc_id")).as("group_id"))
        .withColumn("split",
          when(b <= 7, "train").when(b === 8, "val").otherwise("test"))
        .localCheckpoint(true)
      val leak = sp.groupBy("group_id")
        .agg(countDistinct("split").as("ns"))
        .filter(col("ns") > 1)
        .agg(count(lit(1)).cast("long").as("spanning_groups"))
      sp.groupBy("split")
        .agg(count(lit(1)).cast("long").as("n_docs"),
          countDistinct("group_id").cast("long").as("n_groups"),
          sum("n_chars").cast("long").as("sum_chars"))
        .crossJoin(broadcast(leak))
        .select(col("split"), col("n_docs"), col("n_groups"),
          col("sum_chars"), col("spanning_groups"))
        .orderBy("split")
    },

    // FREQUENT-SEGMENT BOILERPLATE REMOVAL — the CCNet/RefinedWeb "drop
    // lines that repeat across documents" stage, on a corpus without
    // newlines: the line unit is a deterministic non-overlapping 8-word
    // segment. A segment whose hash occurs in >= 2 DISTINCT docs is
    // boilerplate (frequency-based removal, not pairwise dedup — the
    // modality q115/q126 do not cover). Scale shape: segments are hashed
    // to fixed-width i64 BEFORE any exchange per doctrine; the segment
    // table is built ONCE and feeds both the frequency agg and the join
    // back, both keyed on the hash, so the two exchanges are one reused
    // exchange; the join over the computed side is pinned shuffle_hash
    // (broadcast estimator distrusted on agg outputs).
    //
    // Round-9 exactness hardening: boilerplate is CONTENT frequency, not
    // hash frequency. (a) The key is the 60-bit md5_prefix60 (32 bits
    // saturate at corpus scale — ~250 contents/bucket at 10^12 segments
    // would flag nearly everything). (b) The narrow checkpoint carries a
    // SECOND independently-salted 60-bit hash; a key whose group mixes
    // contents is detected by min(hv2) != max(hv2) (missing a mix needs a
    // simultaneous 120-bit double collision), and the mixed keys —
    // collision-mass, ~hundreds at 10^12 segments — are resolved by an
    // EXACT content-grouped correction branch: re-derive text only for
    // instances of mixed keys (broadcast semi-join at the scan, map-only,
    // no text ever crosses an exchange), count distinct docs per (hv,
    // seg), and un-flag instances whose true content group is single-doc.
    // The oracle groups frequency by (hv, seg) directly — content-exact
    // semantics on both sides. The nd/mixed pair is sign-encoded into ONE
    // column (ndm = nd * (mixed ? -1 : 1)) so both consumers prune to the
    // identical aggregate and the partial-agg exchange is reused.
    Q(
      "q185_boilerplate_rm",
      s"""WITH segs AS (
        |  SELECT doc_id, unnest(list_transform(
        |      range(0, CAST(ceil(len(ws) / 8.0) AS INT)),
        |      i -> array_to_string(ws[8*i+1 : 8*i+8], ' '))) AS seg
        |  FROM (SELECT doc_id, string_split(text, ' ') AS ws
        |        FROM documents) t),
        |h AS (
        |  SELECT doc_id, seg, length(seg) AS seg_chars,
        |    ${OracleSql.md560("seg")} AS hv
        |  FROM segs),
        |freq AS (SELECT hv, seg, count(DISTINCT doc_id) AS nd
        |         FROM h GROUP BY 1, 2)
        |SELECT h.doc_id, CAST(count(*) AS BIGINT) AS n_segs,
        |  CAST(sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_removed,
        |  CAST(sum(CASE WHEN nd < 2 THEN seg_chars ELSE 0 END) AS BIGINT)
        |    AS chars_kept
        |FROM h JOIN freq USING (hv, seg) GROUP BY 1
        |ORDER BY doc_id""".stripMargin
    ) { (s, d) =>
      boilerplateRm(docs(s, d),
        seg => call_function("md5_prefix60", seg),
        seg => call_function("md5_prefix60", concat(seg, lit("#2"))))
    },

    // BOUNDARY-OVERLAP DEDUP — catches the concatenation artifact every
    // crawl/shard pipeline produces: document B starts with exactly the
    // text document A ends with (a split doc, or boilerplate glue).
    // Emits (pred, succ) candidate pairs where pred's last 3 tokens
    // equal succ's first 3 tokens VERBATIM. Scale shape: one map-only
    // base (head/tail 3-token boundary + codegen'd 60-bit hashes,
    // fixed-width BEFORE any exchange) behind a DISK_ONLY checkpoint so
    // the head- and tail-side derivations read one materialization; each
    // side is capped at 256 docs per boundary key (row_number by doc_id,
    // observed metric — a boilerplate boundary shared by a mega-cluster
    // cannot become a pair factory: output is bounded by 256^2 per key);
    // the join is shuffle_hash on the 8-byte hash with the boundary TEXT
    // carried inline for content verify (q181 doctrine: ~25 B payload
    // per row beats a join-back on dup-heavy corpora).
    Q(
      "q197_boundary_overlap",
      s"""SELECT pred, succ FROM $boundaryPairsSql bp
        |ORDER BY pred, succ""".stripMargin
    ) { (s, d) =>
      boundaryOverlap(docs(s, d),
        c => call_function("md5_prefix60", c))
        .orderBy("pred", "succ")
    },

    // SHARD-SPLIT DOCUMENT REASSEMBLY — the consumer of q197's
    // boundary-overlap pairs: restrict to RELIABLE links (pred has
    // exactly one successor AND succ has exactly one predecessor — an
    // ambiguous boundary is boilerplate, not a split), label the
    // resulting chains with distributed CC, and report the chain-length
    // histogram with reassembled character mass and cycle count (a
    // cycle is a boilerplate ring, not a split doc — surfaced, not
    // silently merged). Scale shape: pair mass is already 256²-bounded
    // per boundary key; the degree filter is two windows over pair
    // mass; CC takes degree-1 edges (chains ⇒ propagation rounds =
    // longest chain); the members/links joins are shuffle_hash over
    // computed tables; output is max-chain-length-bounded.
    Q(
      "q200_chain_reassembly",
      s"""WITH RECURSIVE pairs AS (SELECT * FROM $boundaryPairsSql bp),
        |links AS (
        |  SELECT pred, succ FROM (
        |    SELECT pred, succ,
        |      count(*) OVER (PARTITION BY pred) AS outd,
        |      count(*) OVER (PARTITION BY succ) AS ind
        |    FROM pairs) t WHERE outd = 1 AND ind = 1),
        |und AS (SELECT pred AS src, succ AS dst FROM links
        |        UNION ALL SELECT succ, pred FROM links),
        |${OracleSql.reach},
        |grp AS (SELECT id, min(r) AS lbl FROM reach GROUP BY id),
        |lc AS (SELECT g.lbl, count(*) AS n_links
        |       FROM links l JOIN grp g ON g.id = l.pred GROUP BY 1),
        |ch AS (SELECT g.lbl, count(*) AS n_docs, sum(d.n_chars) AS chars
        |       FROM grp g JOIN documents d ON d.doc_id = g.id
        |       GROUP BY 1)
        |SELECT CAST(ch.n_docs AS BIGINT) AS chain_len,
        |  CAST(count(*) AS BIGINT) AS n_chains,
        |  CAST(sum(ch.n_docs) AS BIGINT) AS docs_total,
        |  CAST(sum(ch.chars) AS BIGINT) AS chars_total,
        |  CAST(sum(CASE WHEN lc.n_links = ch.n_docs THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_cycles
        |FROM ch JOIN lc USING (lbl) GROUP BY 1 ORDER BY 1""".stripMargin
    ) { (s, d) => chainReassembly(docs(s, d)) },

    // BITEXT MINING — margin-based cross-lingual pair extraction (the
    // translation-pair miner behind every multilingual corpus): for
    // each vector, its best neighbor in each OTHER language from the
    // RP-bucketed candidate pairs, accepted when the best beats the
    // second best by the Lowe ratio (m1·100 ≥ m2·105) — computed on
    // round(rdot·10⁴) INTEGERS so the accept decision is bit-exact in
    // both engines. Scale shape: candidate mass is rpPairs (bucketed,
    // capped, never all-pairs); language attach is two shuffle_hash
    // joins; the per-(vec, target-lang) top-2 is a rank window whose
    // `r <= 2` filter triggers WindowGroupLimit (map-side prune), and
    // best/second collapse in ONE conditional aggregate — no self-join;
    // output is |lang|²-bounded.
    Q(
      "q201_bitext_margin",
      s"""WITH sym AS (
        |  SELECT id_a AS src, id_b AS nbr, rdot FROM ($rpPairsSql) p
        |  UNION ALL
        |  SELECT id_b, id_a, rdot FROM ($rpPairsSql) p2),
        |cand AS (
        |  SELECT s.src, ls.lang AS lang_src, ln.lang AS lang_tgt, s.nbr,
        |    CAST(round(s.rdot * 10000) AS BIGINT) AS m
        |  FROM sym s
        |  JOIN documents ls ON ls.doc_id = s.src
        |  JOIN documents ln ON ln.doc_id = s.nbr
        |  WHERE ls.lang <> ln.lang),
        |rk AS (
        |  SELECT *, row_number() OVER (PARTITION BY src, lang_tgt
        |    ORDER BY m DESC, nbr) AS r
        |  FROM cand),
        |best AS (
        |  SELECT src, lang_src, lang_tgt,
        |    max(CASE WHEN r = 1 THEN m END) AS m1,
        |    max(CASE WHEN r = 2 THEN m END) AS m2
        |  FROM rk WHERE r <= 2 GROUP BY 1, 2, 3)
        |SELECT lang_src, lang_tgt, CAST(count(*) AS BIGINT) AS n_cands,
        |  CAST(sum(CASE WHEN m2 IS NULL OR m1 * 100 >= m2 * 105
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_accepted,
        |  CAST(sum(CASE WHEN m2 IS NULL OR m1 * 100 >= m2 * 105
        |    THEN m1 ELSE 0 END) AS BIGINT) AS sim_sum
        |FROM best GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
    ) { (s, d) =>
      bitextFromPairs(rpPairs(s, d).localCheckpoint(true),
        docs(s, d).select(col("doc_id"), col("lang")))
    },

    // NEAR-DUP PROVENANCE MATRIX — which sources duplicate each other:
    // the RP near-dup pairs lifted to the (source, source) level with
    // pair counts, distinct docs involved, and integer similarity mass.
    // The dedup-budget planning view: a heavy off-diagonal cell means
    // two crawls overlap and one can be dropped early. Scale shape:
    // pair mass (bucketed+capped) through two shuffle_hash joins to
    // attach sources, checkpointed once for its two consumers (pair
    // stats + distinct-doc explode); output is |sources|²-bounded.
    Q(
      "q205_overlap_matrix",
      s"""WITH sp AS (
        |  SELECT least(da.source, db.source) AS src_1,
        |    greatest(da.source, db.source) AS src_2,
        |    p.id_a, p.id_b, CAST(round(p.rdot * 10000) AS BIGINT) AS m
        |  FROM ($rpPairsSql) p
        |  JOIN documents da ON da.doc_id = p.id_a
        |  JOIN documents db ON db.doc_id = p.id_b),
        |dd AS (
        |  SELECT src_1, src_2, count(DISTINCT doc) AS n_docs FROM (
        |    SELECT src_1, src_2, id_a AS doc FROM sp
        |    UNION ALL SELECT src_1, src_2, id_b FROM sp) t GROUP BY 1, 2)
        |SELECT sp.src_1, sp.src_2, CAST(count(*) AS BIGINT) AS n_pairs,
        |  CAST(max(dd.n_docs) AS BIGINT) AS n_docs,
        |  CAST(sum(sp.m) AS BIGINT) AS sim_sum
        |FROM sp JOIN dd USING (src_1, src_2)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
    ) { (s, d) =>
      overlapFromPairs(rpPairs(s, d),
        docs(s, d).select(col("doc_id"), col("source")))
    },

    // EMBEDDING OUTLIERS — per-class distance-to-centroid ranking (the
    // mislabel/noise detector): the 5 farthest members of every label's
    // centroid. Cross-engine exactness: vectors quantize to
    // round(x·10⁴) BIGINT (q118 doctrine), the centroid stays an exact
    // INTEGER sum vector plus a count, and the distance uses the dot
    // identity d² = v'·v' − 2·v'·c' + c'·c' on v' = v/10⁴,
    // c' = (s/n)/10⁴ doubles — every op exactly rounded, every dot a
    // codegen'd index-order kernel, mirrored term-for-term in the
    // oracle. Scale shape: centroids via posexplode →
    // (label, dim)-keyed integer partial aggregate (map-side collapse;
    // 64·|labels| rows out) → bounded per-label gather; members join
    // the 10-row centroid table BROADCAST; the per-label top-5 is a
    // rank window whose filter triggers WindowGroupLimit, so the
    // fixed-cardinality label exchange carries ≤ 5 rows per label per
    // partition — the fixed-partition window trap defused map-side.
    Q(
      "q206_emb_outliers",
      s"""WITH ei AS (SELECT vec_id, label,
        |    ${OracleSql.scaledInts} AS v
        |  FROM embeddings),
        |cs AS (
        |  SELECT label, i, sum(v[i]) AS s
        |  FROM ei, unnest(range(1, 65)) t(i) GROUP BY 1, 2),
        |cn AS (SELECT label, count(*) AS n FROM ei GROUP BY 1),
        |cent AS (
        |  SELECT cs.label, cn.n, list(cs.s ORDER BY cs.i) AS c
        |  FROM cs JOIN cn USING (label) GROUP BY 1, 2),
        |d2 AS (
        |  SELECT e.vec_id, e.label,
        |    ${OracleSql.l2Sq(OracleSql.scaled("e.v"),
              "((CAST(c.c[i] AS DOUBLE) / CAST(c.n AS DOUBLE)) / 10000.0)")}
        |      AS dist2
        |  FROM ei e JOIN cent c USING (label)),
        |rk AS (SELECT *, row_number() OVER (PARTITION BY label
        |         ORDER BY dist2 DESC, vec_id) AS r FROM d2)
        |SELECT CAST(label AS BIGINT) AS label, CAST(r AS BIGINT) AS rk,
        |  vec_id, round(dist2, 4) + 0 AS dist2
        |FROM rk WHERE r <= 5 ORDER BY label, rk""".stripMargin
    ) { (s, d) =>
      import graft.functions.ArrayOps
      val ei = emb(s, d).select(col("vec_id"), col("label"),
        RankKey.scaledInts.as("v"))
        .localCheckpoint(true) // two consumers: centroid sums + members
      val cs = ei.select(col("label"),
          posexplode(col("v")).as(Seq("i0", "x")))
        .groupBy(col("label"), (col("i0") + 1).as("i"))
        .agg(sum("x").as("s"), count(lit(1)).as("n"))
      val cent = cs.groupBy("label")
        .agg(max("n").as("n"),
          transform(array_sort(collect_list(struct(col("i"), col("s")))),
            t => t.getField("s")).as("c"))
        // c' = (s/n)/1e4 and its self-dot, computed ONCE per label
        .select(col("label"), col("n"),
          ArrayOps.bindOnce(transform(col("c"),
            x => (x.cast("double") / col("n").cast("double")) / 10000.0)) {
            cp => struct(cp.as("cp"),
              TextOps.dot(cp, cp).as("cc"))
          }.as("cx"))
        .select(col("label"), col("cx.cp").as("cp"), col("cx.cc").as("cc"))
      val d2 = ei.join(broadcast(cent), "label")
        .select(col("vec_id"), col("label"),
          ArrayOps.bindOnce(transform(col("v"),
            x => x.cast("double") / 10000.0)) { vp =>
            TextOps.dot(vp, vp) - lit(2d) * TextOps.dot(vp, col("cp")) +
              col("cc")
          }.as("dist2"))
      Scale.topK(d2, Seq("label"), Seq(col("dist2").desc, col("vec_id")), 5)
        .select(col("label").cast("long").as("label"),
          col("__rk").cast("long").as("rk"), col("vec_id"),
          (round(col("dist2"), 4) + lit(0.0)).as("dist2"))
        .orderBy("label", "rk")
    },

    // WINNOWING FINGERPRINTS (Schleimer-Wilkerson-Aiken, the MOSS
    // scheme) — the guarantee CDC (q115) and fixed shingles (q51) lack:
    // every match of >= w+k-1 tokens shares a fingerprint, with density
    // ~2/(w+1) instead of all-grams. fp_i = min over a w=4 window of
    // 60-bit 5-gram hashes; per-doc distinct fps, then the corpus
    // doc-frequency histogram (shared-fp mass = near-dup signal). Scale
    // shape: grams hash to fixed width BEFORE the doc-keyed window
    // exchange (8 B/gram); the window is doc-bounded; the distinct's
    // partial agg collapses fully map-side (doc rows are co-located
    // after the window); the fp exchange carries only the ~2/(w+1)
    // winnowed mass. Output is bounded by the max doc-frequency.
    Q(
      "q209_winnowing",
      s"""WITH tok AS (
        |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |kg AS (
        |  SELECT doc_id, len(ws) - 4 AS nk,
        |    unnest(range(1, len(ws) - 3)) AS p,
        |    unnest(list_transform(range(1, len(ws) - 3),
        |      i -> array_to_string(list_slice(ws, i, i + 4), ' '))) AS g
        |  FROM tok WHERE len(ws) >= 5),
        |kh AS (SELECT doc_id, nk, p, ${OracleSql.md560("g")} AS h FROM kg),
        |wm AS (
        |  SELECT doc_id, nk, p,
        |    min(h) OVER (PARTITION BY doc_id ORDER BY p
        |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
        |  FROM kh),
        |fps AS (SELECT DISTINCT doc_id, fp FROM wm WHERE p <= nk - 3),
        |df AS (SELECT fp, count(*) AS nd FROM fps GROUP BY 1)
        |SELECT CAST(nd AS BIGINT) AS doc_freq,
        |  CAST(count(*) AS BIGINT) AS n_fps
        |FROM df GROUP BY 1 ORDER BY doc_freq""".stripMargin
    ) { (s, d) =>
      winnowFps(docs(s, d))
        .groupBy("fp").agg(count(lit(1)).as("nd"))
        .groupBy(col("nd").cast("long").as("doc_freq"))
        .agg(count(lit(1)).cast("long").as("n_fps"))
        .orderBy("doc_freq")
    },

    // IVF RECALL EVAL — the embedding-side twin of q146's LSH recall
    // gate: measure recall@10 of the q58-style IVF retriever (8 coarse
    // cells, nprobe=2) against exact brute-force cosine truth on a fixed
    // 8-probe set, BEFORE trusting the index for semdedup/retrieval.
    // Scale shape: the centroid/probe seeds are two bounded memoized
    // collects; cell assignment is an INLINE argmax over 8 broadcast
    // centroid literals (the round-7 flat-path rule for K <= 16 — no
    // corpus x K crossJoin, no aggregate); the probe fan-out is a
    // broadcast crossJoin (x8); both top-10 lists come from ONE
    // groupBy(qid) with two MinKAgg gathers (O(k) state, map-side
    // combine — never a window over 8 giant partitions), the IVF side
    // via a sentinel key so the twin aggregates fuse (q109 rule). Rank
    // key is (-round(dot*1e4)) * 2^33 + vec_id — integer, tie-exact
    // cross-engine, and the decode is pmod.
    Q(
      "q215_ivf_recall",
      s"""WITH ${OracleSql.ivfAssign},
        |pr AS (
        |  SELECT d.vec_id AS qid, d.cid FROM dots d
        |  JOIN probes p ON d.vec_id = p.qid
        |  QUALIFY row_number() OVER (PARTITION BY d.vec_id
        |    ORDER BY CAST(round(dot * 10000) AS BIGINT) DESC, cid) <= 2),
        |bf AS (
        |  SELECT p.qid, e.vec_id FROM probes p
        |  JOIN embeddings e ON e.vec_id != p.qid
        |  QUALIFY row_number() OVER (PARTITION BY p.qid ORDER BY
        |    ${OracleSql.rq("e.embedding", "p.qv")} DESC, e.vec_id) <= 10),
        |cand AS (
        |  SELECT pr.qid, a.vec_id FROM pr
        |  JOIN assign a ON a.cid = pr.cid AND a.vec_id != pr.qid),
        |ivf AS (
        |  SELECT c.qid, c.vec_id FROM cand c
        |  JOIN embeddings e ON e.vec_id = c.vec_id
        |  JOIN embeddings q ON q.vec_id = c.qid
        |  QUALIFY row_number() OVER (PARTITION BY c.qid ORDER BY
        |    ${OracleSql.rq("e.embedding", "q.embedding")} DESC, c.vec_id) <= 10)
        |SELECT b.qid, ${OracleSql.recallCounts("i.vec_id")}
        |FROM bf b LEFT JOIN ivf i
        |  ON b.qid = i.qid AND b.vec_id = i.vec_id
        |GROUP BY b.qid ORDER BY b.qid""".stripMargin
    ) { (s, d) =>
      val (cents, probes) = ivfEvalSeeds(s, d)
      ivfRecallCore(s, emb(s, d), cents, probes)
    },

    // HARD-NEGATIVE MINING — the contrastive-training prep every
    // retrieval/embedding fine-tune runs: for each anchor, the top-5
    // highest-cosine vectors with a DIFFERENT label (near-misses that
    // teach the margin; easy negatives are worthless). Scale shape: the
    // 8 anchors are one bounded memoized collect broadcast across a
    // map-side cross join (×8); top-5 per anchor is a MinKAgg gather
    // (O(k) state, never a window over 8 corpus-scale partitions); the
    // negative's id AND label ride the rank key's low bits
    // ((-rq)·2³⁷ + vec_id·16 + label), so no join-back scan is needed
    // to report them. rdot is re-derived from the key — one integer per
    // candidate ever crosses the exchange.
    Q(
      "q216_hard_negatives",
      s"""WITH probes AS (SELECT vec_id AS qid, embedding AS qv,
        |    label AS ql
        |  FROM embeddings WHERE vec_id >= 10 AND vec_id < 18),
        |hn AS (
        |  SELECT p.qid, e.vec_id, e.label,
        |    ${OracleSql.rq("e.embedding", "p.qv")} AS rq
        |  FROM probes p JOIN embeddings e
        |    ON e.vec_id != p.qid AND e.label != p.ql
        |  QUALIFY row_number() OVER (PARTITION BY p.qid
        |    ORDER BY rq DESC, e.vec_id) <= 5)
        |SELECT qid,
        |  CAST(row_number() OVER (PARTITION BY qid
        |    ORDER BY rq DESC, vec_id) AS BIGINT) AS rk,
        |  vec_id, CAST(label AS BIGINT) AS neg_label,
        |  CAST(rq AS DOUBLE) / 10000 AS rdot
        |FROM hn ORDER BY qid, rk""".stripMargin
    ) { (s, d) => hardNegCore(s, emb(s, d), hardNegProbes(s, d)) },

    // PQ DISTORTION AUDIT — q138/q167 trust the 4x8 product quantizer;
    // this measures what it costs: among each probe's top-16 ADC
    // candidates, the pairwise rank inversions between ADC and exact
    // dot (Kendall-style discordance in ppm) — the validate-the-index
    // gate a retrieval team runs before shipping a codebook change.
    // Scale shape: codes/ADC are the q138 map-side stages (broadcast
    // codebook, broadcast 32-slot LUTs, fixed-order ADC adds); top-16
    // per probe is a MinKAgg gather (never a window over 3 corpus-scale
    // partitions — q138's output window is the shape this query
    // deliberately improves on); everything after the gather is a
    // 48-row table, eagerly checkpointed so the pair self-join does not
    // re-plan the corpus subtree (self-join doctrine).
    Q(
      "q217_pq_distortion",
      s"""WITH ${OracleSql.pqSubdots},
        |${OracleSql.pqCodes},
        |adc AS (
        |  SELECT l.vec_id AS qid, k.vec_id,
        |    CAST(round((${OracleSql.pqSlotSum("l.")}) * 10000)
        |      AS BIGINT) AS adc_q
        |  FROM subdots l JOIN codes k ON l.m = k.m AND l.cid = k.cid
        |  WHERE l.vec_id IN (20, 21, 22) AND k.vec_id != l.vec_id
        |  GROUP BY l.vec_id, k.vec_id),
        |top AS (
        |  SELECT qid, vec_id, adc_q FROM adc
        |  QUALIFY row_number() OVER (PARTITION BY qid
        |    ORDER BY adc_q DESC, vec_id) <= 16),
        |ex AS (
        |  SELECT t.qid, t.vec_id, t.adc_q,
        |    ${OracleSql.rq("e.embedding", "q.embedding")} AS ex_q
        |  FROM top t JOIN embeddings e ON e.vec_id = t.vec_id
        |  JOIN embeddings q ON q.vec_id = t.qid),
        |pairs AS (
        |  SELECT a.qid,
        |    sum(CASE WHEN (a.adc_q > b.adc_q AND a.ex_q < b.ex_q)
        |           OR (a.adc_q < b.adc_q AND a.ex_q > b.ex_q)
        |        THEN 1 ELSE 0 END) AS inv,
        |    count(*) AS np
        |  FROM ex a JOIN ex b ON a.qid = b.qid AND a.vec_id < b.vec_id
        |  GROUP BY a.qid)
        |SELECT qid, CAST(inv AS BIGINT) AS inversions,
        |  CAST(np AS BIGINT) AS n_pairs,
        |  CAST((inv * 1000000) // np AS BIGINT) AS distortion_ppm
        |FROM pairs ORDER BY qid""".stripMargin
    ) { (s, d) => pqDistortionCore(emb(s, d), Seq(20L, 21L, 22L)) },

    // MAXSIM (LATE-INTERACTION) RETRIEVAL — the ColBERT-style scoring a
    // multi-vector retriever runs: treat each 64-dim vector as 4 16-dim
    // token vectors; score(q, d) = Σ_i max_j <q_i, d_j> (each query
    // token matches its best document token). Exactly computable and
    // integer-quantized per (i, j) BEFORE the max/sum, so both engines
    // agree bit-for-bit. Scale shape: the 4 query token-sets are one
    // bounded memoized collect broadcast over a map-side cross join
    // (×4); the 16 subspace dots are codegen'd slice kernels; top-5 per
    // query is a MinKAgg gather — never a window over 4 corpus-scale
    // partitions; the score rides the rank key (exact negative-key
    // quotient decode).
    Q(
      "q218_maxsim",
      MaxSimOracle.sql
    ) { (s, d) => maxSimCore(s, emb(s, d), maxSimProbes(s, d)) },

    // DEDUP SURVIVOR BIAS — the audit run after exact keep-first dedup:
    // did removing duplicates SKEW the language mix? Reports each
    // lang's corpus share before and after (independently floored ppm)
    // and the absolute shift. Scale shape: ONE corpus-keyed exchange
    // (60-bit text hashes, min_by keeps the survivor's lang as an
    // AGGREGATE — no per-group window, map-side partials); a second
    // column-pruned (lang-only) scan for the pre counts (two cheap
    // scans beat carrying lang through the hash exchange twice — q191's
    // measured rule); both lang tables are bounded and checkpointed so
    // their scalar totals don't re-plan the scans (q198/q203 lesson).
    Q(
      "q220_dedup_shift",
      s"""WITH k AS (
        |  SELECT lang, doc_id, ${OracleSql.md560("text")} AS h FROM documents),
        |post AS (
        |  SELECT kl AS lang, count(*) AS c_post FROM (
        |    SELECT h, min_by(lang, doc_id) AS kl FROM k GROUP BY h) t
        |  GROUP BY kl),
        |pre AS (SELECT lang, count(*) AS c_pre FROM documents
        |        GROUP BY lang),
        |tot AS (SELECT (SELECT sum(c_pre) FROM pre) AS np,
        |               (SELECT sum(c_post) FROM post) AS nq)
        |SELECT p.lang, CAST(c_pre AS BIGINT) AS n_pre,
        |  CAST(coalesce(c_post, 0) AS BIGINT) AS n_post,
        |  CAST(abs(coalesce(c_post, 0) * 1000000 // tot.nq
        |         - c_pre * 1000000 // tot.np) AS BIGINT) AS shift_ppm
        |FROM pre p LEFT JOIN post USING (lang), tot
        |ORDER BY p.lang""".stripMargin
    ) { (s, d) => dedupShiftCore(docs(s, d)) },

    // NEAR-DEDUP SAVINGS REPORT — the number a curation team actually
    // budgets by: per source, how many docs and how many chars does
    // near-dedup reclaim if each q92 connected component keeps only its
    // q111 canonical member (longest, ties -> min id)? Scale shape: CC
    // over the degree-bounded rpEdges (existing machinery); the member
    // table (groups ⋈ docs) is checkpointed ONCE for its three
    // consumers (best-len, canonical pick, dropped mass — q203 rule);
    // member-scale is dup mass, not corpus mass; the per-source totals
    // come from one column-pruned corpus scan; final tables are
    // |sources|-bounded.
    Q(
      "q223_dedup_savings",
      s"""${rpGroupsSql("id AS doc_id", "group_id")},
        |g AS (SELECT grp.doc_id, grp.group_id, d.source, d.n_chars
        |      FROM grp JOIN documents d USING (doc_id)),
        |best AS (SELECT group_id, max(n_chars) AS best_len FROM g
        |         GROUP BY group_id),
        |canon AS (
        |  SELECT g.group_id, min(doc_id) AS canonical_id
        |  FROM g JOIN best USING (group_id)
        |  WHERE n_chars = best_len GROUP BY g.group_id),
        |dropped AS (
        |  SELECT source, n_chars FROM g JOIN canon USING (group_id)
        |  WHERE doc_id != canonical_id),
        |tot AS (SELECT source, count(*) AS n_docs,
        |          sum(n_chars) AS chars_total
        |        FROM documents GROUP BY source),
        |dr AS (SELECT source, count(*) AS n_dropped,
        |         sum(n_chars) AS chars_saved
        |       FROM dropped GROUP BY source)
        |SELECT t.source, CAST(n_docs AS BIGINT) AS n_docs,
        |  CAST(coalesce(n_dropped, 0) AS BIGINT) AS n_dropped,
        |  CAST(chars_total AS BIGINT) AS chars_total,
        |  CAST(coalesce(chars_saved, 0) AS BIGINT) AS chars_saved,
        |  CAST(coalesce(chars_saved, 0) * 1000000 // chars_total
        |    AS BIGINT) AS saved_ppm
        |FROM tot t LEFT JOIN dr USING (source)
        |ORDER BY t.source""".stripMargin
    ) { (s, d) =>
      val grp = rpGroups(s, d, "doc_id", "group_id")
      dedupSavingsCore(grp,
        docs(s, d).select(col("doc_id"), col("source"), col("n_chars")))
    },

    // RETRIEVAL-QUALITY EVAL (nDCG@10 + MRR@10) — the graded metric
    // q215/q146 (plain recall) can't express: does the embedding space
    // rank SAME-LABEL neighbors first? Binary relevance = label match;
    // the log2 discount table is a shared integer literal
    // (floor(1e6/log2(r+1)), r=1..10) so neither engine touches libm,
    // and ndcg/mrr are floor-divided ppm BIGINTs — tie-exact
    // cross-engine. Scale shape: 16 probes are one bounded memoized
    // collect broadcast across a map-side cross join (×16); top-10 AND
    // the per-probe relevant-candidate count come from ONE groupBy(qid)
    // (MinKAgg gather + a fused conditional count — the q109 twin-agg
    // rule); label rides the rank key's 4 low bits (q216 encoding, same
    // loud guard) so no join-back scan; everything after the gather is
    // a 16-row table.
    Q(
      "q224_knn_ndcg",
      s"""WITH disc(r, dc, pf) AS (VALUES
        |  (1,1000000,1000000),(2,630929,1630929),(3,500000,2130929),
        |  (4,430676,2561605),(5,386852,2948457),(6,356207,3304664),
        |  (7,333333,3637997),(8,315464,3953461),(9,301029,4254490),
        |  (10,289064,4543554)),
        |probes AS (SELECT vec_id AS qid, embedding AS qv, label AS ql
        |  FROM embeddings WHERE vec_id >= 10 AND vec_id < 26),
        |cand AS (
        |  SELECT p.qid, p.ql, e.vec_id, e.label,
        |    ${OracleSql.rq("e.embedding", "p.qv")} AS rq
        |  FROM probes p JOIN embeddings e ON e.vec_id != p.qid),
        |nrel AS (SELECT qid, CAST(count(*) FILTER (label = ql) AS BIGINT)
        |    AS n_rel
        |  FROM cand GROUP BY qid),
        |top10 AS (
        |  SELECT qid, ql, label,
        |    row_number() OVER (PARTITION BY qid ORDER BY rq DESC, vec_id)
        |      AS r
        |  FROM cand
        |  QUALIFY row_number() OVER (PARTITION BY qid
        |    ORDER BY rq DESC, vec_id) <= 10),
        |dcg AS (
        |  SELECT t.qid,
        |    CAST(sum(CASE WHEN t.label = t.ql THEN disc.dc ELSE 0 END)
        |      AS BIGINT) AS dcg,
        |    CAST(count(*) FILTER (t.label = t.ql) AS BIGINT) AS hits,
        |    CAST(coalesce(min(t.r) FILTER (t.label = t.ql), 0) AS BIGINT)
        |      AS frank
        |  FROM top10 t JOIN disc ON disc.r = t.r GROUP BY t.qid)
        |SELECT d.qid, d.hits,
        |  CAST(CASE WHEN n.n_rel = 0 THEN 0 ELSE d.dcg * 1000000 //
        |    (SELECT pf FROM disc WHERE r = least(n.n_rel, 10)) END
        |    AS BIGINT) AS ndcg_ppm,
        |  CAST(CASE WHEN d.frank = 0 THEN 0 ELSE 1000000 // d.frank END
        |    AS BIGINT) AS mrr_ppm
        |FROM dcg d JOIN nrel n ON d.qid = n.qid
        |ORDER BY d.qid""".stripMargin
    ) { (s, d) => knnNdcgCore(s, emb(s, d), ndcgProbes(s, d)) },

    // EMBEDDING COVARIANCE AUDIT — the anisotropy check an embedding
    // team runs before trusting cosine geometry (q55/q121/q215): which
    // dimension PAIRS carry correlated mass? Top-16 off-diagonal
    // covariances of the 64-dim space, in fixed-point: components
    // quantized to 1e4, cov_ij = n·Σqiqj − Σqi·Σqj — pure BIGINT, no
    // float summation order anywhere. Scale shape: ONE corpus scan
    // through a fused GramAgg kernel (pair products + dim sums + count
    // in one O(d²) buffer; one 33 KB partial per task — never an
    // explode of n·d²/2 product rows, which HOF lambdas would build
    // interpreted: measured 44 s vs 2.6 s at the 100× replica);
    // everything after the gather is a 2016-row table. Integer
    // envelope: |q| ≤ 6e3 here, so n·Σqiqj is exact through n ≈ 5e5 —
    // ENFORCED in both engines by a rank-free hash-sampled subset
    // (hash·n < 5e5·M; a keep-everything no-op at gate SFs, ~5e5 rows
    // binomially past it — see embCovarianceCore), keeping the
    // envelope AND the cost flat at any corpus size.
    Q(
      "q225_emb_covariance",
      s"""WITH q AS (SELECT vec_id,
        |    ${OracleSql.scaledInts} AS qv
        |  FROM embeddings
        |  WHERE ${OracleSql.mix("vec_id")} *
        |    (SELECT count(*) FROM embeddings) <
        |    CAST(500000 AS BIGINT) * 1000000007),
        |dsum AS (
        |  SELECT i, CAST(sum(qv[i + 1]) AS BIGINT) AS s,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM q, range(0, 64) r(i) GROUP BY i),
        |psum AS (
        |  SELECT i, j, CAST(sum(qv[i + 1] * qv[j + 1]) AS BIGINT) AS sij
        |  FROM q, range(0, 64) r1(i), range(0, 64) r2(j)
        |  WHERE j > i GROUP BY i, j),
        |cov AS (
        |  SELECT p.i, p.j, CAST(a.n * p.sij - a.s * b.s AS BIGINT) AS cov
        |  FROM psum p JOIN dsum a ON a.i = p.i JOIN dsum b ON b.i = p.j)
        |SELECT CAST(row_number() OVER (ORDER BY abs(cov) DESC, i, j)
        |    AS BIGINT) AS rk,
        |  CAST(i AS BIGINT) AS dim_i, CAST(j AS BIGINT) AS dim_j, cov
        |FROM cov ORDER BY abs(cov) DESC, i, j LIMIT 16""".stripMargin
    ) { (s, d) => embCovarianceCore(emb(s, d)) },

    // HUBNESS AUDIT — the known pathology of high-dim kNN (Radovanović
    // et al.): a few "hub" vectors appear in a huge share of other
    // points' neighbor lists, silently skewing kNN-based dedup,
    // retrieval and hard-negative mining. k-occurrence distribution:
    // for every vector, in how many other vectors' top-5 (within the
    // RP-bucketed candidate graph, rdot > 0.15 — the same graph
    // q59/q88/q92 trust) does it appear? Scale shape: both directions
    // of each pair come from ONE pass via a 2-element map-side explode
    // (a self-union either replans the bucket self-join per side or
    // checkpoints the full pre-top-5 pair mass — measured 32.0 vs
    // 11.4 s at the 1000x replica); top-5 per src is a MinKAgg gather
    // (corpus-scale groups, O(k) state, map-side combine — no sort);
    // the k-occurrence join is id-keyed; the histogram exchange is
    // |max-occ|-bounded. The zero bucket comes from a column-pruned
    // left join against the corpus id list.
    Q(
      "q226_hubness",
      s"""WITH pairs AS ($rpPairsSql),
        |und AS (SELECT id_a AS src, id_b AS dst, rdot FROM pairs
        |        UNION ALL SELECT id_b, id_a, rdot FROM pairs),
        |top5 AS (
        |  SELECT src, dst FROM und
        |  QUALIFY row_number() OVER (PARTITION BY src
        |    ORDER BY CAST(round(rdot * 10000) AS BIGINT) DESC, dst) <= 5),
        |occ AS (SELECT dst, count(*) AS k FROM top5 GROUP BY dst)
        |SELECT CAST(coalesce(occ.k, 0) AS BIGINT) AS k_occ,
        |  CAST(count(*) AS BIGINT) AS n_vecs
        |FROM embeddings e LEFT JOIN occ ON occ.dst = e.vec_id
        |GROUP BY 1 ORDER BY 1""".stripMargin
    ) { (s, d) =>
      hubnessCore(s,
        rpPairs(s, d).select(col("id_a"), col("id_b"),
          expr("cast(round(rdot * 10000) as bigint)").as("rq")),
        emb(s, d).select(col("vec_id")))
    },

    // DUP-CLUSTER COHESION AUDIT — before q223 deletes everything but
    // one canonical per group, validate the GROUPS: transitive LSH
    // closure chains A~B~C even when sim(A,C) is weak, so a cluster's
    // weakest edge (and its size) is the "is this one document or a
    // topic?" gate a dedup rollout reviews. Per CC group: size, edge
    // count, weakest and mean intra-edge similarity (fixed-point 1e4),
    // rolled up by group size so output stays bounded. Scale shape:
    // the q92 CC machinery (degree-bounded edges, per-round
    // checkpoints); edge stats are ONE id_a-keyed shuffle_hash join of
    // the (already checkpointed) edge table against the group map;
    // everything after is group-scale then |distinct-size|-scale.
    Q(
      "q228_cluster_cohesion",
      s"""${rpGroupsSql("id", "lbl")},
        |sizes AS (SELECT lbl, count(*) AS sz FROM grp GROUP BY lbl),
        |er AS (
        |  SELECT g.lbl, CAST(round(p.rdot * 10000) AS BIGINT) AS rq
        |  FROM pairs p JOIN grp g ON g.id = p.id_a),
        |es AS (SELECT lbl, count(*) AS n_edges, min(rq) AS min_rq,
        |         sum(rq) AS sum_rq
        |       FROM er GROUP BY lbl),
        |per AS (SELECT s.sz, e.n_edges, e.min_rq, e.sum_rq
        |        FROM sizes s JOIN es e USING (lbl))
        |SELECT CAST(sz AS BIGINT) AS size,
        |  CAST(count(*) AS BIGINT) AS n_groups,
        |  CAST(min(min_rq) AS BIGINT) AS weakest_rq,
        |  CAST(sum(n_edges) AS BIGINT) AS n_edges,
        |  CAST(sum(sum_rq) // sum(n_edges) AS BIGINT) AS mean_rq
        |FROM per GROUP BY sz ORDER BY size""".stripMargin
    ) { (s, d) =>
      val edges = rpEdges(s, d)
      val grp = graft.functions.GraphOps
        .connectedComponents(edges, "id_a", "id_b")
      clusterCohesionCore(edges, grp)
    },

    // DEDUP THRESHOLD SWEEP — the tuning curve a dedup rollout reviews
    // before picking its similarity cutoff: for each candidate
    // threshold (0.20..0.80 fixed-point), how many candidate pairs
    // survive and how many distinct documents they touch. One pass
    // over the SAME capped bucketed pair mass every near-dup operator
    // trusts — not seven. Scale shape: the pair table is checkpointed
    // narrow once (id, id, rq — bounded by the bucket caps); each pair
    // fans out map-side to only the thresholds it passes (a 7-element
    // literal-array filter, never a pairs×7 join); both rollups
    // (pair counts, distinct-doc counts) run on the fan-out with
    // partial-agg collapse; the output grid is 7-row bounded.
    Q(
      "q232_threshold_sweep",
      s"""WITH pairs AS ($rpPairsSql),
        |t(thr) AS (VALUES (2000), (3000), (4000), (5000), (6000),
        |  (7000), (8000)),
        |pt AS (
        |  SELECT t.thr, p.id_a, p.id_b FROM pairs p
        |  JOIN t ON CAST(round(p.rdot * 10000) AS BIGINT) >= t.thr),
        |np AS (SELECT thr, count(*) AS n_pairs FROM pt GROUP BY thr),
        |nd AS (
        |  SELECT thr, count(DISTINCT id) AS n_docs FROM (
        |    SELECT thr, id_a AS id FROM pt
        |    UNION ALL SELECT thr, id_b FROM pt) u
        |  GROUP BY thr)
        |SELECT CAST(t.thr AS BIGINT) AS thr,
        |  CAST(coalesce(np.n_pairs, 0) AS BIGINT) AS n_pairs,
        |  CAST(coalesce(nd.n_docs, 0) AS BIGINT) AS n_docs
        |FROM t LEFT JOIN np USING (thr) LEFT JOIN nd USING (thr)
        |ORDER BY thr""".stripMargin
    ) { (s, d) =>
      thresholdSweepCore(s,
        rpPairs(s, d).select(col("id_a"), col("id_b"),
          expr("cast(round(rdot * 10000) as bigint)").as("rq")))
    },

    // SQ8 RECALL AUDIT — the q217 exercise for SCALAR int8 quantization
    // (the compression every production vector store ships first): per
    // dim, affine-map the corpus range to [-127, 127], then measure
    // recall@10 of int8-dot retrieval against exact-dot truth on the 16
    // eval probes. The int8 dot is EXACT in doubles (|q| ≤ 127 ⇒
    // products ≤ 16129, 64-term sums ≪ 2^53), so the codegen'd
    // dot_product kernel gives an integer score identical in both
    // engines regardless of summation order — no rounding convention
    // needed on the quantized side. Scale shape: the per-dim (min, max)
    // ranges are ONE bounded 64-row aggregate (memoized collect, q215
    // seed rule — not a broadcast-scalar subquery); quantization is a
    // map stage; both top-10 gathers (exact + SQ8) come from ONE
    // groupBy(qid) with two MinKAgg gathers; everything after is a
    // 16-row table.
    Q(
      "q233_sq8_recall",
      s"""WITH ${OracleSql.sqScored(Seq(8 -> "qd"))},
        |${OracleSql.scTop10("sq", "qd")}
        |SELECT b.qid, ${OracleSql.recallCounts("s.vec_id")}
        |FROM bf b LEFT JOIN sq s
        |  ON b.qid = s.qid AND b.vec_id = s.vec_id
        |GROUP BY b.qid ORDER BY b.qid""".stripMargin
    ) { (s, d) => sq8RecallCore(s, emb(s, d), ndcgProbes(s, d),
        sqRanges(s, d)) },

    // MINHASH ESTIMATOR CALIBRATION — q51's signatures drive q52's
    // banding, but HOW GOOD is the k=4 estimate itself? On the q54
    // adjacent-pair calibration sample (a deterministic, corpus-scale
    // sample — calibration never needs candidate discovery), compare
    // the minhash-estimated Jaccard (matching slots × 250000 ppm)
    // against the exact hashed-shingle Jaccard, histogrammed by error
    // decile with mean est/exact per bucket. Scale shape: ONE scan,
    // ONE shingle+signature computation per doc, block-window pairing
    // (doc_id div 64 co-locates adjacent-id pairs, so each shingle
    // array ships ONCE — r11; the old co-group shipped every array
    // twice, and a self-join of computed shingle tables would compute
    // them twice too); WindowExec buffers ≤65 rows; the error rollup
    // is 11-row bounded.
    Q(
      "q236_minhash_calibration",
      s"""WITH ${OracleSql.wordShingleSets},
        |sg AS (
        |  SELECT doc_id, sh,
        |    [list_min(list_transform(sh,
        |       x -> (1000003 * (x % 4294967291) + 12345) % 4294967291)),
        |     list_min(list_transform(sh,
        |       x -> (2000029 * (x % 4294967291) + 54321) % 4294967291)),
        |     list_min(list_transform(sh,
        |       x -> (3000073 * (x % 4294967291) + 98765) % 4294967291)),
        |     list_min(list_transform(sh,
        |       x -> (4000037 * (x % 4294967291) + 13579) % 4294967291))]
        |      AS sig
        |  FROM hs WHERE len(sh) >= 1),
        |pr AS (
        |  SELECT a.sh AS sa, a.sig AS ga, b.sh AS sb, b.sig AS gb
        |  FROM sg a JOIN sg b ON b.doc_id = a.doc_id + 1),
        |e AS (
        |  SELECT CAST(list_sum(list_transform(range(1, 5),
        |      j -> CASE WHEN ga[j] = gb[j] THEN 1 ELSE 0 END))
        |      AS BIGINT) * 250000 AS est,
        |    CAST(len(list_intersect(sa, sb)) AS BIGINT) * 1000000 //
        |      len(list_distinct(list_concat(sa, sb))) AS exact
        |  FROM pr)
        |SELECT CAST(abs(est - exact) // 100000 AS BIGINT) AS err_decile,
        |  CAST(count(*) AS BIGINT) AS n_pairs,
        |  CAST(sum(est) // count(*) AS BIGINT) AS mean_est_ppm,
        |  CAST(sum(exact) // count(*) AS BIGINT) AS mean_exact_ppm
        |FROM e GROUP BY 1 ORDER BY err_decile""".stripMargin
    ) { (s, d) => minhashCalibrationCore(docs(s, d)) },

    // BLOOM-PREFILTER FP AUDIT — decontamination joins (q109-style)
    // against a benchmark set usually run behind a hashed-bucket
    // prefilter (a 2^16-bucket Bloom stand-in) so the expensive exact
    // join only sees candidates. This measures what that prefilter
    // costs: per source, how many probe docs the bucket filter PASSES
    // vs how many are TRUE exact matches — the false-positive ppm the
    // exact join must absorb. Fixed 2^16 buckets is deliberate: the
    // audit EXPOSES the fixed-width FP growth the adaptive-width
    // doctrine exists to avoid (real deployments size m from |bench|;
    // this query is the gauge that tells them to). Scale shape: the
    // benchmark key table is |bench|-scale and checkpointed once for
    // its two distinct-set consumers; both membership tests are
    // broadcast joins (a benchmark is small by nature) on ONE probe
    // scan; the rollup is |sources|-bounded.
    Q(
      "q237_bloom_prefilter",
      s"""WITH kb AS (
        |  SELECT doc_id, source, dg, dg % 65536 AS bucket FROM (
        |    SELECT doc_id, source, ${OracleSql.md560("'bp|' || text")} AS dg
        |    FROM documents) k),
        |bench AS (SELECT bucket, dg FROM kb WHERE doc_id % 97 = 0),
        |bb AS (SELECT DISTINCT bucket FROM bench),
        |bd AS (SELECT DISTINCT dg FROM bench),
        |pr AS (
        |  SELECT kb.source,
        |    CASE WHEN bb.bucket IS NULL THEN 0 ELSE 1 END AS pass,
        |    CASE WHEN bd.dg IS NULL THEN 0 ELSE 1 END AS tru
        |  FROM kb
        |  LEFT JOIN bb ON bb.bucket = kb.bucket
        |  LEFT JOIN bd ON bd.dg = kb.dg
        |  WHERE kb.doc_id % 97 != 0)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(pass) AS BIGINT) AS n_pass,
        |  CAST(sum(tru) AS BIGINT) AS n_true,
        |  CAST((sum(pass) - sum(tru)) * 1000000 //
        |    greatest(sum(pass), 1) AS BIGINT) AS fp_ppm
        |FROM pr GROUP BY source ORDER BY source""".stripMargin
    ) { (s, d) =>
      bloomPrefilterCore(docs(s, d).select(col("doc_id"), col("source"),
        col("text")))
    },

    // MULTI-PROBE RECALL SWEEP — q215 fixes nprobe=2; this is the
    // TUNING CURVE (recall@10 at nprobe ∈ {1, 2, 4}) an IVF rollout
    // reads before picking its latency/recall point — the retrieval
    // twin of q232's threshold sweep. All three probe levels AND the
    // exact-truth gather come from ONE keyed pass: cell assignment is
    // the q215 inline argmax over 8 broadcast centroid literals (flat
    // path, K ≤ 16); each candidate's key feeds FOUR MinKAgg gathers
    // in one groupBy(qid) (sentinel Long.MaxValue for non-members —
    // the q215 fusion generalized to n levels; never a window, never
    // one pass per level); everything after is an 8-row table
    // unpivoted to 24.
    Q(
      "q238_multiprobe_sweep",
      s"""WITH ${OracleSql.ivfAssign},
        |pr AS (
        |  SELECT d.vec_id AS qid, d.cid,
        |    row_number() OVER (PARTITION BY d.vec_id
        |      ORDER BY CAST(round(dot * 10000) AS BIGINT) DESC, cid)
        |      AS cr
        |  FROM dots d JOIN probes p ON d.vec_id = p.qid
        |  QUALIFY cr <= 4),
        |sc AS (
        |  SELECT p.qid, e.vec_id, a.cid,
        |    ${OracleSql.rq("e.embedding", "p.qv")} AS rq
        |  FROM probes p
        |  JOIN embeddings e ON e.vec_id != p.qid
        |  JOIN assign a ON a.vec_id = e.vec_id),
        |${OracleSql.scTop10("bf", "rq")},
        |n(np) AS (VALUES (1), (2), (4)),
        |iv AS (
        |  SELECT sc.qid, n.np, sc.vec_id FROM sc JOIN n ON EXISTS (
        |    SELECT 1 FROM pr WHERE pr.qid = sc.qid AND pr.cid = sc.cid
        |      AND pr.cr <= n.np)
        |  QUALIFY row_number() OVER (PARTITION BY sc.qid, n.np
        |    ORDER BY sc.rq DESC, sc.vec_id) <= 10)
        |SELECT b.qid, CAST(n.np AS BIGINT) AS nprobe,
        |  ${OracleSql.recallCounts("i.vec_id")}
        |FROM bf b CROSS JOIN n
        |LEFT JOIN iv i ON i.qid = b.qid AND i.np = n.np
        |  AND i.vec_id = b.vec_id
        |GROUP BY b.qid, n.np ORDER BY b.qid, nprobe""".stripMargin
    ) { (s, d) =>
      val (cents, probes) = multiProbeSeeds(s, d)
      multiProbeCore(s, emb(s, d), cents, probes)
    },

    // CANONICAL FLIP RATE — the day-2 stability audit an incremental
    // dedup pipeline (q116/q159/q220) runs before re-emitting training
    // shards: when the day-2 docs (doc_id % 10 == 7, the q168 ingest
    // convention) land, how many DAY-1 docs see their dedup canonical
    // change? A flip invalidates the shard the doc was packed into, so
    // the flip ppm IS the recompute bill. Canonical = q223's rule
    // (longest, then lowest id) on both days' CC groups; absent-from-
    // any-group docs are self-canonical. Scale shape: the q92 CC
    // machinery twice (day-1 edge subset + full), each member table
    // checkpointed once for its three consumers (q223 rule, dup-mass
    // scale); the flip join is doc-keyed; the rollup is
    // |sources|-bounded.
    Q(
      "q239_canonical_flip", {
      // the 32 strongest `allp` edges of each id_a, of the pairs `where`
      def top32(where: String) =
        s"""SELECT id_a, id_b FROM (
           |    SELECT id_a, id_b, row_number() OVER (PARTITION BY id_a
           |      ORDER BY rdot DESC, id_b) AS rn FROM allp$where) r
           |  WHERE rn <= 32""".stripMargin
      // day i's components over `edges`: CTEs u<i>, r<i>, g<i>(doc_id, lbl)
      def groups(i: Int, edges: String) =
        s"""u$i AS (SELECT id_a AS src, id_b AS dst FROM $edges
           |       UNION ALL SELECT id_b, id_a FROM $edges),
           |r$i(id, r) AS (
           |  SELECT src, src FROM (SELECT DISTINCT src FROM u$i) t
           |  UNION
           |  SELECT u.src, rc.r FROM u$i u JOIN r$i rc ON rc.id = u.dst),
           |g$i AS (SELECT id AS doc_id, min(r) AS lbl FROM r$i GROUP BY id)"""
          .stripMargin
      // CTE m<i>(doc_id, can): each g<i> member's canonical (longest,
      // then lowest id)
      def canon(i: Int) =
        s"""m$i AS (
           |  SELECT g.doc_id, c.can FROM g$i g JOIN (
           |    SELECT gg.lbl, min(gg.doc_id) AS can
           |    FROM (SELECT g$i.doc_id, g$i.lbl, d.n_chars FROM g$i
           |          JOIN documents d USING (doc_id)) gg
           |    JOIN (SELECT g$i.lbl, max(d.n_chars) AS bl FROM g$i
           |          JOIN documents d USING (doc_id) GROUP BY g$i.lbl) b
           |      ON b.lbl = gg.lbl AND gg.n_chars = b.bl
           |    GROUP BY gg.lbl) c ON c.lbl = g.lbl)""".stripMargin
      s"""WITH RECURSIVE allp AS (SELECT * FROM ($rpPairsSql) fp),
        |pairs AS (${top32("")}),
        |p1 AS (${top32("\n    WHERE id_a % 10 != 7 AND id_b % 10 != 7")}),
        |${groups(1, "p1")},
        |${groups(2, "pairs")},
        |${canon(1)},
        |${canon(2)},
        |f AS (
        |  SELECT d.source,
        |    CASE WHEN coalesce(m1.can, d.doc_id) !=
        |      coalesce(m2.can, d.doc_id) THEN 1 ELSE 0 END AS fl
        |  FROM documents d
        |  LEFT JOIN m1 ON m1.doc_id = d.doc_id
        |  LEFT JOIN m2 ON m2.doc_id = d.doc_id
        |  WHERE d.doc_id % 10 != 7)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(fl) AS BIGINT) AS n_flipped,
        |  CAST(sum(fl) * 1000000 // count(*) AS BIGINT) AS flip_ppm
        |FROM f GROUP BY source ORDER BY source""".stripMargin
    }
    ) { (s, d) =>
      // Day-1 edges are degree-bounded over DAY-1 PAIRS ONLY — filtering
      // the full-corpus top-32 instead lets a day-2 neighbor evict a
      // day-1 edge from a node's budget, so the "day-1" groups would not
      // be what a real day-1 run produced (a bias in the very stability
      // metric this query sells). One shared pair scan (checkpointed —
      // the bucket self-join must not replan per side), two top-32
      // windows; the oracle ranks the same two subsets of one pair CTE.
      val pr = rpPairs(s, d).localCheckpoint(true)
      // r14: the two day-pipelines (bound -> CC, eager small jobs) are
      // independent — run them as OVERLAPPED jobs so each CC round's
      // straggler tail backfills with the other side's work instead of
      // idling the cluster (optimization-guide §2.6; actions are only
      // sequential because driver code calls them sequentially).
      // Scheduling cannot change results: each side's computation is
      // self-contained and deterministic.
      // blocking{} marks the Spark actions for the global pool's blocking
      // manager, and the Await is FINITE (generous — r15 ADVICE item): a
      // fatal error (OOM) inside a Future body is NOT captured by
      // NonFatal-only Future completion, which with Duration.Inf would
      // hang the query forever instead of failing the run.
      import scala.concurrent.{blocking, Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      val f2 = Future {
        blocking {
          graft.functions.GraphOps.connectedComponents(degreeBounded(pr),
            "id_a", "id_b")
        }
      }
      val f1 = Future {
        blocking {
          graft.functions.GraphOps.connectedComponents(
            degreeBounded(pr.filter(col("id_a") % 10 =!= 7 &&
              col("id_b") % 10 =!= 7)), "id_a", "id_b")
        }
      }
      val dq = docs(s, d).select(col("doc_id"), col("source"),
        col("n_chars"))
      val tmo = scala.concurrent.duration.Duration(4, "hours")
      canonicalFlipCore(Await.result(f1, tmo), Await.result(f2, tmo), dq)
    },

    // KMV CROSS-SOURCE OVERLAP — the bottom-k (KMV / theta) sketch IS
    // the 100 TB way to plan dedup across crawls: per source, the 128
    // smallest distinct 32-bit shingle hashes form a fixed-size sketch;
    // merging two sketches estimates Jaccard as |both ∩ bottom-128 of
    // the union| / 128 — no cross-source join over corpus-scale sets.
    // This query runs the estimator AND the exact hashed-shingle
    // Jaccard side by side (err_ppm), calibrating the sketch before a
    // deployment trusts it where the exact path is unaffordable.
    // Scale shape: the distinct (source, h) subtree is recomputed per
    // consumer (per-source sketch+count; per-h source sets) — the r11
    // A/B measured recompute faster than a DISK_ONLY barrier at every
    // replica scale (see kmvOverlapCore); the exact intersection is a
    // bucket-collect (collect_set bounded by |sources|, pairs via
    // combinations2 — never a corpus self-join); sketches and the 190
    // pair rows ride a broadcast self-cross of the |sources|-row
    // aggregate. Integer envelope: intersections are counts of DISTINCT
    // 32-bit hashes, so i ≤ 2^32 and i·1e6 ≤ 4.3e15 — the hash width
    // bounds the arithmetic at ANY corpus size (at 10^12 shingles the
    // 32-bit space saturates and both engines measure the same
    // saturated sets, so the calibration stays exact).
    Q(
      "q240_kmv_overlap", {
      // the exact Jaccard of the two sources' shingle sets, ppm
      val exact = """(coalesce(ex.i, 0) * 1000000)
        |    // (p.n_1 + p.n_2 - coalesce(ex.i, 0))""".stripMargin
      s"""WITH shr AS (
        |  SELECT source, unnest(${OracleSql.shingles("ws")}) AS s
        |  FROM (SELECT source, string_split(text, ' ') AS ws
        |        FROM documents) t),
        |hv AS (
        |  SELECT DISTINCT source,
        |    ${OracleSql.md5Int("s")} AS h
        |  FROM shr),
        |sz AS (SELECT source, CAST(count(*) AS BIGINT) AS n
        |       FROM hv GROUP BY 1),
        |bot AS (
        |  SELECT source, h FROM (
        |    SELECT source, h,
        |      row_number() OVER (PARTITION BY source ORDER BY h) AS r
        |    FROM hv) t WHERE r <= 128),
        |pairs AS (SELECT a.source AS src_1, b.source AS src_2,
        |            a.n AS n_1, b.n AS n_2
        |          FROM sz a JOIN sz b ON a.source < b.source),
        |ex AS (
        |  SELECT a.source AS es1, b.source AS es2,
        |    CAST(count(*) AS BIGINT) AS i
        |  FROM hv a JOIN hv b ON a.h = b.h AND a.source < b.source
        |  GROUP BY 1, 2),
        |uh AS (
        |  SELECT p.src_1, p.src_2, t.h,
        |         max(CASE WHEN t.source = p.src_1 THEN 1 ELSE 0 END) AS ia,
        |         max(CASE WHEN t.source = p.src_2 THEN 1 ELSE 0 END) AS ib
        |  FROM pairs p JOIN bot t ON t.source = p.src_1 OR t.source = p.src_2
        |  GROUP BY 1, 2, 3),
        |est AS (
        |  SELECT src_1 AS ts1, src_2 AS ts2, CAST(count(*) AS BIGINT) AS ssz,
        |         CAST(sum(CASE WHEN ia = 1 AND ib = 1 THEN 1 ELSE 0 END)
        |           AS BIGINT) AS com
        |  FROM (SELECT *, row_number() OVER (PARTITION BY src_1, src_2
        |          ORDER BY h) AS r FROM uh) t
        |  WHERE r <= 128 GROUP BY 1, 2)
        |SELECT p.src_1, p.src_2, p.n_1, p.n_2,
        |  CAST(coalesce(ex.i, 0) AS BIGINT) AS n_inter,
        |  CAST($exact AS BIGINT) AS exact_ppm,
        |  CAST((est.com * 1000000) // est.ssz AS BIGINT) AS est_ppm,
        |  CAST(abs((est.com * 1000000) // est.ssz
        |       - $exact) AS BIGINT) AS err_ppm
        |FROM pairs p
        |LEFT JOIN ex ON ex.es1 = p.src_1 AND ex.es2 = p.src_2
        |JOIN est ON est.ts1 = p.src_1 AND est.ts2 = p.src_2
        |ORDER BY p.src_1, p.src_2""".stripMargin
    }
    ) { (s, d) => kmvOverlapCore(docs(s, d)) },

    // TRIANGLE CENSUS — the clustering structure of the near-dup graph:
    // a high closure ratio means near-dups arrive as dense families
    // (template farms — CC groups are cliques and dedup saves a lot); a
    // low ratio means chains (scrapes-of-scrapes — CC groups overcount
    // true duplication). Wedges (a<b<c with edges ab, bc) and their
    // closures over the degree-bounded rpEdges, per label of the wedge
    // root. Scale shape: edge out-degree is top-32-bounded, so wedges
    // ≤ 32·|E|; two edge-scale joins (strategy from the corpus size —
    // the r11 bigJoin rule: shuffled-hash below 2^18 vectors, sort-merge
    // above, because an edge-scale SHJ build is exactly the q126/q141
    // OOM landmine), then a per-node rollup BEFORE the label join so
    // labels attach to |nodes| rows, never |wedges|. Integer envelope:
    // n_tri·1e6 with wedges ≤ 32·|E| ≤ 1e14 at 100 TB — safe by 1e4.
    Q(
      "q241_triangles",
      s"""WITH e AS ($rpEdgesSql),
        |w AS (
        |  SELECT e1.id_a AS a, e1.id_b AS b, e2.id_b AS c
        |  FROM e e1 JOIN e e2 ON e1.id_b = e2.id_a),
        |cl AS (
        |  SELECT w.a,
        |    CASE WHEN e3.id_a IS NOT NULL THEN 1 ELSE 0 END AS closed
        |  FROM w LEFT JOIN e e3 ON e3.id_a = w.a AND e3.id_b = w.c),
        |nd AS (SELECT a, CAST(count(*) AS BIGINT) AS nw,
        |         CAST(sum(closed) AS BIGINT) AS nt
        |       FROM cl GROUP BY 1),
        |lab AS (
        |  SELECT l.label, CAST(sum(nd.nw) AS BIGINT) AS n_wedges,
        |    CAST(sum(nd.nt) AS BIGINT) AS n_tri
        |  FROM nd JOIN embeddings l ON l.vec_id = nd.a
        |  GROUP BY 1)
        |SELECT CAST(label AS BIGINT) AS label, n_wedges, n_tri,
        |  CAST((n_tri * 1000000) // n_wedges AS BIGINT) AS closure_ppm
        |FROM lab ORDER BY label""".stripMargin
    ) { (s, d) =>
      val strat = if (embCount(s, d) <= 262144L) "shuffle_hash"
        else "merge"
      triangleCensusCore(rpEdges(s, d),
        emb(s, d).select(col("vec_id"), col("label")), strat)
    },

    // MATRYOSHKA TRUNCATION RECALL — can this embedding column be
    // retrieved at 16 or 32 of its 64 dims? MRL-style deployments
    // (coarse search on a prefix, refine on the full vector) need the
    // measured recall@10 of prefix-dim dot ranking vs full-dim truth
    // BEFORE committing the index layout; randomly-trained columns
    // score low (this corpus: ~17% at d/4, ~32% at d/2) and that
    // number IS the audit. Scale shape: 16 fixed probes broadcast
    // across the corpus (one map-side pass, three dots per row share
    // the vector load); all three top-10s come from ONE groupBy(qid)
    // with three MinKAgg gathers (O(k) state, map-side combine — never
    // a window over corpus-scale partitions, the q215/q238 rule). Rank
    // key = round(dot·1e4)·(−2^40) + vec_id — integer, tie-exact
    // cross-engine; 2^40 (not the earlier 2^33) keeps the pmod decode
    // id-exact through 1.1e12 vectors (replica ids reach ~1e10).
    Q(
      "q247_matryoshka_recall", {
      // the packed rank key (RankKey.pack) of the n-dim prefix dot
      def key(n: Int) =
        s"CAST(round(${OracleSql.dot("c.embedding", "p.qv", n)} * 10000)" +
          s" AS BIGINT) * (-1099511627776) + c.vec_id AS key$n"
      s"""WITH probes AS (SELECT vec_id AS qid, embedding AS qv
        |  FROM embeddings WHERE vec_id >= 20 AND vec_id < 36),
        |keyed AS (
        |  SELECT p.qid, c.vec_id, ${key(64)}, ${key(32)}, ${key(16)}
        |  FROM embeddings c CROSS JOIN probes p
        |  WHERE c.vec_id <> p.qid),
        |rk AS (
        |  SELECT qid,
        |    row_number() OVER (PARTITION BY qid ORDER BY key64) AS r64,
        |    row_number() OVER (PARTITION BY qid ORDER BY key32) AS r32,
        |    row_number() OVER (PARTITION BY qid ORDER BY key16) AS r16
        |  FROM keyed),
        |hits AS (
        |  SELECT qid,
        |    CAST(sum(CASE WHEN r32 <= 10 AND r64 <= 10 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS h32,
        |    CAST(sum(CASE WHEN r16 <= 10 AND r64 <= 10 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS h16
        |  FROM rk GROUP BY 1)
        |SELECT CAST(qid AS BIGINT) AS qid, CAST(dims AS BIGINT) AS dims,
        |  hits, CAST(hits * 100000 AS BIGINT) AS recall_ppm
        |FROM (SELECT qid, unnest([16, 32]) AS dims,
        |             unnest([h16, h32]) AS hits FROM hits) t
        |ORDER BY qid, dims""".stripMargin
    }
    ) { (s, d) => matryoshkaRecallCore(emb(s, d)) },

    // CENTROID SPLIT-DRIFT — is the embedding column STABLE under
    // sampling? Per label, the corpus splits into two deterministic
    // hash halves and the squared L2 distance between the halves'
    // centroids is reported in exact integer milli-units: coordinates
    // quantize to round(v·1e4) (sums exact), per-dim means floor to
    // milli-units BEFORE differencing (mA = 1000·ΣqA div nA ≤ 5e6, so
    // Σ(mA−mB)² ≤ 64·1e14 — corpus-independent), so the statistic is
    // engine-exact at any scale. A healthy column drifts ~1/√n; a label
    // whose halves disagree is under-sampled or bimodal — the audit a
    // k-NN labeler (q224) runs before trusting per-label centroids.
    // Scale shape: ONE corpus exchange into (label, half, dim) partial
    // sums via posexplode (map-side combine); everything after is
    // |labels|·128 rows.
    Q(
      "q252_centroid_drift",
      s"""WITH e AS (SELECT vec_id, label, embedding,
        |    ${OracleSql.md5Int("'cd|' || CAST(vec_id AS VARCHAR)")} % 2 = 0
        |      AS half_a
        |  FROM embeddings),
        |q AS (SELECT label, half_a, i.i AS dim,
        |        CAST(round(CAST(embedding[i.i] AS DOUBLE) * 10000)
        |          AS BIGINT) AS qv
        |      FROM e, (SELECT unnest(range(1, 65)) AS i) i),
        |s AS (SELECT label, half_a, dim, CAST(sum(qv) AS BIGINT) AS sq,
        |        CAST(count(*) AS BIGINT) AS n
        |      FROM q GROUP BY 1, 2, 3),
        |m AS (SELECT label, dim,
        |        max(CASE WHEN half_a THEN (sq * 1000) // n END) AS ma,
        |        max(CASE WHEN NOT half_a THEN (sq * 1000) // n END) AS mb,
        |        max(CASE WHEN half_a THEN n END) AS na,
        |        max(CASE WHEN NOT half_a THEN n END) AS nb
        |      FROM s GROUP BY 1, 2),
        |mb AS (SELECT * FROM m WHERE na IS NOT NULL AND nb IS NOT NULL)
        |SELECT CAST(label AS BIGINT) AS label,
        |  CAST(max(na) AS BIGINT) AS n_a, CAST(max(nb) AS BIGINT) AS n_b,
        |  CAST(sum((ma - mb) * (ma - mb)) AS BIGINT) AS drift_sq,
        |  CAST(count(*) AS BIGINT) AS dims
        |FROM mb GROUP BY 1 ORDER BY label""".stripMargin
    ) { (s, d) => centroidDriftCore(emb(s, d)) },

    // DUP-CHAIN DEPTH — how do near-dups reach their canonical: one hop
    // (a template family, cheap to collapse) or long scrape-of-scrape
    // chains (each hop degraded, canonical quality uncertain)? BFS
    // distance from each connected component's canonical (its min id =
    // the CC label) over the degree-bounded edge graph, histogrammed;
    // depth caps at 8 (deeper chains bucket as 9, mirrored in the
    // oracle's recursion guard), singletons (no edges) count at depth 0.
    // Scale shape: the iterative frontier expansion follows the
    // GraphOps doctrine — each round joins the previous frontier
    // (shrinking) against the checkpointed edge RDD and eagerly
    // checkpoints, ≤ 8 rounds; state per round is node-scale.
    Q(
      "q253_chain_depth",
      s"""${rpGroupsSql("id", "lbl")},
        |dist(v, dd) AS (
        |  SELECT DISTINCT lbl, 0 FROM grp
        |  UNION
        |  SELECT u.dst, dist.dd + 1 FROM dist JOIN und u ON u.src = dist.v
        |  WHERE dist.dd < 8),
        |md AS (SELECT v, CAST(min(dd) AS BIGINT) AS d FROM dist GROUP BY v),
        |alld AS (
        |  SELECT g.id, coalesce(md.d, 9) AS d
        |  FROM grp g LEFT JOIN md ON md.v = g.id
        |  UNION ALL
        |  SELECT e.vec_id, 0 FROM embeddings e
        |  WHERE e.vec_id NOT IN (SELECT id FROM grp))
        |SELECT CAST(d AS BIGINT) AS depth, CAST(count(*) AS BIGINT) AS n_docs
        |FROM alld GROUP BY d ORDER BY depth""".stripMargin
    ) { (s, d) =>
      chainDepthCore(s, rpEdges(s, d),
        emb(s, d).select(col("vec_id")))
    },

    // SQ BIT-WIDTH SWEEP — q233 answers "is int8 good enough"; the
    // capacity question is WHERE the cliff is: recall@10 of 4-, 6- and
    // 8-bit per-dim affine quantization against exact-dot truth, in
    // ONE corpus pass — the three quantized dot keys plus the truth key
    // are four fused MinKAgg gathers in one groupBy(qid) (the
    // q238/q247 rule: never a window over corpus-scale partitions).
    // Quantized dots are exact integers; the truth key is the rounded
    // double dot; all keys ride 2^40 id encoding. At 4 bits the grid
    // has 15 levels — the recall drop IS the answer the index designer
    // needs before picking a memory budget.
    Q(
      "q257_sq_bits_sweep",
      s"""WITH ${OracleSql.sqScored(Seq(4 -> "d4", 6 -> "d6", 8 -> "d8"))},
        |${OracleSql.scTop10("t4", "d4")},
        |${OracleSql.scTop10("t6", "d6")},
        |${OracleSql.scTop10("t8", "d8")},
        |hits AS (
        |  SELECT b.qid,
        |    CAST(count(x4.vec_id) AS BIGINT) AS h4,
        |    CAST(count(x6.vec_id) AS BIGINT) AS h6,
        |    CAST(count(x8.vec_id) AS BIGINT) AS h8
        |  FROM bf b
        |  LEFT JOIN t4 x4 ON x4.qid = b.qid AND x4.vec_id = b.vec_id
        |  LEFT JOIN t6 x6 ON x6.qid = b.qid AND x6.vec_id = b.vec_id
        |  LEFT JOIN t8 x8 ON x8.qid = b.qid AND x8.vec_id = b.vec_id
        |  GROUP BY b.qid)
        |SELECT CAST(qid AS BIGINT) AS qid, CAST(bits AS BIGINT) AS bits,
        |  hits, CAST(hits * 100000 AS BIGINT) AS recall_ppm
        |FROM (SELECT qid, unnest([4, 6, 8]) AS bits,
        |        unnest([h4, h6, h8]) AS hits FROM hits) t
        |ORDER BY qid, bits""".stripMargin
    ) { (s, d) => sqBitsSweepCore(s, emb(s, d), ndcgProbes(s, d),
        sqRanges(s, d)) },

    // EMBEDDING NORM HEALTH — the cheapest embedding-column smoke test
    // a pipeline runs before ANY cosine machinery: per label, the
    // distribution of quantized squared norms (Σ round(v·1e4)²), the
    // zero-vector count (a dead encoder emits zeros — cosine is
    // undefined and every downstream dot silently ranks them last),
    // and the degenerate count (norm² under a quarter of the global
    // mean — truncated or mis-scaled rows). Integer-exact: quantized
    // per-row norms are ≤ 64·25e6, per-label sums exact through ~5e9
    // vectors/label. Scale shape: one O(64) per-row fold (interpreted
    // HOF — the q163 rule: O(d) per row is fine), one corpus exchange
    // into |labels| rows, the global mean as a 1-row broadcast with a
    // single consumer.
    Q(
      "q258_norm_health",
      """WITH n AS (
        |  SELECT vec_id, label,
        |    CAST(list_sum(list_transform(range(1, 65),
        |      i -> CAST(round(CAST(embedding[i] AS DOUBLE) * 10000)
        |             AS BIGINT)
        |           * CAST(round(CAST(embedding[i] AS DOUBLE) * 10000)
        |             AS BIGINT))) AS BIGINT) AS n2
        |  FROM embeddings),
        |g AS (SELECT CAST(sum(n2) // count(*) AS BIGINT) AS gmean FROM n)
        |SELECT CAST(label AS BIGINT) AS label,
        |  CAST(count(*) AS BIGINT) AS n_vecs,
        |  CAST(min(n2) AS BIGINT) AS min_n2,
        |  CAST(max(n2) AS BIGINT) AS max_n2,
        |  CAST(sum(n2) // count(*) AS BIGINT) AS mean_n2,
        |  CAST(sum(CASE WHEN n2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_zero,
        |  CAST(sum(CASE WHEN n2 * 4 < g.gmean THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_degenerate
        |FROM n, g GROUP BY 1, g.gmean ORDER BY label""".stripMargin
    ) { (s, d) => normHealthCore(emb(s, d)) }
  )

  /** q258 core over any (vec_id, label, embedding) frame. Factored for
    * crafted health laws (a planted zero vector counts in n_zero AND
    * n_degenerate; a half-scale vector crosses the quarter-mean rule). */
  private[graft] def normHealthCore(
      e: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val n = e.select(col("label"),
        expr("""cast(aggregate(embedding, 0L, (acc, x) ->
          acc + cast(round(cast(x as double) * 10000) as bigint)
              * cast(round(cast(x as double) * 10000) as bigint))
          as bigint)""").as("n2"))
      .localCheckpoint(true) // vec-scale 2 cols; gmean + rollup consumers
    val g = n.agg(expr("sum(n2) div count(1)").as("gmean"))
    n.crossJoin(broadcast(g))
      .groupBy(col("label").cast("long").as("label"))
      .agg(count(lit(1)).cast("long").as("n_vecs"),
        min("n2").cast("long").as("min_n2"),
        max("n2").cast("long").as("max_n2"),
        expr("sum(n2) div count(1)").cast("long").as("mean_n2"),
        sum(when(col("n2") === 0, 1L).otherwise(0L)).cast("long")
          .as("n_zero"),
        sum(when(col("n2") * 4 < col("gmean"), 1L).otherwise(0L))
          .cast("long").as("n_degenerate"))
      .orderBy("label")
  }

  /** q257 core over any (vec_id, embedding) frame, probe seeds and
    * per-dim ranges. Factored for crafted laws (a grid that every bit
    * width represents exactly must recall 10/10 at 4, 6 and 8 bits). */
  private[graft] def sqBitsSweepCore(s: org.apache.spark.sql.SparkSession,
      e: org.apache.spark.sql.DataFrame,
      probes: LabeledProbes,
      ranges: (Seq[Double], Seq[Double]))
      : org.apache.spark.sql.DataFrame = {
    import s.implicits._
    import RankKey.{bottomK, recallBy}
    def levels(b: Int): Long = (1L << b) - 2L
    // codegen'd kernel (plans/SqQuantize): the HOF-lambda form runs
    // interpreted per ELEMENT (HOFs never codegen) and at three bit
    // widths per row dominated the 1000x replica cost
    val probesDf = broadcast(probes.map { case (qid, qv, _) =>
      (qid, qv, sqProbe(qv, ranges, levels(4)),
        sqProbe(qv, ranges, levels(6)), sqProbe(qv, ranges, levels(8)))
    }.toDF("qid", "qv", "pq4", "pq6", "pq8"))
    val minK10 = bottomK(10)
    val quantized = e.select(col("vec_id"), col("embedding"),
        sqQuantize(col("embedding"), ranges, levels(4)).as("q4"),
        sqQuantize(col("embedding"), ranges, levels(6)).as("q6"),
        sqQuantize(col("embedding"), ranges, levels(8)).as("q8"))
    val gathered = RankKey.crossProbes(quantized, probesDf)
      .select(col("qid"), RankKey.bfKey.as("bfk"),
        sqKey("q4").as("k4"), sqKey("q6").as("k6"), sqKey("q8").as("k8"))
      .groupBy("qid")
      .agg(minK10(col("bfk")).as("bf"), minK10(col("k4")).as("t4"),
        minK10(col("k6")).as("t6"), minK10(col("k8")).as("t8"))
    recallBy(gathered, "bits", Seq(4 -> "t4", 6 -> "t6", 8 -> "t8"))
  }

  /** q252 core over any (vec_id, label, embedding) frame. Factored for
    * crafted drift laws (two identical halves drift 0; a planted
    * constant offset drifts exactly 64·(1000·offset·1e4/1e3)² …). */
  private[graft] def centroidDriftCore(
      e: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    // half_a computes in its own Project BELOW the Generate: fused into
    // the posexplode select, Spark's generator extraction parks the
    // expression in the Project ABOVE it — one md5 per EXPLODED row,
    // a 64x hash amplification (measured 14x-per-decade super-linear at
    // the 1000x replica; 6.2x linear after the split)
    e.select(col("label"),
        (pmod(call_function("md5_prefix64",
          concat(lit("cd|"), col("vec_id").cast("string"))), lit(2)) === 0)
          .as("half_a"),
        col("embedding"))
      .select(col("label"), col("half_a"),
        posexplode(col("embedding")).as(Seq("dim0", "v")))
      .select(col("label"), col("half_a"), (col("dim0") + 1).as("dim"),
        expr("cast(round(cast(v as double) * 10000) as bigint)").as("qv"))
      .groupBy("label", "half_a", "dim")
      .agg(sum("qv").as("sq"), count(lit(1)).as("n"))
      .groupBy("label", "dim")
      .agg(
        max(when(col("half_a"), expr("(sq * 1000) div n"))).as("ma"),
        max(when(!col("half_a"), expr("(sq * 1000) div n"))).as("mb"),
        max(when(col("half_a"), col("n"))).as("na"),
        max(when(!col("half_a"), col("n"))).as("nb"))
      // a label entirely in one half has no drift to measure
      .filter(col("na").isNotNull && col("nb").isNotNull)
      .groupBy(col("label").cast("long").as("label"))
      .agg(max("na").cast("long").as("n_a"),
        max("nb").cast("long").as("n_b"),
        sum((col("ma") - col("mb")) * (col("ma") - col("mb")))
          .cast("long").as("drift_sq"),
        count(lit(1)).cast("long").as("dims"))
      .orderBy("label")

  /** q253 core: BFS depth-from-canonical over a unique (id_a < id_b)
    * edge frame plus the node universe. Factored for crafted chain laws
    * (a 4-node path has depths 0,1,2,3; a star has all 1s; an isolated
    * node is depth 0). */
  private[graft] def chainDepthCore(s: org.apache.spark.sql.SparkSession,
      edges: org.apache.spark.sql.DataFrame,
      universe: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val und = edges.select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(edges.select(col("id_b"), col("id_a")))
      .localCheckpoint(true) // re-probed every BFS round
    val grp = graft.functions.GraphOps
      .connectedComponents(edges, "id_a", "id_b")
      .localCheckpoint(true)
    var visited = grp.select(col("lbl").as("id")).distinct()
      .withColumn("d", lit(0L)).localCheckpoint(true)
    var frontier = visited
    var round = 1L
    var done = false
    while (round <= 8 && !done) {
      // r14: ONE driver action per BFS round instead of three. The
      // emptiness check rides the checkpoint job via observe() (the
      // CC-loop fusion applied here — isEmpty was a second full job per
      // round), and visited grows as a UNION of already-checkpointed
      // round frontiers (≤9 LogicalRDD legs, no lineage growth) instead
      // of re-materializing the whole visited set every round (which
      // re-wrote O(|nodes|) rows per round as a third job).
      val (nxt, m) = Scale.checkpointObserved(
        frontier.join(und, frontier("id") === und("src"))
          .select(col("dst").as("id")).distinct()
          .join(visited, Seq("id"), "left_anti")
          .withColumn("d", lit(round)),
        count(lit(1)).as("c"))
      if (m("c") == 0L) done = true
      else {
        visited = visited.union(nxt)
        frontier = nxt
        round += 1
      }
    }
    val inGraph = grp.select("id")
      .join(visited, Seq("id"), "left")
      .select(col("id"), coalesce(col("d"), lit(9L)).as("d"))
    val singletons = universe.select(col("vec_id").as("id"))
      .join(grp.select("id"), Seq("id"), "left_anti")
      .withColumn("d", lit(0L))
    inGraph.union(singletons)
      .groupBy(col("d").cast("long").as("depth"))
      .agg(count(lit(1)).cast("long").as("n_docs"))
      .orderBy("depth")
  }

  /** q240 core over any (source, text) frame. Factored for crafted
    * sketch laws (two textually identical sources estimate AND measure
    * Jaccard 1e6 with err 0; disjoint-vocabulary sources give 0/0). */
  private[graft] def kmvOverlapCore(
      d0: org.apache.spark.sql.DataFrame,
      maskMaxSources: Int = 62): org.apache.spark.sql.DataFrame = {
    import graft.functions.{Aggregators, ArrayOps}
    // Null-source rows (r15 ADVICE): the mask path dropped them silently
    // (element_at on the bit map yields null) while the set path kept a
    // null GROUP in its per-source aggregate — both produce identical
    // OUTPUT (null never survives the src_1 < src_2 pair filter, and
    // collect_set skips nulls), but the differential-equivalence spec is
    // stronger when both paths see the same input. Filter once, up
    // front, in both paths.
    val d = d0.filter(col("source").isNotNull)
    val minK = Aggregators.minK(128)
    // r14 SOURCE-BITMASK shape. The r13 form computed the distinct
    // (source, h) table TWICE (recompute beat a DISK_ONLY barrier of
    // those string-bearing rows at every replica scale) and paid a
    // THIRD corpus-scale exchange + two sort-fallback
    // ObjectHashAggregates for the per-h source sets. Since |sources|
    // is broadcast-small by construction (the sketch pair frame below
    // is already a broadcast self-cross of the per-source aggregate),
    // the per-h source SET is a ≤62-bit MASK: one pure-codegen
    // partial+final bit_or HashAggregate keyed by h collapses the raw
    // shingle stream map-side (no distinct pre-pass, no 128-key
    // ObjectHashAgg fallback) and ships 16 B/row. NO barrier between
    // the mask table and its two consumers: the r14 A/B re-confirmed
    // the r11 call (recompute 4.0 s vs DISK_ONLY barrier 5.0 s at
    // sf0.1) — the pipeline is pure codegen scan work and both
    // consumers are cheap aggregates of it. Per-source n + bottom-128
    // and the per-pair intersections are bit arithmetic over that
    // table — the pair counts collapse to DISTINCT-MASK cardinality
    // before the pair explode (groupBy(m) is bounded by 2^|sources|
    // masks, in practice far fewer; the explode multiplies THAT, never
    // corpus rows). Sorted-source bit order = lexicographic pair order,
    // so outputs are byte-identical to the set form; sources > 62 (not
    // a gate shape; crafted spec covers it) falls back to the proven
    // r13 set path.
    // construction-time source-list job (dispatch needs |sources| before
    // planning): sort driver-side — |sources| is broadcast-small by the
    // query's own design, and dropping the orderBy removes the global
    // sort exchange from the job (r15: one fewer stage; the scan itself
    // is load-bearing and stays — see OPTIMIZATION_r15.md item 6)
    // NB sort by UTF-8 bytes (unsigned), exactly UTF8String.compareTo —
    // Scala's default String ordering is UTF-16 and diverges on
    // supplementary code points
    val utf8Order: Ordering[String] = (a: String, b: String) => {
      val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      var i = 0
      var r = 0
      while (r == 0 && i < x.length && i < y.length) {
        r = java.lang.Integer.compare(x(i) & 0xff, y(i) & 0xff)
        i += 1
      }
      if (r != 0) r else java.lang.Integer.compare(x.length, y.length)
    }
    val srcs = d.select(col("source")).distinct()
      .collect().map(_.getString(0)).sorted(utf8Order).toSeq
    val (agg0, inter) = if (srcs.length <= maskMaxSources) {
      val nS = srcs.length
      val bitOf = element_at(
        typedlit(srcs.zipWithIndex.toMap), col("source"))
      val hm = TextOps.hashedShingleRows(d, bitOf.as("b"))
        .groupBy("h")
        .agg(expr("bit_or(shiftleft(cast(1 as bigint), b))").as("m"))
      val a = hm
        .select(col("h"), col("m"),
          explode(sequence(lit(0), lit(nS - 1))).as("b"))
        .where(expr("(shiftright(m, b) & 1) = 1"))
        .groupBy("b")
        .agg(count(lit(1)).as("n"), minK(col("h")).as("bk"))
        .select(element_at(typedlit(srcs), col("b") + 1).as("source"),
          col("n"), col("bk"))
      val i0 = hm
        .where(expr("bit_count(m) >= 2"))
        .groupBy("m").agg(count(lit(1)).as("c"))
        .select(col("c"), col("m"),
          explode(sequence(lit(0), lit(nS - 2))).as("b1"))
        .where(expr("(shiftright(m, b1) & 1) = 1"))
        .select(col("c"), col("m"), col("b1"),
          explode(sequence(col("b1") + 1, lit(nS - 1))).as("b2"))
        .where(expr("(shiftright(m, b2) & 1) = 1"))
        .groupBy(element_at(typedlit(srcs), col("b1") + 1).as("src_1"),
          element_at(typedlit(srcs), col("b2") + 1).as("src_2"))
        .agg(sum("c").as("i"))
      (a, i0)
    } else {
      val hv = TextOps.hashedShingleRows(d, col("source")).distinct()
      val a = hv.groupBy("source")
        .agg(count(lit(1)).as("n"), minK(col("h")).as("bk"))
      val i0 = hv.groupBy("h")
        .agg(sort_array(collect_set(col("source"))).as("ss"))
        .filter(size(col("ss")) >= 2)
        .select(explode(ArrayOps.combinations2(col("ss"),
          fields = Seq("src_1", "src_2"))).as("pr"))
        .groupBy(col("pr.src_1").as("src_1"),
          col("pr.src_2").as("src_2"))
        .agg(count(lit(1)).cast("long").as("i"))
      (a, i0)
    }
    val agg = agg0
      .localCheckpoint(true) // |sources| rows; aliased twice below
    val pr = agg.select(col("source").as("src_1"), col("n").as("n_1"),
        col("bk").as("bk_1"))
      .crossJoin(broadcast(agg.select(col("source").as("src_2"),
        col("n").as("n_2"), col("bk").as("bk_2"))))
      .filter(col("src_1") < col("src_2"))
    val merged = slice(array_sort(array_distinct(
      concat(col("bk_1"), col("bk_2")))), 1, 128)
    pr.join(inter, Seq("src_1", "src_2"), "left")
      .withColumn("i", coalesce(col("i"), lit(0L)))
      .withColumn("s_top", merged)
      .withColumn("ssz", size(col("s_top")).cast("long"))
      .withColumn("com", size(filter(col("s_top"),
        x => array_contains(col("bk_1"), x) &&
          array_contains(col("bk_2"), x))).cast("long"))
      .selectExpr("src_1", "src_2", "n_1", "n_2",
        "cast(i as long) as n_inter",
        "(i * 1000000) div (n_1 + n_2 - i) as exact_ppm",
        "(com * 1000000) div ssz as est_ppm",
        "abs((com * 1000000) div ssz" +
          " - (i * 1000000) div (n_1 + n_2 - i)) as err_ppm")
      .orderBy("src_1", "src_2")
  }

  /** q241 core over any unique (id_a < id_b) edge frame plus a
    * (vec_id, label) node-attribute frame. Factored for crafted
    * closure laws (a 3-clique closes every wedge: ppm 1e6; a path
    * closes none: ppm 0). */
  private[graft] def triangleCensusCore(
      e: org.apache.spark.sql.DataFrame,
      labels: org.apache.spark.sql.DataFrame,
      strat: String): org.apache.spark.sql.DataFrame = {
    val w = e.select(col("id_a").as("a"), col("id_b").as("b"))
      .join(e.select(col("id_a").as("b2"), col("id_b").as("c"))
        .hint(strat), col("b") === col("b2"))
      .select(col("a"), col("c"))
    val nd = w
      .join(e.select(col("id_a").as("a3"), col("id_b").as("c3"))
        .hint(strat),
        col("a") === col("a3") && col("c") === col("c3"), "left")
      .select(col("a"),
        when(col("a3").isNotNull, 1L).otherwise(0L).as("closed"))
      .groupBy("a")
      .agg(count(lit(1)).as("nw"), sum("closed").as("nt"))
    nd.join(labels, col("a") === col("vec_id"))
      .groupBy(col("label").cast("long").as("label"))
      .agg(sum("nw").cast("long").as("n_wedges"),
        sum("nt").cast("long").as("n_tri"))
      .selectExpr("label", "n_wedges", "n_tri",
        "(n_tri * 1000000) div n_wedges as closure_ppm")
      .orderBy("label")
  }

  /** q247 core over any (vec_id, embedding) frame; probes are the fixed
    * id range [20, 36). Factored for crafted truncation laws (vectors
    * whose mass lives entirely in the first 16 dims recall 1e6 at both
    * truncations; vectors orthogonal on the prefix recall ~0). */
  private[graft] def matryoshkaRecallCore(
      e: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import RankKey.{bottomK, pack, recallBy, rq}
    val probes = broadcast(e
      .filter(col("vec_id") >= 20 && col("vec_id") < 36)
      .select(col("vec_id").as("qid"), col("embedding").as("qv")))
    def key(n: Int): org.apache.spark.sql.Column = pack(
      rq(slice(col("embedding"), 1, n), slice(col("qv"), 1, n)),
      col("vec_id"))
    val minK10 = bottomK(10)
    recallBy(RankKey.crossProbes(e, probes)
      .select(col("qid"), key(64).as("key64"), key(32).as("key32"),
        key(16).as("key16"))
      .groupBy("qid")
      .agg(minK10(col("key64")).as("bf"), minK10(col("key32")).as("t32"),
        minK10(col("key16")).as("t16")),
      "dims", Seq(32 -> "t32", 16 -> "t16"))
  }

  /** Canonical map (doc_id → canonical id) under q223's rule from an
    * (id, lbl) group frame and a (doc_id, n_chars) quality table. */
  /** Single-pass canonical pick: the (max n_chars, min id) member of a
    * group as ONE fused ObjectHashAggregate (Aggregators.ArgMinAgg, r14
    * — the r13 argmin applied to the remaining two-hash-agg ARGMAX
    * shapes q111/q223/canonMap, which each re-evaluated their member
    * table through a max -> join-back -> min-at-max pair). ArgMinAgg
    * contract holds: dist = -(n_chars+1) is always <= -1 (never NaN,
    * never -0.0, inputs non-null by the inner join on generated docs)
    * and integer-exact as a double at any real document length; the
    * tie-break (min id at equal dist) is exactly the oracle's
    * min(id) WHERE n_chars = max(n_chars). */
  private def canonPick(nChars: org.apache.spark.sql.Column,
      id: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    graft.functions.Aggregators.argMin(
      (lit(0L) - (nChars.cast("long") + lit(1L))).cast("double"),
      id.cast("long"))

  private def canonMap(grp: org.apache.spark.sql.DataFrame,
      dq: org.apache.spark.sql.DataFrame, out: String)
      : org.apache.spark.sql.DataFrame = {
    val g = grp.select(col("id").as("doc_id"), col("lbl"))
      .join(dq.hint("shuffle_hash"), Seq("doc_id"))
      .localCheckpoint(true) // dup-mass scale; two consumers
    val can = g.groupBy("lbl")
      .agg(canonPick(col("n_chars"), col("doc_id")).as(out))
    g.select(col("doc_id"), col("lbl")).join(can, Seq("lbl"))
      .select(col("doc_id"), col(out))
  }

  /** q239 core over explicit day-1/day-2 group frames and a (doc_id,
    * source, n_chars) table. Factored for crafted-merge laws (a day-2
    * doc that bridges two day-1 groups must flip the losing side). */
  private[graft] def canonicalFlipCore(
      g1: org.apache.spark.sql.DataFrame,
      g2: org.apache.spark.sql.DataFrame,
      dq: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val q = dq.select(col("doc_id"), col("n_chars"))
    // r14: the two canonical maps are independent eager pipelines
    // (checkpoint inside canonMap) — overlap them (guide §2.6).
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    val fm1 = Future(canonMap(g1, q, "can1"))
    val fm2 = Future(canonMap(g2, q, "can2"))
    val m1 = Await.result(fm1, scala.concurrent.duration.Duration.Inf)
    val m2 = Await.result(fm2, scala.concurrent.duration.Duration.Inf)
    dq.filter(col("doc_id") % 10 =!= 7)
      .join(m1.hint("shuffle_hash"), Seq("doc_id"), "left")
      .join(m2.hint("shuffle_hash"), Seq("doc_id"), "left")
      .select(col("source"),
        (coalesce(col("can1"), col("doc_id")) =!=
          coalesce(col("can2"), col("doc_id"))).as("fl"))
      .groupBy("source")
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(when(col("fl"), 1L).otherwise(0L)).as("nf"))
      .select(col("source"), col("n_docs"),
        col("nf").cast("long").as("n_flipped"),
        expr("nf * 1000000 div n_docs").cast("long").as("flip_ppm"))
      .orderBy("source")
  }

  /** The 8 coarse centroids (vec_id < 8) and the probes
    * (10 <= vec_id < 18), each probe with its `nCells` nearest cells,
    * computed driver-side with the same left-to-right IEEE double fold
    * DuckDB's list_sum uses — two bounded collects, not broadcast-scalar
    * subqueries (round-8 rule). The cell pick is quantized to
    * round(dot*1e4) like every rank key in these queries: a
    * full-precision compare would let a near-tie between cells flip the
    * probe set on any engine whose summation order differs. */
  private def centroidProbeSeeds(s: org.apache.spark.sql.SparkSession,
      d: String, nCells: Int)
      : (Seq[(Long, Seq[Float])], Seq[(Long, Seq[Float], Seq[Long])]) = {
    def dotD(a: Seq[Float], b: Seq[Float]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i).toDouble * b(i).toDouble; i += 1 }
      acc
    }
    val cents = vectors(s, d, col("vec_id") < 8)
    val probes = vectors(s, d, col("vec_id") >= 10 && col("vec_id") < 18)
      .map { case (qid, qv) =>
        val cells = cents
          .map { case (cid, cv) => (cid, math.round(dotD(qv, cv) * 10000)) }
          .sortBy { case (cid, dt) => (-dt, cid) }.take(nCells).map(_._1)
        (qid, qv, cells)
      }
    (cents, probes)
  }

  /** q238's seeds: each probe's 4 nearest cells. */
  private val multiProbeSeeds =
    Tables.perDir(centroidProbeSeeds(_, _, 4))

  /** q238 core over any (vec_id, embedding) frame plus explicit
    * centroid/probe seeds. Factored for crafted laws (an all-one-cell
    * corpus gives recall 10/10 at every nprobe). */
  private[graft] def multiProbeCore(s: org.apache.spark.sql.SparkSession,
      e: org.apache.spark.sql.DataFrame,
      cents: Seq[(Long, Seq[Float])],
      probes: Seq[(Long, Seq[Float], Seq[Long])])
      : org.apache.spark.sql.DataFrame = {
    import s.implicits._
    import RankKey.{bottomK, gated, recallBy}
    val probesDf = broadcast(probes.map { case (qid, qv, cs) =>
      (qid, qv, cs(0), cs(1), cs(2), cs(3))
    }.toDF("qid", "qv", "c1", "c2", "c3", "c4"))
    val minK10 = bottomK(10)
    def gate(cond: org.apache.spark.sql.Column) =
      minK10(gated(col("key"), cond))
    val keyed = RankKey.crossProbes(RankKey.withCell(e, cents), probesDf)
      .select(col("qid"), col("cid"),
        col("c1"), col("c2"), col("c3"), col("c4"), RankKey.bfKey.as("key"))
    recallBy(keyed.groupBy("qid")
      .agg(minK10(col("key")).as("bf"),
        gate(col("cid") === col("c1")).as("n1"),
        gate(col("cid") === col("c1") || col("cid") === col("c2"))
          .as("n2"),
        gate(col("cid") === col("c1") || col("cid") === col("c2") ||
          col("cid") === col("c3") || col("cid") === col("c4")).as("n4")),
      "nprobe", Seq(1 -> "n1", 2 -> "n2", 4 -> "n4"))
  }

  /** q237 core over any (doc_id, source, text) frame. Factored for
    * crafted FP laws (a planted bucket collision between distinct
    * texts must count as pass-not-true). */
  private[graft] def bloomPrefilterCore(
      d: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val kb = d.select(col("doc_id"), col("source"),
        call_function("md5_prefix60",
          concat(lit("bp|"), col("text"))).as("dg"))
      .withColumn("bucket", pmod(col("dg"), lit(65536L)))
    val bench = kb.filter(col("doc_id") % 97 === 0)
      .select(col("bucket"), col("dg"))
      .localCheckpoint(true) // |bench|-scale; two distinct-set consumers
    // bb is bounded BY CONSTRUCTION (≤65536 distinct buckets, the Bloom
    // width) — broadcast is safe at any corpus size. bd is the distinct
    // bench DIGEST set, corpus/97-scaled: forcing it broadcast is the
    // SF-scaled-broadcast trap (fine at ~51k rows, unbounded at 100 TB),
    // so it rides a shuffle_hash right-build instead — the corpus side
    // streams as a narrow (source, dg, hitb) projection and the exchange
    // on dg is the shape a 1000-executor join needs anyway.
    val bb = broadcast(bench.select(col("bucket")).distinct()
      .withColumn("hitb", lit(1L)))
    val bd = bench.select(col("dg")).distinct()
      .withColumn("hitd", lit(1L))
    kb.filter(col("doc_id") % 97 =!= 0)
      .join(bb, Seq("bucket"), "left")
      .join(bd.hint("shuffle_hash"), Seq("dg"), "left")
      .groupBy("source")
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(coalesce(col("hitb"), lit(0L))).as("n_pass"),
        sum(coalesce(col("hitd"), lit(0L))).as("n_true"))
      .select(col("source"), col("n_docs"),
        col("n_pass").cast("long").as("n_pass"),
        col("n_true").cast("long").as("n_true"),
        expr("(n_pass - n_true) * 1000000 div greatest(n_pass, 1)")
          .cast("long").as("fp_ppm"))
      .orderBy("source")
  }

  /** q236 core over any (doc_id, text) frame. Factored for crafted
    * estimator laws (identical docs → est = exact = 1e6, err 0;
    * disjoint docs → est = exact = 0). */
  private[graft] def minhashCalibrationCore(
      d: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    // the shared permutation constants, in this query's own
    // (a·(x mod P) + b) mod P form: its oracle mirrors exactly that
    val P = TextOps.MinhashP
    val base = d.select(col("doc_id"), TextOps.hashedShingles(col("text")).as("sh"))
      .filter(size(col("sh")) >= 1)
      .select(col("doc_id"), col("sh"),
        array(TextOps.MinhashPerms.map { case (a, b) =>
          array_min(transform(col("sh"),
            x => (lit(a) * (x % P) + lit(b)) % P))
        }: _*).as("sig"))
    // Adjacent-id pairing via BLOCK WINDOWS, not a co-group (r10 verdict
    // item 4): the pair key is (doc_id, doc_id−1), so partitioning by
    // doc_id div 64 co-locates every pair except the 1-in-64 block
    // boundary — each doc's hashed-shingle array crosses the wire ONCE
    // (plus a 1/64 ghost copy of block-first docs into the previous
    // block), where the co-group shipped every array twice under both
    // pair roles. lag(1) over (block, doc_id) reproduces exactly the
    // same pairs (guarded by prev_id = doc_id − 1, so id gaps behave
    // like the old size(rs)=2 filter) — gate output is byte-identical
    // and the oracle is untouched. Block count is corpus-scale (never a
    // fixed-cardinality key) and WindowExec buffers ≤65 rows per block.
    val B = 64L
    val rows = base.select(explode(when(
        pmod(col("doc_id"), lit(B)) === 0 && col("doc_id") > 0,
        array(
          struct(expr(s"doc_id div $B").as("blk"),
            col("doc_id"), col("sh"), col("sig")),
          struct(expr(s"doc_id div $B - 1").as("blk"),
            col("doc_id"), col("sh"), col("sig"))))
      .otherwise(array(
        struct(expr(s"doc_id div $B").as("blk"),
          col("doc_id"), col("sh"), col("sig"))))).as("e"))
      .select(col("e.blk"), col("e.doc_id"), col("e.sh"), col("e.sig"))
    val wb = Window.partitionBy("blk").orderBy("doc_id")
    rows
      .withColumn("pid", lag("doc_id", 1).over(wb))
      .withColumn("psh", lag("sh", 1).over(wb))
      .withColumn("psig", lag("sig", 1).over(wb))
      .filter(col("pid") === col("doc_id") - 1)
      .select(
        (expr("""aggregate(zip_with(psig, sig,
            (x, y) -> if(x = y, 1L, 0L)), 0L, (acc, v) -> acc + v)""")
          * 250000L).as("est"),
        expr("""cast(size(array_intersect(psh, sh)) as bigint)
            * 1000000 div size(array_union(psh, sh))""")
          .as("exact"))
      .groupBy(expr("abs(est - exact) div 100000").cast("long")
        .as("err_decile"))
      .agg(count(lit(1)).cast("long").as("n_pairs"),
        expr("sum(est) div count(1)").cast("long").as("mean_est_ppm"),
        expr("sum(exact) div count(1)").cast("long")
          .as("mean_exact_ppm"))
      .orderBy("err_decile")
  }

  /** Per-dim (min, max) corpus ranges for SQ8 — one bounded 64-row
    * aggregate per data dir. */
  private val sqRanges = Tables.perDir { (s, d) =>
    val rows = emb(s, d)
      .select(posexplode(col("embedding")).as(Seq("i", "v")))
      .groupBy("i")
      .agg(min(col("v").cast("double")).as("mn"),
        max(col("v").cast("double")).as("mx"))
      .orderBy("i").collect()
    (rows.map(_.getDouble(1)).toSeq, rows.map(_.getDouble(2)).toSeq)
  }

  /** q233 core over any (vec_id, embedding) frame, probe seeds and
    * per-dim ranges. Factored for crafted laws (an identity
    * quantization grid must give recall 10/10). */
  private[graft] def sq8RecallCore(s: org.apache.spark.sql.SparkSession,
      e: org.apache.spark.sql.DataFrame,
      probes: LabeledProbes,
      ranges: (Seq[Double], Seq[Double]))
      : org.apache.spark.sql.DataFrame = {
    import s.implicits._
    import RankKey.{bottomK, recall}
    // int8 (254 levels): the SQ kernel q257 sweeps over bit widths
    val probesDf = broadcast(probes.map { case (qid, qv, _) =>
      (qid, qv, sqProbe(qv, ranges, 254L))
    }.toDF("qid", "qv", "pq8"))
    val minK10 = bottomK(10)
    val gathered = RankKey.crossProbes(e.select(col("vec_id"),
        col("embedding"), sqQuantize(col("embedding"), ranges, 254L).as("q8")),
        probesDf)
      .select(col("qid"), RankKey.bfKey.as("bfk"), sqKey("q8").as("sqk"))
      .groupBy("qid")
      .agg(minK10(col("bfk")).as("bf"), minK10(col("sqk")).as("sq"))
    recall(gathered, "sq")
  }

  /** q232 core over explicit (id_a, id_b, rq) pairs. Factored for
    * crafted sweep laws (pairs placed exactly on threshold
    * boundaries). */
  private[graft] def thresholdSweepCore(
      s: org.apache.spark.sql.SparkSession,
      rawPairs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val thresholds = Seq(2000L, 3000L, 4000L, 5000L, 6000L, 7000L, 8000L)
    // ONE pass over the pair mass (both endpoints via a 2-element
    // map-side explode — the q226 lesson; a checkpoint + per-threshold
    // fan-out + DISTINCT measured 58.5 s at the 1000x replica, this
    // shape 6.4 s): per id, the max incident rq (n_docs: id passes t
    // iff mx >= t) and the per-threshold incident-pair counts (n_pairs:
    // each pair is counted at both ends, so Σ div 2) fused into one
    // id-scale groupBy; the 7-level rollup is then a single scalar
    // aggregate unpivoted with stack — no distinct, no second pair
    // scan, nothing above id-scale ever crosses an exchange.
    val ends = rawPairs.select(explode(array(
        struct(col("id_a").as("id"), col("rq")),
        struct(col("id_b").as("id"), col("rq")))).as("x"))
      .select(col("x.id").as("id"), col("x.rq").as("rq"))
    val perIdAggs = max(col("rq")).as("mx") +:
      thresholds.map(t =>
        sum(when(col("rq") >= t, 1L).otherwise(0L)).as(s"c$t"))
    val perId = ends.groupBy("id").agg(perIdAggs.head, perIdAggs.tail: _*)
    val totAggs = thresholds.flatMap(t => Seq(
      sum(col(s"c$t")).as(s"p$t"),
      sum(when(col("mx") >= t, 1L).otherwise(0L)).as(s"d$t")))
    val tot = perId.agg(totAggs.head, totAggs.tail: _*)
    val stackExpr = s"stack(${thresholds.size}, " + thresholds.map(t =>
      s"${t}L, coalesce(p$t, 0) div 2, coalesce(d$t, 0)").mkString(", ") +
      ") as (thr, n_pairs, n_docs)"
    tot.selectExpr(stackExpr)
      .select(col("thr").cast("long").as("thr"),
        col("n_pairs").cast("long").as("n_pairs"),
        col("n_docs").cast("long").as("n_docs"))
      .orderBy("thr")
  }

  /** q228 core over explicit (id_a, id_b, rdot) edges and an (id, lbl)
    * group map. Factored for crafted-chain laws (a weak transitive
    * bridge must surface as the cluster's weakest_rq). */
  private[graft] def clusterCohesionCore(
      edges: org.apache.spark.sql.DataFrame,
      grp: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val sizes = grp.groupBy("lbl").agg(count(lit(1)).as("sz"))
    val estats = edges
      .select(col("id_a"),
        expr("cast(round(rdot * 10000) as bigint)").as("rq"))
      .join(grp.hint("shuffle_hash"), col("id_a") === col("id"))
      .groupBy("lbl")
      .agg(count(lit(1)).as("n_edges"), min("rq").as("min_rq"),
        sum("rq").as("sum_rq"))
    sizes.join(estats, Seq("lbl"))
      .groupBy(col("sz").cast("long").as("size"))
      .agg(count(lit(1)).cast("long").as("n_groups"),
        min("min_rq").cast("long").as("weakest_rq"),
        sum("n_edges").cast("long").as("n_edges"),
        expr("sum(sum_rq) div sum(n_edges)").cast("long").as("mean_rq"))
      .orderBy("size")
  }

  /** q226 core over explicit (id_a, id_b, rq) candidate pairs and a
    * corpus id list. Factored for crafted-topology laws (a designated
    * hub in everyone's top-5; an isolated vector landing in the zero
    * bucket). */
  private[graft] def hubnessCore(s: org.apache.spark.sql.SparkSession,
      rawPairs: org.apache.spark.sql.DataFrame,
      ids: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import RankKey.pack
    // both directions from ONE pass over the pair stream: a 2-element
    // map-side explode instead of a self-union (which either replans
    // the bucket self-join per side or checkpoints the FULL pre-top-5
    // pair mass — the materialization, not the compute, dominated the
    // 1000x replica: 32.0 s with the checkpoint, 11.4 s exploded)
    val occ = rawPairs
      .select(explode(array(
        struct(col("id_a").as("src"),
          pack(col("rq"), col("id_b")).as("key")),
        struct(col("id_b").as("src"),
          pack(col("rq"), col("id_a")).as("key")))).as("x"))
      .select(col("x.src").as("src"), col("x.key").as("key"))
      .groupBy("src").agg(RankKey.bottomK(5)(col("key")).as("ks"))
      .select(explode(col("ks")).as("key"))
      .select(RankKey.id(col("key")).as("dst"))
      .groupBy("dst").agg(count(lit(1)).as("k"))
    ids
      .join(occ.hint("shuffle_hash"),
        col("vec_id") === col("dst"), "left")
      .groupBy(coalesce(col("k"), lit(0L)).as("k_occ"))
      .agg(count(lit(1)).cast("long").as("n_vecs"))
      .select(col("k_occ").cast("long").as("k_occ"), col("n_vecs"))
      .orderBy("k_occ")
  }

  /** q225 core over any (vec_id, embedding) frame. Factored for crafted
    * covariance laws (known 2-dim hand-computable sums). */
  private[graft] def embCovarianceCore(
      e: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import graft.functions.{Aggregators, Mixing}
    // Envelope guard, IN the plan (not a comment): n·Σqiqj wraps Long
    // past n ≈ 5e5 (|q| ≤ 6e3), and covariance only needs O(d²/ε²)
    // samples, not the corpus — so the input rides a rank-free
    // hash-sampled subset (q87 machinery: hash·n < CAP·M, a pure map
    // predicate). While n ≤ 5e5 every hash (< M) clears the threshold,
    // so the gate SFs keep ALL rows and outputs stay byte-identical;
    // past it the subset is binomially ~5e5 rows, keeping the integer
    // envelope AND the audit cost flat at any corpus size. Mirrored
    // exactly in the oracle (same hash, same scalar-count subquery).
    val nTot = e.agg(count(lit(1)).as("__ntot"))
    val sampled = e.crossJoin(broadcast(nTot))
      .filter((col("vec_id") % Mixing.HashMod) * Mixing.HashMul %
        Mixing.HashMod * col("__ntot") < lit(500000L) * Mixing.HashMod)
    // d from a 1-row job (dim is uniform per corpus); the whole Gram
    // then comes from ONE corpus scan through a fused GramAgg kernel —
    // pair products, dim sums and row count in one O(d²) buffer, one
    // partial per task, one 33 KB row over the wire (an explode of the
    // n·d²/2 products was measured 44 s at the 100× replica: HOF
    // struct-building lambdas never codegen). The ≤ d²+d+1-row result
    // is checkpointed once for its three consumers (q203 rule).
    val vecs = sampled.filter(size(col("embedding")) >= 2)
      .select(col("embedding"))
    val d = vecs.select(size(col("embedding")).as("d")).head.getInt(0)
    val dd = d * d
    val gram = udaf(new Aggregators.GramAgg(d),
      org.apache.spark.sql.catalyst.encoders
        .ExpressionEncoder[Seq[Float]]())
    val entries = vecs
      .agg(gram(col("embedding")).as("g"))
      .select(posexplode(col("g")).as(Seq("k", "sv")))
      // drop the diagonal/lower-triangle zero slots; decode the layout
      .filter(col("k") >= dd || expr(s"k div $d") < col("k") % d)
      .select(
        when(col("k") === dd + d, lit(-1))
          .when(col("k") >= dd, col("k") - dd)
          .otherwise(expr(s"k div $d")).cast("int").as("i"),
        when(col("k") >= dd, lit(-1))
          .otherwise(col("k") % d).cast("int").as("j"),
        col("sv"))
      .localCheckpoint(true)
    val nRow = entries.filter(col("i") === -1 && col("j") === -1)
      .select(col("sv").as("n"))
    val dims = entries.filter(col("i") >= 0 && col("j") === -1)
      .select(col("i"), col("sv").as("s"))
    val cov = entries.filter(col("j") >= 0)
      .join(broadcast(dims.select(col("i"), col("s").as("si"))), "i")
      .join(broadcast(dims.select(col("i").as("j"),
        col("s").as("sj"))), "j")
      .crossJoin(broadcast(nRow)) // 1 row off the checkpointed agg
      .select(col("i"), col("j"),
        (col("n") * col("sv") - col("si") * col("sj")).as("cov"))
    Scale.topK(cov, Nil, // 2016-row global window
        Seq(abs(col("cov")).desc, col("i"), col("j")), 16)
      .select(col("__rk").cast("long").as("rk"),
        col("i").cast("long").as("dim_i"),
        col("j").cast("long").as("dim_j"),
        col("cov").cast("long").as("cov"))
      .orderBy("rk")
  }

  /** Integer nDCG discount table: floor(1e6/log2(r+1)) for r = 1..10,
    * plus its prefix sums (the ideal-DCG denominators). Shared literals
    * with the q224 oracle — no libm call in either engine. */
  private val ndcgDisc: Seq[Long] = Seq(1000000L, 630929L, 500000L,
    430676L, 386852L, 356207L, 333333L, 315464L, 301029L, 289064L)
  private val ndcgPref: Seq[Long] = ndcgDisc.scanLeft(0L)(_ + _).tail

  /** Probe seeds: (vec_id, embedding, label) rows. */
  private[graft] type LabeledProbes = Seq[(Long, Seq[Float], Int)]

  /** Probe seeds (vec_id, embedding, label) with lo <= vec_id < hi, by
    * vec_id — one bounded collect. */
  private def labeledProbes(s: org.apache.spark.sql.SparkSession,
      d: String, lo: Int, hi: Int): LabeledProbes =
    emb(s, d).filter(col("vec_id") >= lo && col("vec_id") < hi)
      .select("vec_id", "embedding", "label").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1), r.getInt(2))).toSeq
      .sortBy(_._1)

  /** The (vec_id, embedding) rows where `keep` holds, collected to the
    * driver in vec_id order (one eager job per call). */
  private def vectors(s: org.apache.spark.sql.SparkSession, d: String,
      keep: org.apache.spark.sql.Column): Seq[(Long, Seq[Float])] =
    emb(s, d).filter(keep).select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq.sortBy(_._1)

  /** nDCG probe seeds, vec_id in [10, 26) (16 rows). */
  private val ndcgProbes = Tables.perDir(labeledProbes(_, _, 10, 26))

  /** q224 core over any (vec_id, embedding, label) frame plus explicit
    * probe seeds. Factored for crafted-ranking laws (known ideal /
    * known-worst orderings pin the nDCG arithmetic). */
  private[graft] def knnNdcgCore(s: org.apache.spark.sql.SparkSession,
      e: org.apache.spark.sql.DataFrame,
      probes: LabeledProbes)
      : org.apache.spark.sql.DataFrame = {
    import s.implicits._
    import RankKey.{checkedLabel, packLabeled, rq}
    val probesDf = broadcast(probes.toDF("qid", "qv", "ql"))
    val discLit = typedLit(ndcgDisc)
    val prefLit = typedLit(ndcgPref)
    val gathered = RankKey.crossProbes(e, probesDf)
      .select(col("qid"), col("ql"),
        packLabeled(rq(col("embedding"), col("qv")), col("vec_id"),
          checkedLabel("q224")).as("key"),
        (col("label") === col("ql")).as("rel"))
      .groupBy("qid", "ql")
      .agg(RankKey.bottomK(10)(col("key")).as("ks"),
        sum(when(col("rel"), 1L).otherwise(0L)).as("n_rel"))
    // 16 rows from here on: unpack ranks, sum the discounted gains
    gathered
      .select(col("qid"), col("ql"), col("n_rel"),
        posexplode(col("ks")).as(Seq("p", "key")))
      .select(col("qid"), col("n_rel"), (col("p") + 1).as("r"),
        (RankKey.label(col("key")) === col("ql")).as("rel"))
      .groupBy("qid", "n_rel")
      .agg(
        sum(when(col("rel"), element_at(discLit, col("r").cast("int")))
          .otherwise(0L)).as("dcg"),
        sum(when(col("rel"), 1L).otherwise(0L)).as("hits"),
        min(when(col("rel"), col("r"))).as("frank"))
      .withColumn("idcg", // greatest(...,1): n_rel=0 rows never read it
        element_at(prefLit,
          greatest(least(col("n_rel"), lit(10L)), lit(1L)).cast("int")))
      .select(col("qid"), col("hits").cast("long").as("hits"),
        when(col("n_rel") === 0, 0L).otherwise(
          expr("(dcg * 1000000L) div idcg"))
          .cast("long").as("ndcg_ppm"),
        when(col("frank").isNull, 0L)
          .otherwise(expr("1000000L div frank"))
          .cast("long").as("mrr_ppm"))
      .orderBy("qid")
  }

  /** q223 core over explicit (doc_id, group_id) groups and a
    * (doc_id, source, n_chars) doc table. Factored for crafted-group
    * laws (exact canonical pick and savings arithmetic). */
  private[graft] def dedupSavingsCore(
      grp: org.apache.spark.sql.DataFrame,
      qual: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val g = grp.join(qual.hint("shuffle_hash"), Seq("doc_id"))
      .localCheckpoint(true)
    // r14: single-pass canonPick replaces max -> join-back -> min-at-max
    // (one aggregate over g instead of an agg + a dup-mass join + agg).
    val canon = g.groupBy("group_id")
      .agg(canonPick(col("n_chars"), col("doc_id")).as("canonical_id"))
    val dropped = g.join(canon.hint("shuffle_hash"), Seq("group_id"))
      .filter(col("doc_id") =!= col("canonical_id"))
    val tot = qual.groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("chars_total"))
    val dr = dropped.groupBy("source")
      .agg(count(lit(1)).as("n_dropped"),
        sum("n_chars").as("chars_saved"))
    tot.join(dr, Seq("source"), "left")
      .select(col("source"), col("n_docs").cast("long").as("n_docs"),
        coalesce(col("n_dropped"), lit(0L)).cast("long")
          .as("n_dropped"),
        col("chars_total").cast("long").as("chars_total"),
        coalesce(col("chars_saved"), lit(0L)).cast("long")
          .as("chars_saved"),
        expr("coalesce(chars_saved, 0) * 1000000 div chars_total")
          .as("saved_ppm"))
      .orderBy("source")
  }

  /** q220 core over any (doc_id, lang, text) frame. Factored for the
    * crafted skew law (a lang whose docs are all duplicates must lose
    * share). */
  private[graft] def dedupShiftCore(
      d: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val k = d.select(col("lang"), col("doc_id"),
      call_function("md5_prefix60", col("text")).as("h"))
    val post = k.groupBy("h")
      .agg(min_by(col("lang"), col("doc_id")).as("kl"))
      .groupBy(col("kl").as("lang"))
      .agg(count(lit(1)).as("c_post"))
      .localCheckpoint(true)
    val pre = d.groupBy("lang")
      .agg(count(lit(1)).as("c_pre"))
      .localCheckpoint(true)
    pre.join(post, Seq("lang"), "left")
      .crossJoin(broadcast(pre.agg(sum("c_pre").as("np"))))
      .crossJoin(broadcast(post.agg(sum("c_post").as("nq"))))
      .select(col("lang"), col("c_pre").cast("long").as("n_pre"),
        coalesce(col("c_post"), lit(0L)).cast("long").as("n_post"),
        abs(expr("coalesce(c_post, 0) * 1000000 div nq") -
          expr("c_pre * 1000000 div np")).cast("long").as("shift_ppm"))
      .orderBy("lang")
  }

  /** MaxSim query seeds (vec_id 30..33). */
  private val maxSimProbes = Tables.perDir(
    vectors(_, _, col("vec_id") >= 30 && col("vec_id") < 34))

  /** q218 core over any (vec_id, embedding) frame plus explicit query
    * seeds. Factored for the crafted one-hot law (a document holding
    * the query's best token per subspace must rank first). */
  private[graft] def maxSimCore(s: org.apache.spark.sql.SparkSession,
      e: org.apache.spark.sql.DataFrame, probes: Seq[(Long, Seq[Float])])
      : org.apache.spark.sql.DataFrame = {
    import s.implicits._
    import RankKey.{rq, score}
    val probesDf = broadcast(probes.toDF("qid", "qv"))
    // Σ over query tokens i of max over doc tokens j of the quantized
    // 16-dim slice dot — each term codegen'd, max/sum over INTEGERS
    val maxsim = (0 until 4).map { i =>
      greatest((0 until 4).map { j =>
        rq(slice(col("embedding"), j * 16 + 1, 16),
          slice(col("qv"), i * 16 + 1, 16))
      }: _*)
    }.reduce(_ + _)
    RankKey.topRanks(RankKey.crossProbes(e, probesDf)
        .select(col("qid"), RankKey.pack(maxsim, col("vec_id")).as("key")),
      5, RankKey.id(col("key")).as("vec_id"), score(col("key")).as("maxsim_q"))
  }

  /** q217 core over any (vec_id, embedding) frame. Factored for the
    * perfect-codebook law (a corpus of exact centroid copies must show
    * zero inversions). */
  private[graft] def pqDistortionCore(
      e: org.apache.spark.sql.DataFrame, qids: Seq[Long])
      : org.apache.spark.sql.DataFrame = {
      val withD = Pq.subspaceDots(e)
      val lutArr = Pq.lutArr(withD, qids)
      val top = RankKey.crossProbes(Pq.codes(withD), broadcast(lutArr))
        .select(col("qid"),
          RankKey.pack(RankKey.quant(Pq.adc), col("vec_id")).as("key"))
        .groupBy("qid")
        .agg(RankKey.bottomK(16)(col("key")).as("ks"))
        .select(col("qid"), explode(col("ks")).as("key"))
        .select(col("qid"), RankKey.id(col("key")).as("vec_id"),
          RankKey.score(col("key")).as("adc_q"))
      val ex = e.select(col("vec_id"), col("embedding").as("ev"))
        .join(broadcast(top), Seq("vec_id"))
        .join(broadcast(RankKey.probeVecs(e, col("vec_id").isin(qids: _*))),
          Seq("qid"))
        .select(col("qid"), col("vec_id"), col("adc_q"),
          RankKey.rq(col("ev"), col("qv")).as("ex_q"))
        .localCheckpoint(true)
      val a = ex.select(col("qid"), col("vec_id").as("va"),
        col("adc_q").as("aa"), col("ex_q").as("ea"))
      val b = ex.select(col("qid"), col("vec_id").as("vb"),
        col("adc_q").as("ab"), col("ex_q").as("eb"))
      a.join(b, Seq("qid")).filter(col("va") < col("vb"))
        .groupBy("qid")
        .agg(sum(when((col("aa") > col("ab") && col("ea") < col("eb")) ||
            (col("aa") < col("ab") && col("ea") > col("eb")), 1L)
            .otherwise(0L)).cast("long").as("inversions"),
          count(lit(1)).cast("long").as("n_pairs"))
        .select(col("qid"), col("inversions"), col("n_pairs"),
          expr("(inversions * 1000000) div n_pairs")
            .as("distortion_ppm"))
        .orderBy("qid")
  }

  /** q216's hard-negative anchor seeds, vec_id in [10, 18). */
  private val hardNegProbes = Tables.perDir(labeledProbes(_, _, 10, 18))

  /** q216 core over any (vec_id, embedding, label) frame plus explicit
    * anchor seeds. Factored for crafted-label laws (the nearest
    * same-label vector must be excluded). */
  private[graft] def hardNegCore(s: org.apache.spark.sql.SparkSession,
      e: org.apache.spark.sql.DataFrame,
      probes: LabeledProbes)
      : org.apache.spark.sql.DataFrame = {
    import s.implicits._
    import RankKey.{checkedLabel, packLabeled, rq}
    val probesDf = broadcast(probes.toDF("qid", "qv", "ql"))
    val keyed = e.crossJoin(probesDf)
      .filter(col("vec_id") =!= col("qid") && col("label") =!= col("ql"))
      .select(col("qid"), packLabeled(rq(col("embedding"), col("qv")),
        col("vec_id"), checkedLabel("q216")).as("key"))
    RankKey.topRanks(keyed, 5, RankKey.labeledId(col("key")).as("vec_id"),
      RankKey.label(col("key")).as("neg_label"),
      (RankKey.score(col("key"), RankKey.ML).cast("double") / 10000d)
        .as("rdot"))
  }

  /** q215 core over any (vec_id, embedding) frame plus explicit
    * centroid/probe seeds. Factored for crafted-cell laws (all-one-cell
    * corpus must give recall 10/10). */
  private[graft] def ivfRecallCore(s: org.apache.spark.sql.SparkSession,
      e: org.apache.spark.sql.DataFrame,
      cents: Seq[(Long, Seq[Float])],
      probes: Seq[(Long, Seq[Float], Long, Long)])
      : org.apache.spark.sql.DataFrame = {
    import s.implicits._
    import RankKey.{bottomK, gated, recall}
    val probesDf = broadcast(
      probes.toDF("qid", "qv", "cell1", "cell2"))
    val minK10 = bottomK(10)
    val keyed = RankKey.crossProbes(RankKey.withCell(e, cents), probesDf)
      .select(col("qid"), RankKey.bfKey.as("key"),
        (col("cid") === col("cell1") || col("cid") === col("cell2"))
          .as("in_cell"))
    recall(keyed.groupBy("qid")
      .agg(minK10(col("key")).as("bf"),
        minK10(gated(col("key"), col("in_cell"))).as("ivf")), "ivf")
  }

  /** q209 core over any (doc_id, text) frame: per-doc DISTINCT winnowed
    * fingerprints (w=4 window min over 60-bit 5-gram hashes). Factored
    * for the crafted-topology law: any shared run of >= w+k-1 = 8 tokens
    * between two docs guarantees a shared fingerprint. */
  private[graft] def winnowFps(
      d: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val kh = d
      .select(col("doc_id"), TextOps.tokens(col("text")).as("ws"))
      .filter(size(col("ws")) >= 5)
      .select(col("doc_id"), (size(col("ws")) - 4).as("nk"),
        posexplode(TextOps.shingles(col("ws"), 5)).as(Seq("p", "g")))
      .select(col("doc_id"), col("nk"), col("p"),
        call_function("md5_prefix60", col("g")).as("h"))
    val w = Window.partitionBy("doc_id").orderBy("p").rowsBetween(0, 3)
    kh.select(col("doc_id"), col("nk"), col("p"),
        min(col("h")).over(w).as("fp"))
      .filter(col("p") <= col("nk") - 4) // 0-based: complete windows
      .select("doc_id", "fp").distinct()
  }

  /** q215's IVF-eval seeds: each probe's nprobe=2 coarse cells. */
  private val ivfEvalSeeds = Tables.perDir { (s, d) =>
    val (cents, probes) = centroidProbeSeeds(s, d, 2)
    (cents, probes.map { case (qid, qv, cells) =>
      (qid, qv, cells(0), cells(1)) })
  }

  /** q197 core, parameterized over the boundary hash so the law spec can
    * force cross-content collisions (unreachable with real 60-bit keys at
    * any gate SF) and prove the content-verify equality — not the hash —
    * decides pair emission. `df` needs (doc_id, text). */
  private[graft] def boundaryOverlap(df: org.apache.spark.sql.DataFrame,
      hashFn: org.apache.spark.sql.Column => org.apache.spark.sql.Column)
      : org.apache.spark.sql.DataFrame = {
      val base = df
        .select(col("doc_id"), TextOps.tokens(col("text")).as("ws"))
        .filter(size(col("ws")) >= 6)
        .select(col("doc_id"),
          array_join(slice(col("ws"), 1, 3), " ").as("head3"),
          array_join(slice(col("ws"), -3, 3), " ").as("tail3"))
        .select(col("doc_id"), col("head3"), col("tail3"),
          hashFn(col("head3")).as("hh"),
          hashFn(col("tail3")).as("th"))
        .localCheckpoint(true,
          org.apache.spark.storage.StorageLevel.DISK_ONLY)
      // Cap plan, two hard-won rules: (a) the cap keeps the map-side
      // WindowGroupLimit (see Scale.capPerBucket). (b) the window
      // partitions on (hash, content) — the content-verify equality is
      // extracted into the join keys, and with
      // requireAllClusterKeysForCoPartition a hash-only window forces a
      // SECOND exchange per side on (hash, content); since the hash is
      // a pure function of the content, the two-key window is
      // semantically identical and one exchange serves window AND join
      // (verified: WindowGroupLimit partial/final + direct join, no
      // re-exchange).
      val heads = Scale.capPerBucket(
        base.select(col("doc_id"), col("head3"), col("hh")), "q197_cap_h",
        Seq("hh", "head3"), Seq("doc_id"))
      val tails = Scale.capPerBucket(
        base.select(col("doc_id"), col("tail3"), col("th")), "q197_cap_t",
        Seq("th", "tail3"), Seq("doc_id"))
      tails.as("a")
        .join(heads.as("b").hint("shuffle_hash"),
          col("a.th") === col("b.hh") &&
            col("a.tail3") === col("b.head3"))
        .filter(col("a.doc_id") =!= col("b.doc_id"))
        .select(col("a.doc_id").as("pred"), col("b.doc_id").as("succ"))
  }

  /** q200 core (parameterized over the doc table for the law spec —
    * crafted chains/cycles are unreachable at the gate SFs). `df` needs
    * (doc_id, text, n_chars). */
  private[graft] def chainReassembly(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val pairs = boundaryOverlap(df, c => call_function("md5_prefix60", c))
    // eager checkpoint: CC re-reads its edge input every propagation
    // round, and the window-bearing plan would lose AQE coalescing
    // (same rule as rpEdges)
    val links = pairs
      .withColumn("outd", count(lit(1)).over(Window.partitionBy("pred")))
      .withColumn("ind", count(lit(1)).over(Window.partitionBy("succ")))
      .filter(col("outd") === 1L && col("ind") === 1L)
      .select("pred", "succ")
      .localCheckpoint(true)
    val grp = graft.functions.GraphOps
      .connectedComponents(links, "pred", "succ")
      .select(col("id"), col("lbl"))
    val ch = grp
      .join(df.select(col("doc_id").as("id"), col("n_chars"))
        .hint("shuffle_hash"), "id")
      .groupBy("lbl")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("chars"))
    val lc = links
      .join(grp.hint("shuffle_hash"), col("pred") === col("id"))
      .groupBy("lbl").agg(count(lit(1)).as("n_links"))
    ch.join(lc, "lbl")
      .groupBy(col("n_docs").cast("long").as("chain_len"))
      .agg(count(lit(1)).cast("long").as("n_chains"),
        sum("n_docs").cast("long").as("docs_total"),
        sum("chars").cast("long").as("chars_total"),
        sum(when(col("n_links") === col("n_docs"), 1L).otherwise(0L))
          .cast("long").as("n_cycles"))
      .orderBy("chain_len")
  }

  /** q201 core downstream of the candidate pairs (parameterized for the
    * law spec). `pairs` needs (id_a, id_b, rdot); `lg` needs
    * (doc_id, lang). */
  private[graft] def bitextFromPairs(pairs: org.apache.spark.sql.DataFrame,
      lg: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val sym = pairs.select(col("id_a").as("src"), col("id_b").as("nbr"),
        col("rdot"))
      .union(pairs.select(col("id_b").as("src"), col("id_a").as("nbr"),
        col("rdot")))
    val cand = sym
      .join(lg.as("ls").hint("shuffle_hash"),
        col("src") === col("ls.doc_id"))
      .join(lg.as("ln").hint("shuffle_hash"),
        col("nbr") === col("ln.doc_id"))
      .filter(col("ls.lang") =!= col("ln.lang"))
      .select(col("src"), col("ls.lang").as("lang_src"),
        col("ln.lang").as("lang_tgt"), col("nbr"),
        round(col("rdot") * 10000).cast("long").as("m"))
    Scale.topK(cand, Seq("src", "lang_tgt"), Seq(col("m").desc, col("nbr")),
        2)
      .groupBy("src", "lang_src", "lang_tgt")
      .agg(max(when(col("__rk") === 1, col("m"))).as("m1"),
        max(when(col("__rk") === 2, col("m"))).as("m2"))
      .groupBy("lang_src", "lang_tgt")
      .agg(count(lit(1)).cast("long").as("n_cands"),
        sum(when(col("m2").isNull ||
          col("m1") * 100L >= col("m2") * 105L, 1L).otherwise(0L))
          .cast("long").as("n_accepted"),
        sum(when(col("m2").isNull ||
          col("m1") * 100L >= col("m2") * 105L, col("m1"))
          .otherwise(0L)).cast("long").as("sim_sum"))
      .orderBy("lang_src", "lang_tgt")
  }

  /** q205 core downstream of the candidate pairs (parameterized for the
    * law spec). `pairs` needs (id_a, id_b, rdot); `src` needs
    * (doc_id, source). */
  private[graft] def overlapFromPairs(pairs: org.apache.spark.sql.DataFrame,
      src: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val sp = pairs
      .join(src.as("da").hint("shuffle_hash"),
        col("id_a") === col("da.doc_id"))
      .join(src.as("db").hint("shuffle_hash"),
        col("id_b") === col("db.doc_id"))
      .select(least(col("da.source"), col("db.source")).as("src_1"),
        greatest(col("da.source"), col("db.source")).as("src_2"),
        col("id_a"), col("id_b"),
        round(col("rdot") * 10000).cast("long").as("m"))
      .localCheckpoint(true)
    val dd = sp.select(col("src_1"), col("src_2"),
        col("id_a").as("doc"))
      .union(sp.select(col("src_1"), col("src_2"),
        col("id_b").as("doc")))
      .distinct()
      .groupBy("src_1", "src_2").agg(count(lit(1)).as("n_docs"))
    sp.groupBy("src_1", "src_2")
      .agg(count(lit(1)).cast("long").as("n_pairs"),
        sum("m").cast("long").as("sim_sum"))
      .join(dd, Seq("src_1", "src_2"))
      .select(col("src_1"), col("src_2"), col("n_pairs"),
        col("n_docs").cast("long").as("n_docs"), col("sim_sum"))
      .orderBy("src_1", "src_2")
  }

  /** The q185 deterministic segmentation: non-overlapping 8-word windows
    * over the whitespace tokens (exposed for the segment-partition law in
    * LateBatchLawsSpec). */
  private[graft] def segments8: org.apache.spark.sql.Column = {
    import graft.functions.TextOps
    // ws is computed and referenced per-element -> bindOnce (alias
    // barrier); word count >= 1 always (split of any string is
    // non-empty), so sequence never descends
    TextOps.bindWords { w =>
      transform(
        sequence(lit(0), floor((size(w) + lit(7)) / lit(8.0)).cast("int")
          - lit(1)),
        i => array_join(slice(w, i * 8 + 1, lit(8)), " "))
    }
  }

  /** q185 core, parameterized over the two segment hashes so the spec can
    * force collisions and exercise the mixed-key correction branch (with
    * the real 60-bit hashes it is unreachable below ~10^9 segments).
    * `docsDf` needs (doc_id, text). */
  private[graft] def boilerplateRm(docsDf: org.apache.spark.sql.DataFrame,
      h1: org.apache.spark.sql.Column => org.apache.spark.sql.Column,
      h2: org.apache.spark.sql.Column => org.apache.spark.sql.Column)
      : org.apache.spark.sql.DataFrame = {
      val segList = segments8
      // ONE corpus scan: the segment table feeds two consumers (the
      // frequency agg and the join probe) and exchange reuse cannot fire
      // — column pruning strips seg_chars from the freq branch, so the
      // subtrees differ. A checkpoint barrier materializes the tokenize+
      // md5 pass once as fixed-width rows (doc_id, seg_chars, hv ~ 24 B);
      // repartition(hv) BEFORE it is the partial-agg-collapse tool: the
      // checkpoint scans with unknown partitioning, but co-located hv
      // rows collapse the freq partial agg to one row per hv before the
      // wire. DISK_ONLY per the q155/q183 doctrine (segment-scale,
      // non-evictable blocks starve execution memory otherwise).
      val h = docsDf
        .select(col("doc_id"), explode(segList).as("seg"))
        .select(col("doc_id"), length(col("seg")).cast("long")
          .as("seg_chars"),
          h1(col("seg")).as("hv"),
          h2(col("seg")).as("hv2"))
        .repartition(col("hv"))
        .localCheckpoint(true,
          org.apache.spark.storage.StorageLevel.DISK_ONLY)
      // ndm < 0 <=> the hv group mixes >= 2 distinct contents (detected
      // by the salted second hash); |ndm| = distinct-doc count of the
      // group. One output column -> both consumers below prune to the
      // same aggregate and its exchange is reused.
      val freq = h.groupBy("hv")
        .agg((countDistinct(col("doc_id")) *
          when(min(col("hv2")) === max(col("hv2")), 1L).otherwise(-1L))
          .as("ndm"))
      val main = h.join(freq.hint("shuffle_hash"), Seq("hv"))
        .withColumn("nd", abs(col("ndm")))
        .groupBy("doc_id")
        .agg(count(lit(1)).cast("long").as("n_segs"),
          sum(when(col("nd") >= 2L, 1L).otherwise(0L)).cast("long")
            .as("n_removed"),
          sum(when(col("nd") < 2L, col("seg_chars")).otherwise(0L))
            .cast("long").as("chars_kept"))
      // exact correction for mixed keys: re-derive segment TEXT only for
      // their instances (collision-mass; broadcast semi-join keeps the
      // re-scan map-only) and un-flag content groups that truly span one
      // doc. nd_true = 1 implies a unique owning doc, so min(doc_id) is
      // exact and the branch has a single consumer of the re-scan.
      val mixedKeys = freq.filter(col("ndm") <= -2L).select("hv")
      val deltas = docsDf
        .select(col("doc_id"), explode(segList).as("seg"))
        .select(col("doc_id"), col("seg"),
          length(col("seg")).cast("long").as("seg_chars"),
          h1(col("seg")).as("hv"))
        .join(broadcast(mixedKeys), Seq("hv"), "left_semi")
        .groupBy("hv", "seg")
        .agg(countDistinct(col("doc_id")).as("nd_true"),
          count(lit(1)).as("n_inst"),
          min(col("doc_id")).as("doc_id"),
          sum(col("seg_chars")).as("chars"))
        .filter(col("nd_true") < 2L)
        .groupBy("doc_id")
        .agg(sum(col("n_inst")).cast("long").as("d_removed"),
          sum(col("chars")).cast("long").as("d_chars"))
      main.join(broadcast(deltas), Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_segs"),
          (col("n_removed") - coalesce(col("d_removed"), lit(0L)))
            .as("n_removed"),
          (col("chars_kept") + coalesce(col("d_chars"), lit(0L)))
            .as("chars_kept"))
        .orderBy("doc_id")
  }
}

/** Generated DuckDB oracle for q218: the 4x4 quantized subspace-dot
  * grid, greatest per query token, summed in fixed order — integers
  * end to end, so max/sum is engine-independent. */
private object MaxSimOracle {
  val sql: String = {
    val terms = (0 until 4).map { i =>
      val js = (0 until 4).map { j =>
        s"""CAST(round(list_sum(list_transform(range(1, 17),
           |      t -> CAST(e.embedding[${j * 16} + t] AS DOUBLE) *
           |           CAST(q.qv[${i * 16} + t] AS DOUBLE))) * 10000)
           |    AS BIGINT)""".stripMargin
      }.mkString(", ")
      s"greatest($js)"
    }.mkString(" + ")
    s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv
       |  FROM embeddings WHERE vec_id >= 30 AND vec_id < 34),
       |sc AS (
       |  SELECT qid, e.vec_id, $terms AS maxsim_q
       |  FROM embeddings e, q WHERE e.vec_id != q.qid),
       |r AS (
       |  SELECT qid, vec_id, maxsim_q,
       |    row_number() OVER (PARTITION BY qid
       |      ORDER BY maxsim_q DESC, vec_id) AS rk
       |  FROM sc)
       |SELECT qid, CAST(rk AS BIGINT) AS rk, vec_id,
       |  CAST(maxsim_q AS BIGINT) AS maxsim_q
       |FROM r WHERE rk <= 5 ORDER BY qid, rk""".stripMargin
  }
}
