package graft.queries

import org.apache.spark.sql.functions._

import graft.{Q, Tables}
import graft.functions.{Align, ArrayOps, Behaviors, NestedOps, UnionOps}
import graft.sources.Sources

/** Gate queries for library surface that previously had only specs:
  * N-ary cartesian/argcartesian, named-field combinations(n),
  * cross-collection alignment (Align.zipCollections), and the tagged-union
  * encoding (UnionOps) — round-5 verdict item 6.
  */
object SurfaceQueries {

  /** Scratch dir for the round-trip gate queries, deleted at JVM exit
    * ([[graft.io.TempDirs]]). Per-JVM: one dir per prefix, reused across
    * builder invocations (a long-lived sbt/test session would otherwise
    * accumulate a fresh slice copy per invocation — round-9 advice item). */
  private val scratchDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def scratchDir(prefix: String): String =
    scratchDirs.computeIfAbsent(prefix, p => graft.io.TempDirs.fresh(p))

  /** The synthesized snapshot pair shared by q168 (diff) and q173
    * (incremental stats) — ONE definition so the two queries (and the
    * delta algebra) cannot drift: v1 drops the %10==7 docs, v2 drops
    * the %10==5 docs and appends " updated" to the %10==3 texts. */
  private object SnapshotPair {
    import org.apache.spark.sql.Column
    val inV1: Column = col("doc_id") % 10 =!= 7
    val inV2: Column = col("doc_id") % 10 =!= 5
    val text2: Column = when(col("doc_id") % 10 === 3,
      concat(col("text"), lit(" updated"))).otherwise(col("text"))
    /** rows whose membership or content differs between snapshots */
    val deltaFilter: Column = (col("doc_id") % 10).isin(3, 5, 7)
  }

  /** `events` grouped by user_id and pivoted on the three event types
    * (q156, q157). */
  private def eventTypesByUser(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.RelationalGroupedDataset =
    Tables.events(s, d)
      .groupBy("user_id")
      .pivot("event_type", Seq("click", "purchase", "view"))

  val queries: Seq[Q] = Seq(
    // N-ary cartesian + argcartesian (reference structure.py:245-282
    // accepts a LIST of arrays; the 2-ary form is q25). Slices are
    // fixed-point-quantized BEFORE the product so the struct elements are
    // JSON-stable longs on both engines.
    Q(
      "q105_cartesian_n",
      """WITH t AS (SELECT vec_id,
        |    list_transform(embedding[1:2], x -> CAST(round(CAST(x AS DOUBLE)*1000000) AS BIGINT)) AS a,
        |    list_transform(embedding[3:4], x -> CAST(round(CAST(x AS DOUBLE)*1000000) AS BIGINT)) AS b,
        |    list_transform(embedding[5:6], x -> CAST(round(CAST(x AS DOUBLE)*1000000) AS BIGINT)) AS c
        |  FROM embeddings WHERE vec_id < 100)
        |SELECT vec_id,
        |  to_json(flatten(list_transform(a, x ->
        |    flatten(list_transform(b, y ->
        |      list_transform(c, z -> {'c0': x, 'c1': y, 'c2': z}))))))::VARCHAR AS triples,
        |  to_json(flatten(list_transform(range(0, 2), i ->
        |    flatten(list_transform(range(0, 2), j ->
        |      list_transform(range(0, 2), k ->
        |        {'c0': i, 'c1': j, 'c2': k}))))))::VARCHAR AS arg_triples
        |FROM t ORDER BY vec_id""".stripMargin
    ) { (s, d) =>
      val e = col("embedding")
      val Seq(a, b, c) =
        Seq(1, 3, 5).map(o => Ser.fp(slice(e, o, 2)))
      Tables.embeddings(s, d).filter(col("vec_id") < 100).select(
        col("vec_id"),
        Ser.js(ArrayOps.cartesianN(Seq(a, b, c))).as("triples"),
        Ser.js(transform(ArrayOps.argcartesianN(Seq(a, b, c)), t =>
          struct(t.getField("c0").cast("long").as("c0"),
            t.getField("c1").cast("long").as("c1"),
            t.getField("c2").cast("long").as("c2")))).as("arg_triples"))
        .orderBy("vec_id")
    },

    // combinations(n=3, fields=["a","b","c"]) — named output records for
    // general n (reference structure.py:296-332; n=2 fields= is q24's
    // combinations2). First five words of each doc -> 5-choose-3 records.
    Q(
      "q106_comb_named",
      """WITH w AS (SELECT doc_id, string_split(text, ' ')[1:5] AS ws
        |           FROM documents WHERE doc_id < 200)
        |SELECT doc_id,
        |  to_json(flatten(list_transform(range(1, len(ws)+1), i ->
        |    flatten(list_transform(range(i+1, len(ws)+1), j ->
        |      list_transform(range(j+1, len(ws)+1), k ->
        |        {'a': ws[i], 'b': ws[j], 'c': ws[k]}))))))::VARCHAR AS trips
        |FROM w ORDER BY doc_id""".stripMargin
    ) { (s, d) =>
      Tables.documents(s, d).filter(col("doc_id") < 200).select(
        col("doc_id"),
        Ser.js(ArrayOps.combinationsNamed(
          slice(split(col("text"), " "), 1, 5), 3, Seq("a", "b", "c")))
          .as("trips"))
        .orderBy("doc_id")
    },

    // Cross-collection alignment: positional zip of two INDEPENDENT
    // DataFrames (reference zips partition-compatible collections,
    // core.py:2883-2938). Both sides are sorted by their own key first so
    // the row index — and therefore the pairing — is deterministic; the
    // oracle reproduces it with row_number() joins.
    Q(
      "q107_zip_align",
      """WITH a AS (SELECT doc_id, n_chars,
        |             row_number() OVER (ORDER BY doc_id) - 1 AS i
        |           FROM documents WHERE doc_id < 20),
        |     b AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
        |             row_number() OVER (ORDER BY vec_id) - 1 AS i
        |           FROM embeddings WHERE vec_id < 20)
        |SELECT a.doc_id, a.n_chars, b.vec_id, b.label
        |FROM a JOIN b USING (i) ORDER BY doc_id""".stripMargin
    ) { (s, d) =>
      val a = Tables.documents(s, d).filter(col("doc_id") < 20)
        .orderBy("doc_id").select("doc_id", "n_chars")
      val b = Tables.embeddings(s, d).filter(col("vec_id") < 20)
        .orderBy("vec_id")
        .select(col("vec_id"), col("label").cast("long").as("label"))
      Align.zipCollections(a, b).orderBy("doc_id")
    },

    // Context-window chunking: overlapping sliding windows over each doc's
    // tokens (ArrayOps.sliding, winSize=30 stride=20 -> 10-token overlap),
    // one output row per chunk with a chunk-text fingerprint — the
    // doc -> training-example explode of an LLM pipeline. Per-row + one
    // explode; no shuffle before the final sort.
    Q(
      "q114_chunk_overlap",
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |c AS (
        |  SELECT doc_id, len(ws) AS n,
        |    CASE WHEN len(ws) <= 30 THEN 1
        |         ELSE CAST(ceil((len(ws) - 30) / 20.0) AS INT) + 1 END AS cnt, ws
        |  FROM t WHERE len(ws) > 0),
        |ch AS (
        |  SELECT doc_id, unnest(range(0, cnt)) AS chunk_id, n, ws FROM c),
        |sl AS (
        |  SELECT doc_id, chunk_id,
        |    ws[chunk_id * 20 + 1 : least(chunk_id * 20 + 30, n)] AS chunk
        |  FROM ch)
        |SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
        |  CAST(len(chunk) AS BIGINT) AS n_toks,
        |  substr(md5(array_to_string(chunk, ' ')), 1, 8) AS fp8
        |FROM sl ORDER BY doc_id, chunk_id""".stripMargin
    ) { (s, d) =>
      import graft.functions.{ArrayOps, TextOps}
      Tables.documents(s, d)
        .select(col("doc_id"),
          posexplode(ArrayOps.sliding(TextOps.tokens(col("text")), 30, 20))
            .as(Seq("chunk_id", "chunk")))
        .select(col("doc_id"), col("chunk_id").cast("long").as("chunk_id"),
          size(col("chunk")).cast("long").as("n_toks"),
          substring(md5(concat_ws(" ", col("chunk"))), 1, 8).as("fp8"))
        .orderBy("doc_id", "chunk_id")
    },

    // Salted two-stage aggregation (Skew.saltedAgg): the explicit hot-key
    // tool — group by (key, salt) spreads one pathological key over N
    // reducers, then partials merge by key. The oracle is the PLAIN
    // aggregate: salting must be semantically invisible.
    Q(
      "q113_salted_agg",
      """SELECT event_type AS key, CAST(count(*) AS BIGINT) AS n,
        |  round(sum(value), 2) + 0 AS sum_val
        |FROM events GROUP BY event_type ORDER BY key""".stripMargin
    ) { (s, d) =>
      graft.functions.Skew.saltedAgg(
        Tables.events(s, d), col("event_type"), saltBuckets = 8,
        partials = Seq(count(lit(1)).as("pn"), sum("value").as("ps")),
        merges = Seq(sum("pn").as("n"),
          (round(sum("ps"), 2) + lit(0.0)).as("sum_val")))
        .orderBy("key")
    },

    // Salted equi-JOIN (Skew.saltedJoin) — the join-side twin of q113's
    // salted aggregation: the per-source dimension is replicated over 8
    // salt values, the fact side salts deterministically by row hash, and
    // the join keys on (source, salt) so a hot source's rows spread over
    // 8 reducers instead of one. The oracle is the PLAIN join: salting
    // must be semantically invisible. (At gate SF the 20-row dim would
    // simply broadcast; the query pins the explicit salted form the way
    // q113 pins salted agg — the tool for when AQE's skew split can't
    // absorb one key and the dim is too large or too key-skewed to
    // broadcast whole.)
    Q(
      "q132_salted_join",
      """WITH base AS (
        |  SELECT doc_id, source,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS toks
        |  FROM documents),
        |dim AS (SELECT source, sum(toks) AS src_toks
        |        FROM base GROUP BY source)
        |SELECT b.doc_id, b.source, b.toks,
        |  CAST(d.src_toks AS BIGINT) AS src_toks
        |FROM base b JOIN dim d USING (source)
        |ORDER BY b.doc_id""".stripMargin
    ) { (s, d) =>
      import graft.functions.{Skew, TextOps}
      val base = Tables.documents(s, d).select(col("doc_id"), col("source"),
        size(TextOps.tokens(col("text"))).cast("long").as("toks"))
      val dim = base.groupBy("source")
        .agg(sum("toks").cast("long").as("src_toks"))
      Skew.saltedJoin(base, dim, "source", saltBuckets = 8)
        .select(col("doc_id"), col("source"), col("toks"), col("src_toks"))
        .orderBy("doc_id")
    },

    // Tagged-union round-trip (reference UnionForm; same flattening as its
    // JSONSchema export, io/json.py:867-870): build the tagged struct,
    // serialize it (nulls KEPT so the inactive variants are visible to the
    // oracle), and eliminate it with matchUnion.
    Q(
      "q108_union_roundtrip",
      """SELECT doc_id,
        |  to_json({'tag': CAST(doc_id % 3 AS INT),
        |    's': CASE WHEN doc_id % 3 = 0 THEN substr(text, 1, 8) END,
        |    'l': CASE WHEN doc_id % 3 = 1 THEN n_chars END,
        |    'b': CASE WHEN doc_id % 3 = 2 THEN lang = 'en' END})::VARCHAR
        |    AS u_json,
        |  CASE WHEN doc_id % 3 = 0 THEN upper(substr(text, 1, 8))
        |       WHEN doc_id % 3 = 1 THEN CAST(n_chars AS VARCHAR)
        |       ELSE CAST(lang = 'en' AS VARCHAR) END AS matched
        |FROM documents ORDER BY doc_id""".stripMargin
    ) { (s, d) =>
      val tag = col("doc_id") % 3
      val u = UnionOps.makeUnion(tag, Seq(
        "s" -> substring(col("text"), 1, 8),
        "l" -> col("n_chars"),
        "b" -> (col("lang") === "en")))
      Tables.documents(s, d).select(
        col("doc_id"),
        to_json(u, Map("ignoreNullFields" -> "false")).as("u_json"),
        UnionOps.matchUnion(u, Seq(
          "s" -> (c => upper(c)),
          "l" -> (c => c.cast("string")),
          "b" -> (c => c.cast("string")))).as("matched"))
        .orderBy("doc_id")
    },

    // PIVOT (long -> wide): RelationalGroupedDataset.pivot with an
    // EXPLICIT value list — the explicit list matters at scale: without
    // it Spark runs an extra distinct-collect job over the pivot column
    // and caps cardinality at spark.sql.pivotMaxValues; with it the whole
    // pivot compiles to ONE pass of conditional partial+final aggregates
    // (PivotFirst never materializes the wide row per input row). Oracle:
    // the same conditional aggregation spelled out (DuckDB's PIVOT is
    // sugar for exactly this). Sums of nonneg values — no -0.0 hazard.
    Q(
      "q156_pivot",
      """SELECT user_id,
        |  CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS click_n,
        |  round(sum(CASE WHEN event_type = 'click' THEN value ELSE 0 END),
        |    2) AS click_sv,
        |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS purchase_n,
        |  round(sum(CASE WHEN event_type = 'purchase' THEN value ELSE 0
        |    END), 2) AS purchase_sv,
        |  CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS view_n,
        |  round(sum(CASE WHEN event_type = 'view' THEN value ELSE 0 END),
        |    2) AS view_sv
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin
    ) { (s, d) =>
      eventTypesByUser(s, d)
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sv"))
        .select(col("user_id"),
          col("click_n"), col("click_sv"),
          col("purchase_n"), col("purchase_sv"),
          col("view_n"), col("view_sv"))
        .orderBy("user_id")
    },

    // UNPIVOT (wide -> long, Dataset.unpivot / SQL melt): the inverse
    // reshape, here melting a per-user event-type count matrix back to
    // (user, kind, n) rows. Unpivot is a zero-shuffle generator (each
    // input row fans out to k output rows map-side), so the only
    // exchange is the upstream pivot agg. Oracle: DuckDB UNPIVOT of the
    // equivalent conditional agg ('vw' not 'view' — reserved word there).
    Q(
      "q157_unpivot",
      """WITH w AS (
        |  SELECT user_id,
        |    CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS click,
        |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS purchase,
        |    CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS vw
        |  FROM events GROUP BY user_id)
        |SELECT user_id, kind, n FROM w
        |UNPIVOT (n FOR kind IN (click, purchase, vw))
        |ORDER BY user_id, kind""".stripMargin
    ) { (s, d) =>
      eventTypesByUser(s, d)
        .agg(count(lit(1)))
        .withColumnRenamed("view", "vw")
        .unpivot(Array(col("user_id")),
          Array(col("click"), col("purchase"), col("vw")), "kind", "n")
        .orderBy("user_id", "kind")
    },

    // Corpus snapshot DIFF — the data-versioning op (what changed
    // between yesterday's corpus and today's): two snapshots are
    // synthesized deterministically from the base table (v1 drops the
    // %10==7 docs, v2 drops the %10==5 docs and updates the %10==3
    // texts), then content-hash comparison over ONE full-outer shuffle
    // join on doc_id classifies added / removed / changed. Hashing is
    // map-side (fixed-width md5 before the exchange); the join carries
    // (doc_id, hash) only — at 100 TB this is the incremental-ingest
    // audit that runs per snapshot pair. Unchanged rows are filtered
    // pre-sort so output is delta-sized, not corpus-sized.
    Q(
      "q168_snapshot_diff",
      """WITH v1 AS (SELECT doc_id, md5(text) AS h FROM documents
        |           WHERE doc_id % 10 <> 7),
        |v2 AS (SELECT doc_id,
        |  md5(CASE WHEN doc_id % 10 = 3 THEN text || ' updated'
        |           ELSE text END) AS h
        |  FROM documents WHERE doc_id % 10 <> 5),
        |d AS (
        |  SELECT coalesce(v1.doc_id, v2.doc_id) AS doc_id,
        |    CASE WHEN v1.doc_id IS NULL THEN 'added'
        |         WHEN v2.doc_id IS NULL THEN 'removed'
        |         WHEN v1.h <> v2.h THEN 'changed'
        |         ELSE 'unchanged' END AS status
        |  FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id)
        |SELECT doc_id, status FROM d WHERE status <> 'unchanged'
        |ORDER BY doc_id""".stripMargin
    ) { (s, d) =>
      val base = Tables.documents(s, d)
      val v1 = base.filter(SnapshotPair.inV1)
        .select(col("doc_id").as("id1"), md5(col("text")).as("h1"))
      val v2 = base.filter(SnapshotPair.inV2)
        .select(col("doc_id").as("id2"),
          md5(SnapshotPair.text2).as("h2"))
      v1.join(v2, col("id1") === col("id2"), "full_outer")
        .select(coalesce(col("id1"), col("id2")).as("doc_id"),
          when(col("id1").isNull, "added")
            .when(col("id2").isNull, "removed")
            .when(col("h1") =!= col("h2"), "changed")
            .otherwise("unchanged").as("status"))
        .filter(col("status") =!= "unchanged")
        .orderBy("doc_id")
    },

    // INCREMENTAL aggregate maintenance — the algebra that makes corpus
    // stats affordable at 100 TB: tomorrow's per-source stats = today's
    // stored aggregate + a DELTA-ONLY scan (added/removed/changed rows
    // of q168's snapshot pair), never a full re-aggregation. The engine
    // side computes v2 stats as v1_agg ⊕ delta_agg (the delta filter
    // doc_id%10 IN (3,5,7) is pushed to the scan, so the incremental
    // branch touches delta-sized data); the ORACLE computes v2 stats
    // FROM SCRATCH — the gate passing proves the increment algebra is
    // exact, including a fully-removed source (src5/src15 drop to
    // n_docs = 0 and must vanish from the output).
    Q(
      "q173_incremental_stats",
      """WITH v2 AS (
        |  SELECT doc_id, source,
        |    CASE WHEN doc_id % 10 = 3 THEN text || ' updated'
        |         ELSE text END AS text
        |  FROM documents WHERE doc_id % 10 <> 5)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(length(text)) AS BIGINT) AS sum_chars,
        |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS sum_tokens
        |FROM v2 GROUP BY source ORDER BY source""".stripMargin
    ) { (s, d) =>
      val base = Tables.documents(s, d)
      val nchars = length(col("text")).cast("long")
      val ntoks = size(split(col("text"), " ")).cast("long")
      // v1 aggregate (in production: the STORED stats table)
      val v1 = base.filter(SnapshotPair.inV1)
        .groupBy("source")
        .agg(count(lit(1)).as("n"), sum(nchars).as("ch"),
          sum(ntoks).as("tk"))
      // delta: only rows whose membership or content changed between
      // snapshots — the filter reaches the parquet scan
      val text2 = SnapshotPair.text2
      val inV1 = SnapshotPair.inV1.cast("long")
      val inV2 = SnapshotPair.inV2.cast("long")
      val nchars2 = length(text2).cast("long")
      val ntoks2 = size(split(text2, " ")).cast("long")
      val delta = base
        .filter(SnapshotPair.deltaFilter)
        .groupBy("source")
        .agg(sum(inV2 - inV1).as("dn"),
          sum(inV2 * nchars2 - inV1 * nchars).as("dch"),
          sum(inV2 * ntoks2 - inV1 * ntoks).as("dtk"))
      v1.join(delta, Seq("source"), "full_outer")
        .select(col("source"),
          (coalesce(col("n"), lit(0L)) + coalesce(col("dn"), lit(0L)))
            .as("n_docs"),
          (coalesce(col("ch"), lit(0L)) + coalesce(col("dch"), lit(0L)))
            .as("sum_chars"),
          (coalesce(col("tk"), lit(0L)) + coalesce(col("dtk"), lit(0L)))
            .as("sum_tokens"))
        .filter(col("n_docs") > 0)
        .orderBy("source")
    },

    // Z-ORDER clustering key (the lakehouse locality op: Delta/Iceberg
    // OPTIMIZE ZORDER): bit-interleave two filter columns so range
    // predicates on EITHER column touch few contiguous file ranges.
    // Bit widths are DATA-DERIVED (ZOrderOps: bitlen of each column's
    // max, floored at 16 so every gate SF reproduces the historical
    // 16/16 key byte-identically) — a fixed 16-bit interleave is the
    // adaptive-constant trap: doc ids >= 2^16 alias mod 2^16 and curve
    // buckets stop bounding the id dimension exactly at replica scale.
    // n_chars is content-bounded, so the id dimension keeps >= 43 bits
    // of the int64 key (63 − wa cap). The output is the per-curve-
    // bucket layout manifest (bucket = zval div 4096 — what each
    // written file would contain; dropping 12 interleaved bits fixes
    // both dims' bits >= 6, so per-bucket spread < 64 per dimension at
    // ANY corpus size). Pure integer arithmetic, map-side except the
    // width scalars and the bucket aggregate.
    Q(
      "q174_zorder_layout",
      s"""WITH w AS (SELECT
        |    greatest(16, length(bin(max(n_chars)))) AS wa,
        |    least(greatest(16, length(bin(max(doc_id)))),
        |          63 - greatest(16, length(bin(max(n_chars))))) AS wb
        |  FROM documents),
        |d AS (SELECT doc_id, n_chars,
        |    CAST(list_sum(list_transform(range(0, greatest(wa, wb)),
        |      k -> (CASE WHEN k < wa THEN ((n_chars // (1 << k)) % 2)
        |              * (1 << (CASE WHEN k < wb THEN 2 * k
        |                        ELSE k + wb END)) ELSE 0 END)
        |         + (CASE WHEN k < wb THEN ((doc_id // (1 << k)) % 2)
        |              * (1 << (CASE WHEN k < wa THEN 2 * k + 1
        |                        ELSE k + wa END)) ELSE 0 END)))
        |      AS BIGINT) AS zval
        |  FROM documents, w)
        |SELECT CAST(zval // 4096 AS BIGINT) AS zbucket,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(min(zval) AS BIGINT) AS z_lo,
        |  CAST(max(zval) AS BIGINT) AS z_hi,
        |  CAST(min(doc_id) AS BIGINT) AS first_doc
        |FROM d GROUP BY 1 ORDER BY zbucket""".stripMargin
    ) { (s, d) =>
      import graft.functions.ZOrderOps
      val docs0 = Tables.documents(s, d)
      val w = docs0.agg(
        ZOrderOps.widthExpr("n_chars").as("wa0"),
        greatest(lit(16), length(bin(max(col("doc_id")).cast("long"))))
          .as("wb0"))
        .select(col("wa0").as("wa"),
          least(col("wb0"), lit(63) - col("wa0")).as("wb"))
      docs0.crossJoin(broadcast(w))
        .select(col("doc_id"), col("n_chars"),
          expr(ZOrderOps.zvalSql("n_chars", "doc_id", "wa", "wb"))
            .as("zval"))
        .groupBy(expr("zval div 4096").as("zbucket"))
        .agg(count(lit(1)).cast("long").as("n"),
          min("zval").as("z_lo"), max("zval").as("z_hi"),
          min("doc_id").cast("long").as("first_doc"))
        .orderBy("zbucket")
    },

    // Per-shard delivery CHECKSUMS — output-integrity manifests: each
    // shard's content checksum is an ORDER-INDEPENDENT sum of per-doc
    // content hashes mod 2^61−1 (commutative, so any partial-agg tree /
    // shuffle order yields the same value — the property that makes it
    // verifiable shard-by-shard by any downstream consumer without a
    // sort). Map-side hashing (codegen md5 kernel), one partial+final
    // agg by shard. The consumer-side re-check of a delivered shard is
    // the same one-pass fold. Capacity: the raw sum holds ~2^63 / 2^32
    // ≈ 2.1e9 docs per shard before int64 overflow — far beyond any
    // real shard (shards are size-bounded by design); past that the
    // fold would need mod-at-partial (a custom aggregate).
    Q(
      "q175_shard_checksums",
      s"""WITH h AS (
        |  SELECT doc_id,
        |    ${OracleSql.md5Int("text")} AS h
        |  FROM documents)
        |SELECT h % 8 AS shard, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(h) % 2305843009213693951 AS BIGINT) AS checksum
        |FROM h GROUP BY 1 ORDER BY shard""".stripMargin
    ) { (s, d) =>
      Tables.documents(s, d)
        .select(call_function("md5_prefix64", col("text")).as("h"))
        .groupBy((col("h") % 8).as("shard"))
        .agg(count(lit(1)).cast("long").as("n_docs"),
          (sum("h") % 2305843009213693951L).as("checksum"))
        .orderBy("shard")
    },

    // Source round-trip gate: to_json/to_csv/to_orc/to_text each written
    // from a documents slice, read back through the matching reader
    // (fromJson/fromCsv with explicit schema = the reference's schema
    // pushdown; fromText + split covers the delimiter-record form,
    // reference io/text.py:54-127, io/json.py:644-781), digested with an
    // order-independent row hash. The oracle computes the digest straight
    // from the parquet table — equality proves every format round-trips
    // losslessly. Closes the round-7 "spec-only sources" verdict item.
    Q(
      "q178_source_roundtrip",
      s"""WITH base AS (
        |  SELECT CAST(doc_id AS BIGINT) AS doc_id, lang, source,
        |         CAST(n_chars AS BIGINT) AS n_chars, text
        |  FROM documents WHERE doc_id % 10 = 0 AND len(text) > 0
        |    AND NOT contains(text, chr(10)) AND NOT contains(text, chr(13))
        |    AND NOT contains(text, chr(9))),
        |dig AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |    CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |    CAST(sum(${OracleSql.md5Int(
          "concat_ws(chr(1), doc_id, lang, source, n_chars, text)")}) AS BIGINT)
        |      AS digest
        |  FROM base)
        |SELECT f.format, d.n_rows, d.sum_chars, d.digest
        |FROM (VALUES ('csv'), ('json'), ('orc'), ('text')) f(format)
        |CROSS JOIN dig d ORDER BY f.format""".stripMargin
    ) { (s, d) =>
      import org.apache.spark.sql.DataFrame
      import org.apache.spark.sql.types._
      val base = Tables.documents(s, d)
        // newline/tab-bearing texts excluded on BOTH sides: the CSV read
        // is single-line (no multiLine) and the text format is
        // line/tab-delimited, so such a row would split mid-record and
        // read as a round-trip failure when it is reader configuration
        .filter(col("doc_id") % 10 === 0 && length(col("text")) > 0 &&
          !col("text").contains("\n") && !col("text").contains("\r") &&
          !col("text").contains("\t"))
        .select(col("doc_id").cast("long").as("doc_id"), col("lang"),
          col("source"), col("n_chars").cast("long").as("n_chars"),
          col("text"))
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("lang", StringType),
        StructField("source", StringType), StructField("n_chars", LongType),
        StructField("text", StringType)))
      val tmp = scratchDir("graft_rt_")
      Sources.toJson(base, s"$tmp/json")
      Sources.toCsv(base, s"$tmp/csv")
      Sources.toOrc(base, s"$tmp/orc")
      Sources.toText(base.select(concat_ws("\t", col("doc_id"), col("lang"),
        col("source"), col("n_chars"), col("text")).as("value")), s"$tmp/text")
      val p = split(col("value"), "\t", 5)
      val readers: Seq[(String, DataFrame)] = Seq(
        "csv" -> Sources.fromCsv(s, s"$tmp/csv", Some(schema)),
        "json" -> Sources.fromJson(s, s"$tmp/json", Some(schema)),
        "orc" -> Sources.fromOrc(s, s"$tmp/orc"),
        "text" -> Sources.fromText(s, s"$tmp/text").select(
          p.getItem(0).cast("long").as("doc_id"), p.getItem(1).as("lang"),
          p.getItem(2).as("source"), p.getItem(3).cast("long").as("n_chars"),
          p.getItem(4).as("text")))
      readers.map { case (fmt, df) =>
        df.agg(count(lit(1)).cast("long").as("n_rows"),
            sum(col("n_chars")).as("sum_chars"),
            sum(call_function("md5_prefix64", concat_ws("\u0001",
              col("doc_id"), col("lang"), col("source"), col("n_chars"),
              col("text")))).as("digest"))
          .select(lit(fmt).as("format"), col("n_rows"), col("sum_chars"),
            col("digest"))
      }.reduce(_ unionByName _).orderBy("format")
    },

    // Layout/metadata surface gate: full/zeros/ones_like (NestedOps
    // .fullLike, reference structure.py:479-505/672-690/1234-1252),
    // to_regular/from_regular validation round-trip (structure.py:479-505;
    // embeddings are 64-regular by construction, so the validating pass
    // accepts every row), and with_name/with_parameter metadata that is
    // READ BACK from the DataFrame schema into the output (proving the
    // behavior tag survives the plan, structure.py:1145-1161, 1187-1231).
    Q(
      "q179_layout_surface",
      """SELECT vec_id,
        |  CAST(len(embedding) AS BIGINT) AS len_orig,
        |  CAST(list_sum(list_transform(embedding, x -> 1)) AS BIGINT) AS ones_sum,
        |  CAST(list_sum(list_transform(embedding, x -> 0)) AS BIGINT) AS zeros_sum,
        |  CAST(list_sum(list_transform(embedding, x -> 7)) AS BIGINT) AS full_sum,
        |  CAST(8 AS BIGINT) AS n_chunks,
        |  flatten(list_transform(range(0, 8),
        |    i -> embedding[i*8+1:i*8+8])) = embedding AS regular_ok,
        |  'Point' AS record_name, 'm' AS unit,
        |  CAST(round(sqrt(power(CAST(embedding[1] AS DOUBLE), 2)
        |                + power(CAST(embedding[2] AS DOUBLE), 2)) * 1000000)
        |    AS BIGINT) AS mag_fp
        |FROM embeddings WHERE vec_id < 300 ORDER BY vec_id""".stripMargin
    ) { (s, d) =>
      val emb = Tables.embeddings(s, d).filter(col("vec_id") < 300)
      val dt = emb.schema("embedding").dataType
      val pt = struct(
        element_at(col("embedding"), 1).cast("double").as("x"),
        element_at(col("embedding"), 2).cast("double").as("y"))
      val tagged = emb.select(col("vec_id"), col("embedding"),
        Behaviors.withName(pt, "Point"),
        Behaviors.withParameter(pt, "unit", "m", "pt2"))
      // metadata read-back: the literal below comes out of the SCHEMA of
      // `tagged`, not out of the source string — if with_name/with_parameter
      // dropped their metadata this would throw at plan time
      val recordName = tagged.schema("value").metadata
        .getString("graft.record_name")
      val unit = tagged.schema("pt2").metadata.getString("graft.param.unit")
      def sumOf(a: org.apache.spark.sql.Column) =
        aggregate(a, lit(0L), (acc, x) => acc + x)
      val regular = ArrayOps.fromRegular(ArrayOps.toRegular(col("embedding"), 64))
      val chunks = ArrayOps.chunk(regular, 8)
      tagged.select(col("vec_id"),
        size(col("embedding")).cast("long").as("len_orig"),
        sumOf(NestedOps.fullLike(col("embedding"), dt, lit(1L))).as("ones_sum"),
        sumOf(NestedOps.fullLike(col("embedding"), dt, lit(0L))).as("zeros_sum"),
        sumOf(NestedOps.fullLike(col("embedding"), dt, lit(7L))).as("full_sum"),
        size(chunks).cast("long").as("n_chunks"),
        (flatten(chunks) === col("embedding")).as("regular_ok"),
        lit(recordName).as("record_name"), lit(unit).as("unit"),
        round(new Behaviors.PointColumn(col("value")).magnitude * 1000000L)
          .cast("long").as("mag_fp"))
        .orderBy("vec_id")
    },

    // Bad-file tolerance + read report as a GATE row (reference
    // parquet.py:36-61, io/io.py:651-696, test_parquet.py:207): a
    // 2-file parquet dir plus one garbage file; the tolerant read must
    // return every good row (content-checked against the oracle) and the
    // report must attribute exactly one failure.
    Q(
      "q180_read_report",
      """SELECT CAST(count(*) AS BIGINT) AS rows_read,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(2 AS BIGINT) AS files_ok, CAST(1 AS BIGINT) AS files_bad
        |FROM documents WHERE doc_id % 7 = 0""".stripMargin
    ) { (s, d) =>
      val slice = Tables.documents(s, d)
        .filter(col("doc_id") % 7 === 0)
        .select(col("doc_id"), col("n_chars"), col("text"))
      val tmp = scratchDir("graft_rr_")
      Sources.toParquet(slice.repartition(2), tmp)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(tmp, "part-junk.parquet"),
        "not a parquet file".getBytes("UTF-8"))
      val (data, report) = Sources.fromParquetWithReport(s, tmp)
      val dataAgg = data.agg(count(lit(1)).cast("long").as("rows_read"),
        sum(col("n_chars")).cast("long").as("sum_chars"))
      val reportAgg = report.agg(
        count(when(col("exception").isNull, 1)).cast("long").as("files_ok"),
        count(when(col("exception").isNotNull, 1)).cast("long").as("files_bad"))
      dataAgg.crossJoin(reportAgg)
    },

    // PARQUET AGGREGATE PUSHDOWN gate (round-9 verdict item 6): corpus
    // COUNT/MIN/MAX answered from parquet FOOTERS — at 100 TB the
    // difference between a metadata read and a full scan for the
    // corpus-stats queries every pipeline runs first. The builder
    // REQUIREs `PushedAggregation` in the executed plan, so a Spark
    // upgrade or conf drift that silently regresses to a row scan fails
    // the gate itself, not just a spec. Pushdown needs the DSv2 parquet
    // path + the aggregatePushdown conf, both scoped to this query and
    // restored after (the session default keeps V1 + no-pushdown for
    // every other query). The one-row result is materialized eagerly
    // (the confs must be live at execution, and 5 longs is not a
    // driver-side-loop concern).
    Q(
      "q189_footer_stats",
      """SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(min(doc_id) AS BIGINT) AS min_id,
        |  CAST(max(doc_id) AS BIGINT) AS max_id,
        |  CAST(min(n_chars) AS BIGINT) AS min_chars,
        |  CAST(max(n_chars) AS BIGINT) AS max_chars
        |FROM documents""".stripMargin
    ) { (s, d) =>
      val keys = Seq("spark.sql.parquet.aggregatePushdown" -> "true",
        "spark.sql.sources.useV1SourceList" -> "")
      val prev = keys.map { case (k, _) => k -> s.conf.getOption(k) }
      val (row, plan) =
        try {
          keys.foreach { case (k, v) => s.conf.set(k, v) }
          val agg = s.read.parquet(s"$d/documents.parquet")
            .agg(count(lit(1)).cast("long").as("n_docs"),
              min("doc_id").cast("long").as("min_id"),
              max("doc_id").cast("long").as("max_id"),
              min("n_chars").cast("long").as("min_chars"),
              max("n_chars").cast("long").as("max_chars"))
          (agg.collect().head, agg.queryExecution.executedPlan.toString)
        } finally prev.foreach { case (k, vo) =>
          vo.fold(s.conf.unset(k))(v => s.conf.set(k, v))
        }
      require(plan.contains("PushedAggregation"),
        s"footer stats fell back to a row scan:\n$plan")
      s.createDataFrame(
        java.util.List.of(row),
        org.apache.spark.sql.types.StructType(
          Seq("n_docs", "min_id", "max_id", "min_chars", "max_chars").map(
            org.apache.spark.sql.types.StructField(_,
              org.apache.spark.sql.types.LongType, nullable = true))))
    })
}
