package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Q, Tables}
import graft.Tables.{documents => docs, embeddings => emb}
import graft.functions.{Aggregators, Scale, TextOps}

/** Corpus-preparation operators beyond the dedup/ANN family: term salience
  * (TF-IDF), stratified corpus mixing, repetition quality signals, inverted
  * index, and per-class embedding centroids. Each is the scale shape a
  * 100 TB pipeline needs: explode -> partial agg, bounded per-group state,
  * no driver-side loops.
  *
  * Determinism notes (oracle = DuckDB on identical parquet):
  *  - TF-IDF uses the LINEAR idf variant `tf * N / df` — integer products
  *    and one IEEE division are exactly rounded and therefore engine-equal,
  *    while `ln` differs by ulps between libm and the JVM and can flip
  *    ranks/rounding. Ranking ties break on the term string.
  *  - Ratios are integer/integer divisions (exactly rounded), rounded to 4.
  *  - Centroid means are double sums — order-dependent in the last ulps —
  *    so they are rounded to 4 with the `+ 0` signed-zero guard.
  */
object PipelineQueries {

  val queries: Seq[Q] = Seq(
    // Per-document top-3 salient terms by TF-IDF (linear idf, see above).
    // Scale shape: explode -> (doc, term) partial agg; df is a reuse of
    // that aggregate (one scan); term join shuffles by term (vocab-sized,
    // NOT broadcast — a 100 TB vocabulary does not fit an executor); the
    // top-k is a per-doc window over ~distinct-terms-per-doc rows.
    //
    // Zipf hardening: the df-count groupBy needs no salting — `count` is
    // map-side partially aggregated, so a head term reaches the final
    // reducer as one partial row per map task, not one row per document.
    // The genuinely skew-exposed stage is the TERM-KEYED JOIN (every
    // (doc, "the") row lands on one reducer), so that join is
    // salt-replicated: tf rows carry a deterministic pmod(doc_id, 8)
    // salt, the vocab side is exploded x8, and the join keys on
    // (term, salt) — a head term spreads over 8 reducers regardless of
    // AQE, and the tiny vocab-side replication is the only added cost.
    // Result is identical (every tf row still meets its term's df row
    // exactly once); the oracle is unchanged.
    Q(
      "q95_tfidf",
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
        |tf AS (
        |  SELECT doc_id, w, count(*) AS tf FROM toks GROUP BY doc_id, w),
        |df AS (SELECT w, count(*) AS df FROM tf GROUP BY w),
        |n AS (SELECT count(*) AS n FROM documents),
        |scored AS (
        |  SELECT t.doc_id, t.w AS term, t.tf, f.df,
        |    CAST(t.tf * n.n AS DOUBLE) / f.df AS score
        |  FROM tf t JOIN df f ON t.w = f.w CROSS JOIN n),
        |ranked AS (
        |  SELECT doc_id, term, tf, df, score,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term)
        |      AS rnk
        |  FROM scored)
        |SELECT doc_id, CAST(rnk AS BIGINT) AS rnk, term,
        |  CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
        |  round(score, 4) AS score
        |FROM ranked WHERE rnk <= 3 ORDER BY doc_id, rnk""".stripMargin
    ) { (s, d) =>
      val toks = docWords(s, d)
      val tf = toks.groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy("w").agg(count(lit(1)).as("df"))
      val n = docs(s, d).agg(count(lit(1)).as("n"))
      val w = Window.partitionBy("doc_id")
        .orderBy(col("score").desc, col("term"))
      val salts = 8
      val tfSalted = tf.withColumn("__salt",
        pmod(col("doc_id"), lit(salts)).cast("int"))
      val dfReplicated = dfreq.withColumn("__salt",
        explode(sequence(lit(0), lit(salts - 1))))
      tfSalted.join(dfReplicated, Seq("w", "__salt"))
        .crossJoin(broadcast(n))
        .select(col("doc_id"), col("w").as("term"), col("tf"), col("df"),
          ((col("tf") * col("n")).cast("double") / col("df")).as("score"))
        .withColumn("rnk", row_number().over(w).cast("long"))
        .filter(col("rnk") <= 3)
        .select(col("doc_id"), col("rnk"), col("term"),
          col("tf").cast("long").as("tf"), col("df").cast("long").as("df"),
          round(col("score"), 4).as("score"))
        .orderBy("doc_id", "rnk")
    },

    // Stratified corpus mixing: per-language keep rates via the same
    // engine-independent hash-Bernoulli as q87 (md5 prefix), here with a
    // per-stratum threshold — the "sample en at 8%, everything else at
    // 25%" data-mixing step. Deterministic, repartition-proof, no RNG
    // state to coordinate across executors.
    Q(
      "q96_stratified_sample",
      """SELECT doc_id, lang FROM documents
        |WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) <
        |  CASE WHEN lang = 'en' THEN '15' ELSE '40' END
        |ORDER BY doc_id""".stripMargin
    ) { (s, d) =>
      docs(s, d)
        .filter(substring(md5(col("doc_id").cast("string")), 1, 2) <
          when(col("lang") === "en", "15").otherwise("40"))
        .select("doc_id", "lang").orderBy("doc_id")
    },

    // Gopher/RefinedWeb-style repetition signals: duplicate-word fraction
    // and top-word (mode) fraction per document. Explode -> two partial
    // aggs; all ratios are exact integer divisions.
    Q(
      "q97_repetition",
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
        |wc AS (SELECT doc_id, w, count(*) AS c FROM toks GROUP BY doc_id, w),
        |stats AS (
        |  SELECT doc_id, sum(c) AS nw, max(c) AS topc, count(*) AS nd
        |  FROM wc GROUP BY doc_id)
        |SELECT doc_id,
        |  CAST(nw AS BIGINT) AS n_words,
        |  round(1.0 - CAST(nd AS DOUBLE) / nw, 4) AS dup_word_frac,
        |  round(CAST(topc AS DOUBLE) / nw, 4) AS top_word_frac
        |FROM stats ORDER BY doc_id""".stripMargin
    ) { (s, d) =>
      docWords(s, d)
        .groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
        .groupBy("doc_id")
        .agg(sum("c").as("nw"), max("c").as("topc"), count(lit(1)).as("nd"))
        .select(col("doc_id"),
          col("nw").cast("long").as("n_words"),
          round(lit(1.0) - col("nd").cast("double") / col("nw"), 4)
            .as("dup_word_frac"),
          round(col("topc").cast("double") / col("nw"), 4)
            .as("top_word_frac"))
        .orderBy("doc_id")
    },

    // Inverted index: per-term document frequency + the 5 smallest doc ids
    // as a bounded postings sample. The k-minima come from
    // [[Aggregators.MinKAgg]] — O(k) state per term regardless of df, the
    // aggregator the 100 TB shape needs (collect_list would buffer every
    // posting). Output serialized with ';' so the driver's scalar compare
    // applies.
    Q(
      "q98_postings",
      """WITH dw AS (
        |  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS w
        |  FROM documents),
        |agg AS (
        |  SELECT w AS term, count(*) AS df,
        |    array_to_string(list_sort(list(doc_id))[1:5], ';') AS top_docs
        |  FROM dw GROUP BY w)
        |SELECT term, CAST(df AS BIGINT) AS df, top_docs
        |FROM agg WHERE length(term) >= 4 AND df >= 50
        |ORDER BY term""".stripMargin
    ) { (s, d) =>
      val minK = Aggregators.minK(5)
      docWords(s, d)
        .distinct()
        .groupBy(col("w").as("term"))
        .agg(count(lit(1)).as("df"), minK(col("doc_id")).as("top"))
        .filter(length(col("term")) >= 4 && col("df") >= 50)
        .select(col("term"), col("df").cast("long").as("df"),
          concat_ws(";", col("top").cast("array<string>")).as("top_docs"))
        .orderBy("term")
    },

    // Training-shard packing: assign documents to shards by a running
    // token budget (the sequence-packing / shard-manifest step before
    // tokenizer runs). The running sum is windowed PER SOURCE — the
    // partition key is what makes this scale (a single global running sum
    // would serialize on one partition); shard boundaries use the
    // exclusive prefix (sum - n_tok) so a document straddling the budget
    // starts the next shard on both engines identically (integer/0.5-free
    // arithmetic).
    Q(
      "q103_shard_packing",
      """WITH toks AS (
        |  SELECT doc_id, source, len(string_split(text, ' ')) AS n_tok
        |  FROM documents),
        |packed AS (
        |  SELECT doc_id, source, n_tok,
        |    CAST(floor((sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok)
        |      / 500.0) AS BIGINT) AS shard
        |  FROM toks)
        |SELECT source, shard, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_tok) AS BIGINT) AS shard_tokens,
        |  min(doc_id) AS first_doc
        |FROM packed GROUP BY source, shard ORDER BY source, shard""".stripMargin
    ) { (s, d) =>
      val w = Window.partitionBy("source").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      docs(s, d)
        .select(col("doc_id"), col("source"),
          size(TextOps.tokens(col("text"))).as("n_tok"))
        .withColumn("shard",
          floor((sum("n_tok").over(w) - col("n_tok")) / 500.0).cast("long"))
        .groupBy("source", "shard")
        .agg(count(lit(1)).cast("long").as("n_docs"),
          sum("n_tok").cast("long").as("shard_tokens"),
          min("doc_id").as("first_doc"))
        .orderBy("source", "shard")
    },

    // CCNet-style unigram LM quality score: per-doc cross-entropy under
    // the corpus unigram distribution (low = templated/common, high =
    // rare-token noise — both filter targets). Scale shape: explode ->
    // vocab-keyed frequency agg -> shuffle join by term -> per-doc avg;
    // the 1-row total broadcasts. ln ulps differ between libm and the
    // JVM but vanish at round(,3) on an average of O(doc) terms.
    Q(
      "q102_lm_score",
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
        |freq AS (
        |  SELECT w, count(*) AS c FROM toks GROUP BY w),
        |tot AS (SELECT sum(c) AS t FROM freq)
        |SELECT t.doc_id,
        |  CAST(count(*) AS BIGINT) AS n_words,
        |  round(avg(-ln(CAST(f.c AS DOUBLE) / tot.t)), 3) AS cross_entropy
        |FROM toks t JOIN freq f ON t.w = f.w CROSS JOIN tot
        |GROUP BY t.doc_id ORDER BY doc_id""".stripMargin
    ) { (s, d) =>
      val toks = docWords(s, d)
      val freq = toks.groupBy("w").agg(count(lit(1)).as("c"))
      val tot = freq.agg(sum("c").as("t"))
      toks.join(freq, "w")
        .crossJoin(broadcast(tot))
        .groupBy("doc_id")
        .agg(count(lit(1)).cast("long").as("n_words"),
          round(avg(-log(col("c").cast("double") / col("t"))), 3)
            .as("cross_entropy"))
        .orderBy("doc_id")
    },

    // One k-means step (assign to nearest of 8 deterministic seed
    // centroids, then per-cluster stats) — the SemDeDup/vector-quantize
    // shape. Distance uses the dot identity |v-c|² = v·v - 2 v·c + c·c so
    // both engines combine three identically-computed dot products with
    // exactly-rounded double ops (an elementwise (x-y)² sum would round
    // differently). Spark: tiny seed table broadcast; the argmin is TWO
    // ONE fused ObjectHashAggregate per assignment (ArgMinAgg: min sid
    // at min dist in a scalar buffer) — the candidate crossJoin is
    // evaluated exactly once, and the pair rows deliberately carry no
    // embedding (rejoined by vec_id afterwards) so nothing wide flows
    // through the aggregation. Never min_by/min(struct): struct-buffered
    // aggregates compile to SortAggregate over the n·k pair stream. The
    // oracle's row_number form picks the same row (ties break on sid).
    Q(
      "q100_kmeans_assign",
      s"""WITH seeds AS (
        |  SELECT vec_id AS sid, embedding AS c FROM embeddings WHERE vec_id < 8),
        |pairs AS (
        |  SELECT e.vec_id, s.sid,
        |    ${OracleSql.dot("e.embedding", "e.embedding", 64)}
        |    - 2 * ${OracleSql.dot("e.embedding", "s.c", 64)}
        |    + ${OracleSql.dot("s.c", "s.c", 64)} AS dist
        |  FROM embeddings e CROSS JOIN seeds s),
        |assigned AS (
        |  SELECT vec_id, sid,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY dist, sid) AS rn
        |  FROM pairs),
        |members AS (
        |  SELECT a.vec_id, a.sid, e.embedding
        |  FROM assigned a JOIN embeddings e ON a.vec_id = e.vec_id WHERE a.rn = 1)
        |SELECT sid AS cluster, CAST(count(*) AS BIGINT) AS n,
        |  round(avg(CAST(embedding[1] AS DOUBLE)), 4) + 0 AS c0,
        |  round(avg(CAST(embedding[2] AS DOUBLE)), 4) + 0 AS c1,
        |  round(avg(CAST(embedding[3] AS DOUBLE)), 4) + 0 AS c2,
        |  round(avg(CAST(embedding[4] AS DOUBLE)), 4) + 0 AS c3
        |FROM members GROUP BY sid ORDER BY cluster""".stripMargin
    ) { (s, d) =>
      val seeds = emb(s, d).filter(col("vec_id") < 8)
        .select(col("vec_id").as("sid"), col("embedding").as("c"))
      val dist = TextOps.dot(col("embedding"), col("embedding")) -
        lit(2.0) * TextOps.dot(col("embedding"), col("c")) +
        TextOps.dot(col("c"), col("c"))
      def cd(i: Int) =
        (round(avg(element_at(col("embedding"), i + 1).cast("double")), 4) +
          lit(0.0)).as(s"c$i")
      val pairs = emb(s, d).crossJoin(broadcast(seeds))
        .select(col("vec_id"), col("sid"), dist.as("dist"))
      // fused single-pass argmin (ArgMinAgg, the r13 q121 fix applied
      // here too): one ObjectHashAggregate, candidate crossJoin
      // evaluated once — the old min-dist + join-back + min-sid pair
      // computed the n·k distance set twice
      val assigned = pairs.groupBy("vec_id")
        .agg(Aggregators.argMin(col("dist"), col("sid").cast("long"))
          .as("cluster"))
      assigned.join(emb(s, d), "vec_id")
        .groupBy("cluster")
        .agg(count(lit(1)).cast("long").as("n"), (0 until 4).map(cd): _*)
        .orderBy("cluster")
    },

    // Int8 embedding quantization (the vector-storage compression step):
    // per-vector min/max affine scale, quantize to 0..255, report the
    // quantized sum and max reconstruction error. Every step is an
    // exactly-rounded IEEE double op (sub, div, round, mul, add, abs) so
    // both engines produce identical values. All per-row, shuffle-free;
    // the min/max/scale scalars and the quantized array are bindOnce-bound
    // (each is referenced inside per-element lambdas).
    Q(
      "q104_quantize_int8",
      """WITH base AS (
        |  SELECT vec_id,
        |    CAST(list_min(embedding) AS DOUBLE) AS mn,
        |    CAST(list_max(embedding) AS DOUBLE) AS mx,
        |    embedding
        |  FROM embeddings),
        |scaled AS (
        |  SELECT vec_id, mn, mx, (mx - mn) / 255 AS sc, embedding FROM base),
        |quant AS (
        |  SELECT vec_id, mn, mx, sc,
        |    list_transform(embedding,
        |      x -> CAST(round((CAST(x AS DOUBLE) - mn) / sc) AS BIGINT)) AS qs,
        |    embedding
        |  FROM scaled WHERE sc > 0)
        |SELECT vec_id,
        |  CAST(list_sum(qs) AS BIGINT) AS q_sum,
        |  round(list_max(list_transform(range(1, len(qs) + 1),
        |    i -> abs(mn + qs[i] * sc - CAST(embedding[i] AS DOUBLE)))), 6) + 0
        |    AS max_err
        |FROM quant ORDER BY vec_id""".stripMargin
    ) { (s, d) =>
      // Native fused kernel (plans/QuantizeStats): the composed
      // TextOps.quantizeInt8 + aggregate/zip_with form walks five
      // interpreted lambdas per row AND re-evaluates once per referenced
      // output field (bindOnce's barrier is opaque to
      // SimplifyExtractValueOps, so CollapseProject duplicates the whole
      // pipeline into the filter and each projected field — measured 3x
      // = 35 s at the 100x replica vs 12 s single-eval). The kernel is
      // one primitive loop returning [sc, q_sum, max_err] scalars, so
      // the triple reference costs three cheap loops instead. The
      // general quantizeInt8 op (mn/sc/qs array) remains the library
      // surface; the oracle SQL is unchanged (same math, same rounding).
      val st = call_function("quantize_stats", col("embedding"))
      emb(s, d).select(col("vec_id"), st.as("st"))
        .filter(col("st").getItem(0) > 0)
        .select(col("vec_id"),
          col("st").getItem(1).cast("long").as("q_sum"),
          (round(col("st").getItem(2), 6) + lit(0.0)).as("max_err"))
        .orderBy("vec_id")
    },

    // Per-class embedding centroids, one row per (label, dimension):
    // posexplode -> partial+final avg — the distributed centroid shape
    // (k-means assignment/update, class prototypes). Never collects a
    // vector; shuffle carries (label, dim) partial sums only.
    Q(
      "q99_centroids",
      """WITH dims AS (
        |  SELECT label, i.i AS dim, CAST(embedding[i.i + 1] AS DOUBLE) AS v
        |  FROM embeddings, range(0, 64) i(i))
        |SELECT label, CAST(dim AS BIGINT) AS dim,
        |  CAST(count(*) AS BIGINT) AS n,
        |  round(avg(v), 4) + 0 AS centroid
        |FROM dims GROUP BY label, dim ORDER BY label, dim""".stripMargin
    ) { (s, d) =>
      emb(s, d)
        .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "v")))
        .groupBy("label", "dim")
        .agg(count(lit(1)).as("n"), avg(col("v").cast("double")).as("c"))
        .select(col("label"), col("dim").cast("long").as("dim"),
          col("n").cast("long").as("n"),
          (round(col("c"), 4) + lit(0.0)).as("centroid"))
        .orderBy("label", "dim")
    },

    // Benchmark-contamination scan: fraction of each document's distinct
    // 3-shingles that appear in a fixed probe set (here: the shingles of
    // docs 0-4 standing in for an eval benchmark). The probe set is
    // BOUNDED BY THE BENCHMARK, not the corpus — broadcasting it is the
    // 100 TB shape (the corpus side streams through a semi-join against
    // the broadcast hash set; no shuffle of the corpus shingles).
    Q(
      "q109_contamination",
      s"""WITH sh AS (
        |  SELECT DISTINCT doc_id, unnest(list_transform(
        |    ${OracleSql.shingles("ws")},
        |    sg -> ${OracleSql.md5Int("sg")})) AS s
        |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents) t
        |  WHERE len(ws) >= 3),
        |probes AS (SELECT DISTINCT s FROM sh WHERE doc_id < 5),
        |tot AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
        |hit AS (SELECT doc_id, count(*) AS n_hit FROM sh
        |        WHERE s IN (SELECT s FROM probes) GROUP BY doc_id)
        |SELECT t.doc_id, CAST(t.n_sh AS BIGINT) AS n_sh,
        |  CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit,
        |  round(CAST(coalesce(h.n_hit, 0) AS DOUBLE) / t.n_sh, 4) AS score
        |FROM tot t LEFT JOIN hit h ON t.doc_id = h.doc_id
        |ORDER BY t.doc_id""".stripMargin
    ) { (s, d) =>
      import graft.functions.TextOps
      // shingles hash to long BEFORE the distinct shuffle and the probe
      // broadcast (same lesson as q54: fixed-width keys when downstream
      // only needs equality — the distinct exchange carries 8-byte keys
      // instead of ~25-byte strings, and the oracle hashes identically)
      val sh = docs(s, d)
        .select(col("doc_id"),
          explode(transform(
            TextOps.shingles(TextOps.tokens(col("text")), 3),
            sg => call_function("md5_prefix64", sg))).as("s"))
        .distinct()
      // 5 probe docs = a fixed benchmark suite: constant-size regardless
      // of SF, so broadcast is safe (contrast the no-broadcast rule for
      // SF-scaled computed tables)
      val probes = broadcast(
        sh.filter(col("doc_id") < 5).select("s").distinct()
          .withColumn("__p", lit(1L)))
      // ONE aggregation computes both totals and hits: a broadcast LEFT
      // join marks probe membership (probes are distinct on s, so
      // multiplicity is exactly 1) and n_sh/n_hit fall out of the same
      // groupBy — versus the previous tot/hit twin aggregations plus a
      // final doc_id join, this drops one exchange and one join from the
      // plan (like-for-like subset A/B: sf0.1 4.1 -> 2.9 s; ~neutral at
      // the 10x replica where the shingle distinct dominates), values
      // identical
      sh.join(probes, Seq("s"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_sh"),
          sum(coalesce(col("__p"), lit(0L))).as("n_hit"))
        .select(col("doc_id"), col("n_sh"),
          col("n_hit").cast("long").as("n_hit"),
          round(col("n_hit").cast("double") / col("n_sh"), 4).as("score"))
        .orderBy("doc_id")
    },

    // Weighted sampling without replacement, top-5 per source
    // (Efraimidis–Spirakis A-ES: maximize u^(1/w) ⇔ rank by ln(u)/w).
    // u is a DETERMINISTIC hash-uniform from doc_id (odd-multiplier LCG:
    // bijective mod 2^32, so distinct docs get distinct u = m/2^32). The
    // rank key is computed ENTIRELY in exact integer arithmetic — no ln():
    // ln(u) ∝ log2(m) - 32, and log2(m) is approximated by the monotone
    // fixed-point piecewise-linear form e + (m - 2^e)/2^e with
    // e = floor(log2 m) = length(bin(m)) - 1, scaled by 2^30. An earlier
    // ln()-based key quantized to 1e-9 was still one last-ulp libm
    // divergence away from flipping at a .5 rounding boundary; every step
    // here (bin-length, shifts, multiply, truncating division on positive
    // operands — Spark `div`, DuckDB `//`) is exact BIGINT in both
    // engines, so the gate cannot flake. Ties (possible for m > 2^30 where the fixed-point
    // step underflows) break on doc_id identically in both engines.
    // The per-source top-5 is a WindowGroupLimit (rank pushdown — bounded
    // per-partition heaps, no full sort), same scale shape as q95's top-3.
    Q(
      "q110_weighted_sample",
      """WITH w AS (
        |  SELECT doc_id, source, n_chars,
        |    ((doc_id % 2147483648) * 2654435761 + 12345) % 4294967296 + 1
        |      AS m
        |  FROM documents),
        |k AS (
        |  SELECT doc_id, source, n_chars, m,
        |    (CAST(1 AS BIGINT) << (length(bin(m)) - 1)) AS p
        |  FROM w),
        |k2 AS (
        |  SELECT doc_id, source, n_chars,
        |    (34359738368 - ((length(bin(m)) - 1) * 1073741824
        |       + ((m - p) * 1073741824) // p)) * 65536 AS negk
        |  FROM k),
        |k3 AS (
        |  SELECT doc_id, source, -(negk // n_chars) AS keyq
        |  FROM k2),
        |r AS (
        |  SELECT doc_id, source, keyq,
        |    row_number() OVER (PARTITION BY source
        |                       ORDER BY keyq DESC, doc_id) AS rk
        |  FROM k3)
        |SELECT source, doc_id, keyq
        |FROM r WHERE rk <= 5 ORDER BY source, doc_id""".stripMargin
    ) { (s, d) =>
      val keyed = docs(s, d)
        .select(col("doc_id"), col("source"), col("n_chars"))
        .withColumn("__m",
          ((col("doc_id") % 2147483648L) * 2654435761L + 12345L)
            % 4294967296L + 1L)
        // e = floor(log2 m) via binary-string length: exact in both engines
        .withColumn("__p",
          expr("shiftleft(CAST(1 AS BIGINT), length(bin(__m)) - 1)"))
        // every op here is BIGINT: `div` (truncating, positive operands =>
        // floor) mirrors DuckDB's `//`
        .withColumn("__negk", expr(
          "(34359738368L - (CAST(length(bin(__m)) - 1 AS BIGINT)" +
            " * 1073741824L + ((__m - __p) * 1073741824L) div __p))" +
            " * 65536L"))
        .select(col("doc_id"), col("source"),
          expr("-(__negk div n_chars)").as("keyq"))
      Scale.topK(keyed, Seq("source"), Seq(col("keyq").desc, col("doc_id")), 5)
        .select(col("source"), col("doc_id"), col("keyq"))
        .orderBy("source", "doc_id")
    },

    // Duplicated-n-gram fraction (the RefinedWeb/MassiveText "fraction of
    // duplicated 5-grams" quality filter): per document, the share of its
    // DISTINCT 5-gram hashes that occur in >= 2 documents corpus-wide.
    // Distinct from q97 (intra-doc repetition) and q50 (whole-doc dedup):
    // this is the cross-doc span-level signal used to drop boilerplate-
    // heavy pages. Scale shape: one scan -> codegen'd shingle+hash
    // pipeline (i64 grams BEFORE any exchange, the q54/q109 lesson) ->
    // per-doc distinct -> df hash-agg (map-side combined) -> gram-keyed
    // join back (5-gram df is near-flat — no unigram-style Zipf head —
    // AQE absorbs the residue) -> per-doc partial+final agg. Everything
    // linear; no driver state.
    Q(
      "q115_dup_ngram_fraction",
      s"""WITH sh AS (
        |  SELECT DISTINCT doc_id, unnest(list_transform(
        |    ${OracleSql.shingles("ws", 5)},
        |    sg -> ${OracleSql.md5Int("sg")})) AS g
        |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents) t
        |  WHERE len(ws) >= 5),
        |df AS (SELECT g, count(*) AS df FROM sh GROUP BY g)
        |SELECT s.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
        |  CAST(count(*) FILTER (f.df >= 2) AS BIGINT) AS n_dup,
        |  round(CAST(count(*) FILTER (f.df >= 2) AS DOUBLE) / count(*), 4)
        |    AS dup_frac
        |FROM sh s JOIN df f ON s.g = f.g
        |GROUP BY s.doc_id ORDER BY s.doc_id""".stripMargin
    ) { (s, d) =>
      val grams = docs(s, d).select(col("doc_id"),
        explode(transform(
          TextOps.shingles(TextOps.tokens(col("text")), 5),
          sg => call_function("md5_prefix64", sg))).as("g"))
        .distinct()
      val df = grams.groupBy("g").agg(count(lit(1)).as("df"))
      grams.join(df, Seq("g"))
        .groupBy("doc_id")
        .agg(count(lit(1)).cast("long").as("n_grams"),
          sum(when(col("df") >= 2, 1L).otherwise(0L)).as("n_dup"))
        .select(col("doc_id"), col("n_grams"), col("n_dup"),
          round(col("n_dup").cast("double") / col("n_grams"), 4)
            .as("dup_frac"))
        .orderBy("doc_id")
    },

    // Token-budget corpus selection (the data-mixing step: keep the
    // best-quality docs until a global token budget is met — here 40% of
    // corpus tokens, quality = distinct-word ratio). The 100 TB shape is
    // the HISTOGRAM-THRESHOLD pattern, not a global sort: quality is
    // quantized to 1000 buckets, the budget cutoff is found on the
    // <=1001-row (bucket, tokens) histogram (the only globally-ordered
    // window runs over that bounded histogram, never over docs), whole
    // buckets above the cutoff are kept by a hash join, and only the ONE
    // boundary bucket is filled doc-by-doc (deterministic doc_id order) —
    // a window over ~1/1000 of the corpus. All arithmetic is integer or
    // exactly-rounded IEEE (sum*0.4, floor), so both engines select the
    // same set.
    Q(
      "q117_budget_select",
      """WITH d AS (
        |  SELECT doc_id, len(string_split(text, ' ')) AS toks,
        |    CAST(floor(len(list_distinct(string_split(text, ' '))) * 1000.0
        |         / len(string_split(text, ' '))) AS BIGINT) AS qb
        |  FROM documents),
        |tot AS (SELECT CAST(floor(sum(toks) * 0.4) AS BIGINT) AS budget FROM d),
        |hist AS (SELECT qb, sum(toks) AS btoks FROM d GROUP BY qb),
        |cum AS (
        |  SELECT qb, btoks, sum(btoks) OVER (ORDER BY qb DESC) AS cum_toks
        |  FROM hist),
        |full_b AS (SELECT qb FROM cum, tot WHERE cum_toks <= budget),
        |bound AS (SELECT qb, cum_toks - btoks AS used FROM cum, tot
        |          WHERE cum_toks > budget AND cum_toks - btoks <= budget),
        |bfill AS (
        |  SELECT d.doc_id, d.toks, d.qb,
        |    sum(d.toks) OVER (ORDER BY d.doc_id) + b.used AS r
        |  FROM d JOIN bound b USING (qb)),
        |sel AS (
        |  SELECT doc_id, toks, qb FROM d WHERE qb IN (SELECT qb FROM full_b)
        |  UNION ALL
        |  SELECT doc_id, toks, qb FROM bfill, tot WHERE r <= budget)
        |SELECT doc_id, CAST(toks AS BIGINT) AS toks, qb
        |FROM sel ORDER BY doc_id""".stripMargin
    ) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      // eager localCheckpoint: four consumers (total, histogram, kept
      // buckets, boundary fill) otherwise each re-run the tokenize-heavy
      // scan — the dominant cost — once apiece; the checkpointed frame is
      // three narrow columns
      val base = docs(s, d).select(col("doc_id"),
        TextOps.bindWords { ws =>
          struct(size(ws).cast("long").as("toks"),
            floor(size(array_distinct(ws)) * lit(1000.0) / size(ws))
              .cast("long").as("qb"))
        }.as("m"))
        .select(col("doc_id"), col("m.toks").as("toks"), col("m.qb").as("qb"))
        .localCheckpoint(true)
      val tot = base.agg(
        floor(sum(col("toks")).cast("double") * lit(0.4)).cast("long")
          .as("budget"))
      val hist = base.groupBy("qb").agg(sum(col("toks")).as("btoks"))
      // global window over the <=1001-row histogram only (bounded by the
      // quantization, not the corpus)
      val cum = hist.withColumn("cum_toks",
        sum(col("btoks")).over(Window.orderBy(col("qb").desc)))
        .crossJoin(broadcast(tot))
      val fullB = cum.filter(col("cum_toks") <= col("budget")).select("qb")
      val bound = cum
        .filter(col("cum_toks") > col("budget") &&
          col("cum_toks") - col("btoks") <= col("budget"))
        .select(col("qb"), (col("cum_toks") - col("btoks")).as("used"),
          col("budget"))
      val kept = base.join(fullB, Seq("qb"), "left_semi")
      // boundary bucket: ~corpus/1000 docs; the only per-doc ordered fill
      val bfill = base.join(broadcast(bound), Seq("qb"))
        .withColumn("r",
          sum(col("toks")).over(Window.orderBy(col("doc_id"))) + col("used"))
        .filter(col("r") <= col("budget"))
      kept.select("doc_id", "toks", "qb")
        .unionByName(bfill.select("doc_id", "toks", "qb"))
        .orderBy("doc_id")
    },

    // Full k-means LOOP (2 Lloyd iterations; q100 is the single assignment
    // step) made cross-engine DETERMINISTIC by integer quantization:
    // embeddings quantize to round(x * 1e4) BIGINT once, so per-dimension
    // centroid sums are EXACT integers — order-free under any shuffle /
    // partial-agg order — and every derived double (centroid value,
    // dot-identity distance) is the same exactly-rounded IEEE expression
    // in both engines. A naive double `avg` between rounds would differ
    // in the last ulps per engine/partitioning and flip assignments.
    // Scale shape per round: broadcast 8-row centroid table, per-row
    // codegen'd dot_product distances, q100's two-hash-agg argmin (no
    // SortAggregate), posexplode -> (sid, dim) integer partial+final agg,
    // 64-element bounded collect per centroid; centroid tables take an
    // eager localCheckpoint so round N+1's plan does not re-run round N.
    Q(
      "q118_kmeans_iterate",
      s"""WITH ei AS (
        |  SELECT vec_id,
        |    ${OracleSql.scaledInts} AS v
        |  FROM embeddings),
        |c0 AS (SELECT vec_id AS sid, v AS cnum, CAST(1 AS BIGINT) AS cden
        |       FROM ei WHERE vec_id < 8),
        |${(1 to 2).map(LloydOracle.round).mkString(",\n")}
        |SELECT sid AS cluster, CAST(cden AS BIGINT) AS n,
        |  round(CAST(cnum[1] AS DOUBLE) / cden / 10000.0, 4) + 0 AS c0,
        |  round(CAST(cnum[2] AS DOUBLE) / cden / 10000.0, 4) + 0 AS c1,
        |  round(CAST(cnum[3] AS DOUBLE) / cden / 10000.0, 4) + 0 AS c2,
        |  round(CAST(cnum[4] AS DOUBLE) / cden / 10000.0, 4) + 0 AS c3
        |FROM c2 ORDER BY cluster""".stripMargin
    ) { (s, d) =>
      import org.apache.spark.sql.DataFrame
      val tenK = lit(10000.0)
      def vd(c: org.apache.spark.sql.Column) =
        transform(c, x => x.cast("double") / tenK)
      // |v'|² is hoisted to a per-row column and |c'|² to a per-centroid
      // column: the values are identical to the per-pair form (same
      // deterministic expressions), they just evaluate n + 8 times
      // instead of 8n (measured ~2x on the assign stages at 100x)
      val ei = emb(s, d).select(col("vec_id"),
        DedupQueries.RankKey.scaledInts.as("v"))
        .withColumn("vv",
          call_function("dot_product", vd(col("v")), vd(col("v"))))
        .localCheckpoint(true)
      def assign(cdf: DataFrame): DataFrame = {
        val cPrime = transform(col("cnum"),
          x => x.cast("double") / col("cden").cast("double") / tenK)
        val withC = cdf.withColumn("cp", cPrime)
          .withColumn("cc",
            call_function("dot_product", col("cp"), col("cp")))
        val vc = call_function("dot_product", vd(col("v")), col("cp"))
        val pairs = ei.crossJoin(broadcast(withC))
          .select(col("vec_id"), col("sid"),
            (col("vv") - lit(2.0) * vc + col("cc")).as("dist"))
        // fused single-pass argmin (ArgMinAgg): each k-means round now
        // computes its n·k distance set ONCE instead of twice
        pairs.groupBy("vec_id")
          .agg(Aggregators.argMin(col("dist"), col("sid").cast("long"))
            .as("sid"))
      }
      def rebuild(adf: DataFrame): DataFrame = {
        val dims = adf.join(ei, "vec_id")
          .select(col("sid"), posexplode(col("v")).as(Seq("dim", "x")))
          .groupBy("sid", "dim")
          .agg(sum(col("x")).as("s"), count(lit(1)).as("n"))
        dims.groupBy("sid")
          .agg(sort_array(collect_list(struct(col("dim"), col("s"))))
            .as("ds"), max(col("n")).as("cden"))
          .select(col("sid"),
            transform(col("ds"), r => r.getField("s")).as("cnum"),
            col("cden"))
          .localCheckpoint(true)
      }
      val c0Df = ei.filter(col("vec_id") < 8)
        .select(col("vec_id").as("sid"), col("v").as("cnum"),
          lit(1L).as("cden"))
      val c1Df = rebuild(assign(c0Df))
      val c2Df = rebuild(assign(c1Df))
      def cd(i: Int) = (round(col("cnum").getItem(i).cast("double") /
        col("cden").cast("double") / tenK, 4) + lit(0.0)).as(s"c$i")
      c2Df.select(Seq(col("sid").as("cluster"),
          col("cden").cast("long").as("n")) ++ (0 until 4).map(cd): _*)
        .orderBy("cluster")
    },

    // BM25 ranked retrieval for a probe-term set (the retrieval-scoring
    // twin of q98's postings / q95's TF-IDF): per-(term, doc) BM25 with
    // k1 = 1.2, b = 0.75, top-10 docs per term. The idf uses the RATIONAL
    // odds (N - df + 0.5)/(df + 0.5) — the classic formula without its
    // outer ln — because ln is the one op libm implementations disagree on
    // at the last ulp (q110's lesson); every op here (+,-,*,/ on doubles)
    // is IEEE exactly-rounded, so scores and therefore RANKS are
    // bit-identical cross-engine, and the per-term monotone idf ordering
    // is unchanged by dropping the monotone ln. Scale: the isin filter
    // prunes the exploded token stream map-side before any shuffle; df
    // (5 rows) and corpus stats (1 row) broadcast; the top-10 is a
    // WindowGroupLimit (bounded per-partition heaps), never a full sort.
    Q(
      "q123_bm25",
      """WITH dl AS (SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS dl FROM documents),
        |stats AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(dl) AS BIGINT) AS tot FROM dl),
        |tf AS (SELECT doc_id, w AS term, CAST(count(*) AS BIGINT) AS tf FROM
        |   (SELECT doc_id, unnest(string_split(text, ' ')) AS w
        |    FROM documents) u
        |   WHERE w IN ('data','join','the','stream','query')
        |   GROUP BY doc_id, w),
        |df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf
        |   GROUP BY term),
        |scored AS (SELECT t.term, t.doc_id,
        |   (CAST(s.n AS DOUBLE) - CAST(f.df AS DOUBLE) + 0.5) /
        |     (CAST(f.df AS DOUBLE) + 0.5) *
        |   (CAST(t.tf AS DOUBLE) * 2.2) /
        |   (CAST(t.tf AS DOUBLE) + 1.2 * (0.25 + 0.75 *
        |     CAST(d.dl AS DOUBLE) /
        |     (CAST(s.tot AS DOUBLE) / CAST(s.n AS DOUBLE)))) AS score
        |   FROM tf t JOIN df f USING (term) JOIN dl d USING (doc_id)
        |   CROSS JOIN stats s)
        |SELECT term, doc_id, round(score, 4) + 0 AS score FROM (
        |  SELECT term, doc_id, score,
        |    row_number() OVER (PARTITION BY term ORDER BY score DESC, doc_id)
        |      AS rn
        |  FROM scored) r
        |WHERE rn <= 10 ORDER BY term, doc_id""".stripMargin
    ) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val dl = docs(s, d).select(col("doc_id"),
        size(TextOps.tokens(col("text"))).cast("long").as("dl"))
      val stats = dl.agg(count(lit(1)).as("n"), sum("dl").as("tot"))
      val tf = docWords(s, d)
        .filter(col("w").isin("data", "join", "the", "stream", "query"))
        .groupBy(col("doc_id"), col("w"))
        .agg(count(lit(1)).as("tf"))
        .withColumnRenamed("w", "term")
      val dfT = tf.groupBy("term").agg(count(lit(1)).as("df"))
      val nD = col("n").cast("double")
      val dfD = col("df").cast("double")
      val tfD = col("tf").cast("double")
      val dlD = col("dl").cast("double")
      val score = (nD - dfD + 0.5) / (dfD + 0.5) *
        (tfD * 2.2) /
        (tfD + lit(1.2) * (lit(0.25) + lit(0.75) * dlD /
          (col("tot").cast("double") / nD)))
      val scored = tf.join(broadcast(dfT), "term")
        .join(dl, "doc_id")
        .crossJoin(broadcast(stats))
        .select(col("term"), col("doc_id"), score.as("score"))
      Scale.topK(scored, Seq("term"), Seq(col("score").desc, col("doc_id")),
          10)
        .select(col("term"), col("doc_id"),
          (round(col("score"), 4) + lit(0.0)).as("score"))
        .orderBy("term", "doc_id")
    },

    // Temperature-based data mixing (the multinomial source-reweighting
    // step of pretraining mixes, α = 0.5): per-language targets
    // ∝ sqrt(count), half the corpus as total budget. EVERYTHING integer:
    // weights are floor(sqrt(n)) — sqrt is IEEE exactly-rounded, so both
    // engines floor the identical double; summing the WEIGHTS as BIGINTs
    // avoids the cross-engine double-sum-order trap that a direct
    // Σ sqrt(n) would hit — and targets are exact integer (budget·w) div z.
    // Selection is RANK-FREE: pick docs whose uniform hash clears a
    // per-language integer threshold (hash·n < target·M) — a pure map
    // stage, binomially close to the target, no per-stratum sort (a
    // windowed exact top-k would funnel each language through one
    // reducer; q110 is that shape when exactness is required). Output
    // pins the picked SET via an order-free integer sum of doc_ids.
    // Integer ranges: hash < 1e9, so hash·n and target·M stay under 2^63
    // up to ~10^9 docs per language.
    Q(
      "q124_temperature_mix",
      s"""WITH c AS (SELECT lang, CAST(count(*) AS BIGINT) AS n
        |  FROM documents GROUP BY lang),
        |${OracleSql.sqrtTargets("w")}
        |SELECT d.lang, max(t.n) AS n, max(t.target) AS target,
        |  CAST(count(*) AS BIGINT) AS picked,
        |  CAST(sum(d.doc_id) AS BIGINT) AS sum_ids
        |FROM documents d JOIN tgt t ON d.lang = t.lang
        |WHERE ${OracleSql.mix("d.doc_id")} * t.n <
        |  t.target * 1000000007
        |GROUP BY d.lang ORDER BY d.lang""".stripMargin
    ) { (s, d) =>
      sqrtPick(docs(s, d), Seq("lang"), max(col("n")).as("n"),
        max(col("target")).as("target"))
    },

    // The FULL curation pipeline as one Catalyst plan — quality filter
    // (q122's Gopher rules) → exact dedup (q50's canonical-min-doc per
    // md5 group) → temperature mixing (q124's integer targets + rank-free
    // hash-threshold pick), emitting the final per-(lang, source) corpus
    // manifest. The point is COMPOSABILITY: each stage is a proven-exact
    // operator, so the chained plan is proven-exact too, and Catalyst
    // fuses the whole thing — the filter runs map-side against the scan,
    // dedup shuffles only (digest, id), the mix stage broadcasts a
    // per-language target row and picks in one map pass. Stage order
    // matters (targets are computed on the SURVIVING corpus) — this is
    // the shape a real pipeline run has, not three separate jobs.
    Q(
      "q125_curation_pipeline",
      s"""WITH w AS (SELECT doc_id, lang, source, text,
        |  string_split(text, ' ') AS ws FROM documents),
        |s AS (SELECT doc_id, lang, source, text,
        |  ${OracleSql.gopherStats} FROM w),
        |kept AS (SELECT doc_id, lang, source, text FROM s
        |  WHERE n_words BETWEEN 20 AND 50000 AND mwl >= 4.25 AND mwl <= 4.75
        |    AND sr >= 0.04 AND ttr >= 0.35),
        |ded AS (SELECT min(doc_id) AS doc_id FROM kept GROUP BY md5(text)),
        |corpus AS (SELECT k.doc_id, k.lang, k.source
        |  FROM kept k JOIN ded USING (doc_id)),
        |c AS (SELECT lang, CAST(count(*) AS BIGINT) AS n
        |  FROM corpus GROUP BY lang),
        |${OracleSql.sqrtTargets("wgt")}
        |SELECT d.lang, d.source, CAST(count(*) AS BIGINT) AS picked,
        |  CAST(sum(d.doc_id) AS BIGINT) AS sum_ids
        |FROM corpus d JOIN tgt t ON d.lang = t.lang
        |WHERE ${OracleSql.mix("d.doc_id")} * t.n <
        |  t.target * 1000000007
        |GROUP BY d.lang, d.source ORDER BY d.lang, d.source""".stripMargin
    ) { (s, d) =>
      val stats = docs(s, d).select(Seq(col("doc_id"), col("lang"),
        col("source"), col("text")) ++ TextOps.gopherStats(col("text")): _*)
      // ONE scan + ONE Gopher-kernel pass: everything downstream
      // (dedup group, dedup probe, per-lang counts feeding tgt twice,
      // final pick) needs only (doc_id, lang, source, digest) — project
      // text down to its md5 BEFORE the eager checkpoint barrier, so
      // the five re-reads of this subtree scan ~40 B/row checkpoint
      // blocks instead of re-running string kernels over the parquet
      // (the r11 verdict's 6-scan plan, 2.2x the committed baseline).
      val kept = stats.filter(TextOps.gopherRules.reduce(_ && _))
        .select(col("doc_id"), col("lang"), col("source"),
          md5(col("text")).as("digest"))
        .localCheckpoint(true)
      val ded = kept.groupBy(col("digest"))
        .agg(min(col("doc_id")).as("doc_id"))
        .select("doc_id")
      val corpus = kept.join(ded, "doc_id")
        .select(col("doc_id"), col("lang"), col("source"))
      sqrtPick(corpus, Seq("lang", "source"))
    },

    // DSIR-style importance weighting (Xie et al. 2023, "Data Selection
    // via Importance Resampling"): hashed n-gram features (unigrams +
    // bigrams into 1024 buckets), per-bucket target/raw frequency ratios
    // (target = the English subset), per-doc importance weight = mean
    // bucket ratio over the doc's features, then a rank-free
    // hash-threshold resample with P(keep) ~ weight/2. All arithmetic is
    // integer (Q20 fixed-point ratios, add-one smoothing, BIGINT sums) so
    // both engines select the identical set — the log-sum form of the
    // paper is libm-dependent cross-engine; the mean-ratio form is the
    // same signal exactly computable. Weight is capped at 4.0 (Q20
    // 4194304) so hash·M products stay far under 2^63 at any corpus size.
    // Scale shape: feature stream -> 1024-row bucket histogram (map-side
    // combined, fixed cardinality) -> ratio table BROADCAST back (1024
    // rows — genuinely fixed-size, the one join where broadcast is right
    // by construction) -> per-doc partial+final sum. The feature stream is
    // regenerated rather than checkpointed — a stateless codegen map over
    // the scan is cheaper at 100 TB than materializing the exploded
    // stream. NOTE: the synthetic corpus draws every language from one
    // shared vocabulary, so measured weights sit near the global prior
    // (~0.57-0.62); the gate checks the machinery, not separation.
    Q(
      "q127_dsir_weights",
      s"""WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS ws
        |           FROM documents),
        |feat AS (
        |  SELECT doc_id, lang,
        |    ${OracleSql.md5Int("f")} % 1024 AS b
        |  FROM t, unnest(list_concat(ws,
        |    list_transform(range(1, len(ws)),
        |      i -> ws[i] || ' ' || ws[i+1]))) AS u(f)),
        |bc AS (SELECT b,
        |    sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS ct,
        |    sum(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END) AS cr
        |  FROM feat GROUP BY b),
        |r AS (SELECT b, (ct + 1) * 1048576 // (cr + 1) AS rb FROM bc),
        |sc AS (SELECT f.doc_id, CAST(count(*) AS BIGINT) AS nfeat,
        |    CAST(sum(r.rb) AS BIGINT) AS score
        |  FROM feat f JOIN r USING (b) GROUP BY f.doc_id)
        |SELECT doc_id, nfeat, score,
        |  CAST(least(score // nfeat, 4194304) AS BIGINT) AS w_q20,
        |  CAST(CASE WHEN ${OracleSql.mix("doc_id")} * 2097152
        |            < least(score // nfeat, 4194304) * 1000000007
        |       THEN 1 ELSE 0 END AS BIGINT) AS kept
        |FROM sc ORDER BY doc_id""".stripMargin
    ) { (s, d) =>
      val feat = docs(s, d).select(col("doc_id"), col("lang"),
        explode(TextOps.bindWords { ws =>
          concat(ws, TextOps.shingles(ws, 2))
        }).as("f"))
        .select(col("doc_id"), col("lang"),
          (call_function("md5_prefix64", col("f")) % 1024).as("b"))
      val bc = feat.groupBy("b").agg(
        sum(when(col("lang") === "en", 1L).otherwise(0L)).as("ct"),
        sum(when(col("lang") =!= "en", 1L).otherwise(0L)).as("cr"))
      val r = bc.select(col("b"),
        expr("(ct + 1) * 1048576 div (cr + 1)").as("rb"))
      feat.join(broadcast(r), "b")
        .groupBy("doc_id")
        .agg(count(lit(1)).cast("long").as("nfeat"),
          sum(col("rb")).cast("long").as("score"))
        .select(col("doc_id"), col("nfeat"), col("score"),
          least(expr("score div nfeat"), lit(4194304L)).cast("long")
            .as("w_q20"),
          expr("""CAST(CASE WHEN (doc_id % 1000000007) * 2654435761
                 |          % 1000000007
                 |          * 2097152 < least(score div nfeat, 4194304)
                 |          * 1000000007
                 |     THEN 1 ELSE 0 END AS BIGINT)""".stripMargin)
            .as("kept"))
        .orderBy("doc_id")
    },

    // Spectral outlier scoring: two rounds of power iteration over the
    // (uncentered) Gram matrix AᵀA recover the corpus's dominant
    // embedding direction, and each vector's projection onto it ranks
    // "spectral outliers" — the embedding-space analogue of the quality
    // signals (a cluster of near-identical or adversarial vectors shows
    // up as extreme |projection|). Made cross-engine EXACT by the q118
    // discipline: embeddings quantize to round(x·1e4) BIGINT once; every
    // per-row dot d_i = Σ v_ij·u_j stays < 2^53 so the codegen'd
    // dot_product double sum is integer-exact; the dim-wise re-expansion
    // w_j = Σ_i v_ij·d_i aggregates as BIGINT (order-free under any
    // partial-agg order). The only doubles are the two normalizations
    // w/max|w| — identical long→double casts and one IEEE division in
    // both engines — immediately re-quantized to integers.
    //
    // Scale shape per round: d is a map-only stage (broadcast 1-row
    // direction), w is ONE posexplode→partial+final agg shuffle of 64
    // narrow (dim, x·d) integers per vector, the direction rebuild is a
    // 64-row bounded gather, each round localCheckpoints its 1-row
    // direction so round N+1 never re-runs round N. Overflow at scale is
    // handled like the adaptive LSH widths: d_i shifts right by
    // k = max(0, bitlen(n) − 16) (floor shift `>>` in BOTH engines,
    // derived in-plan from count(*)), keeping |Σ_i v_ij·d_i| < 2^63 at
    // any corpus size while k = 0 at every gate SF — gate outputs are
    // byte-identical to the unshifted form. Output: top-20 |projection|
    // vectors with their exact integer projections (scale 1e8).
    Q(
      "q130_power_iteration", {
      // round r's direction u<r>: the d<r-1>-weighted dim sums w<r>,
      // scaled by their max |w| (m<r>) to 1e4 integers
      def direction(r: Int) =
        s"""w$r AS (
           |  SELECT u.i AS dim, sum(d${r - 1}.v[u.i] * d${r - 1}.ds) AS w
           |  FROM d${r - 1}, range(1, 65) u(i) GROUP BY u.i),
           |m$r AS (SELECT GREATEST(max(abs(w)), 1) AS m FROM w$r),
           |u$r AS (SELECT list(CAST(round(CAST(w AS DOUBLE) / CAST(m AS DOUBLE)
           |                    * 10000) AS BIGINT) ORDER BY dim) AS u
           |       FROM w$r, m$r GROUP BY m)""".stripMargin
      s"""WITH kk AS (SELECT GREATEST(0, length(bin(count(*))) - 16) AS k
        |           FROM embeddings),
        |ei AS (
        |  SELECT vec_id,
        |    ${OracleSql.scaledInts} AS v
        |  FROM embeddings),
        |d0 AS (SELECT vec_id, v, CAST(list_sum(v) AS BIGINT) >> kk.k AS ds
        |       FROM ei, kk),
        |${direction(1)},
        |d1 AS (
        |  SELECT vec_id, v,
        |    CAST(list_sum(list_transform(range(1, 65),
        |      i -> v[i] * u1.u[i])) AS BIGINT) >> kk.k AS ds
        |  FROM ei, u1, kk),
        |${direction(2)},
        |proj AS (
        |  SELECT vec_id,
        |    CAST(list_sum(list_transform(range(1, 65),
        |      i -> v[i] * u2.u[i])) AS BIGINT) AS p
        |  FROM ei, u2)
        |SELECT CAST(vec_id AS BIGINT) AS vec_id, p AS proj
        |FROM proj ORDER BY abs(p) DESC, vec_id LIMIT 20""".stripMargin
    }
    ) { (s, d) =>
      import org.apache.spark.sql.DataFrame
      val kDf = emb(s, d).agg(
        greatest(length(bin(count(lit(1)))) - 16, lit(0)).cast("int")
          .as("k"))
      val ei = emb(s, d).select(col("vec_id"),
          DedupQueries.RankKey.scaledInts.as("v"))
        .localCheckpoint(true)
      val vDbl = transform(col("v"), _.cast("double"))
      // one power-iteration round: 1-row direction table -> next 1-row
      // direction table (map-only dot + one 64-wide integer agg shuffle)
      def iterate(uRow: DataFrame): DataFrame = {
        val uDbl = transform(col("u"), _.cast("double"))
        val w = ei.crossJoin(broadcast(uRow)).crossJoin(broadcast(kDf))
          .withColumn("d",
            call_function("dot_product", vDbl, uDbl).cast("long"))
          .withColumn("ds", expr("shiftright(d, k)"))
          .select(posexplode(col("v")).as(Seq("dim", "x")), col("ds"))
          .groupBy("dim").agg(sum(col("x") * col("ds")).as("w"))
        w.crossJoin(broadcast(
            w.agg(greatest(max(abs(col("w"))), lit(1L)).as("m"))))
          .select(col("dim"),
            round(col("w").cast("double") / col("m").cast("double")
              * 10000).cast("long").as("u"))
          .groupBy().agg(transform(
            sort_array(collect_list(struct(col("dim"), col("u")))),
            r => r.getField("u")).as("u"))
          .localCheckpoint(true)
      }
      val u0 = ei.limit(1).select(
        transform(col("v"), _ => lit(1L)).as("u"))
      val u2 = iterate(iterate(u0))
      ei.crossJoin(broadcast(u2))
        .select(col("vec_id").cast("long").as("vec_id"),
          call_function("dot_product", vDbl,
            transform(col("u"), _.cast("double"))).cast("long").as("proj"))
        .orderBy(abs(col("proj")).desc, col("vec_id"))
        .limit(20)
    },

    // Deterministic corpus shuffle-to-shards with per-shard manifest —
    // the "training order" op: every epoch of LLM training reads the
    // corpus in a seeded pseudorandom order, materialized as S shards.
    // Key = md5(seed || doc_id) gives a uniform, reproducible permutation;
    // shard = first hex nibble (a pure map stage — no global row_number,
    // which would funnel 100 TB through ONE window task). The gate output
    // is the shard MANIFEST (count, source spread, key range, doc span);
    // the write path would add .repartition(col("shard"))
    // .sortWithinPartitions("k") — same plan family as Sources.toParquet
    // partitioned. One exchange (the groupBy), everything else map-side.
    Q(
      "q145_shuffle_shard",
      """WITH keyed AS (
        |  SELECT doc_id, source,
        |         md5('seed42:' || CAST(doc_id AS VARCHAR)) AS k
        |  FROM documents
        |), sharded AS (
        |  SELECT doc_id, source, k,
        |    CAST(strpos('0123456789abcdef', substr(k, 1, 1)) - 1 AS BIGINT)
        |      % 16 AS shard
        |  FROM keyed
        |)
        |SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
        |  min(k) AS key_lo, max(k) AS key_hi,
        |  CAST(min(doc_id) AS BIGINT) AS doc_lo,
        |  CAST(max(doc_id) AS BIGINT) AS doc_hi
        |FROM sharded GROUP BY shard ORDER BY shard""".stripMargin
    ) { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          md5(concat(lit("seed42:"), col("doc_id").cast("string"))).as("k"))
        .withColumn("shard",
          expr("CAST(conv(substr(k, 1, 1), 16, 10) AS BIGINT) % 16"))
        .groupBy("shard")
        .agg(count(lit(1)).cast("long").as("n_docs"),
          countDistinct("source").cast("long").as("n_sources"),
          min("k").as("key_lo"), max("k").as("key_hi"),
          min("doc_id").cast("long").as("doc_lo"),
          max("doc_id").cast("long").as("doc_hi"))
        .orderBy("shard")
    },

    // Corpus report card: the per-(source, lang) health dashboard every
    // curation run materializes — doc/token volume, exact-duplicate rate,
    // and a lexical-diversity quality mean. One corpus scan; the digest
    // window (count over md5(text)) is the only corpus-keyed exchange and
    // its key is fixed-width; quality mean is BIGINT Q20 floor arithmetic
    // end-to-end (Σ BIGINT div n — never a cross-engine double sum).
    Q(
      "q147_corpus_report",
      """WITH per_doc AS (
        |  SELECT doc_id, source, lang, md5(text) AS dg,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
        |    CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
        |      AS n_distinct
        |  FROM documents
        |), flagged AS (
        |  SELECT *, count(*) OVER (PARTITION BY dg) AS dgn,
        |    (n_distinct * 1048576) // n_words AS q20
        |  FROM per_doc
        |)
        |SELECT source, lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_words) AS BIGINT) AS n_tokens,
        |  CAST(sum(CASE WHEN dgn > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS dup_docs,
        |  CAST(sum(q20) // count(*) AS BIGINT) AS mean_quality_q20
        |FROM flagged GROUP BY source, lang ORDER BY source, lang""".stripMargin
    ) { (s, d) =>
      distinctQ20(s, d, col("source"), col("lang"), md5(col("text")).as("dg"))
        .withColumn("dgn", count(lit(1)).over(Window.partitionBy("dg")))
        .groupBy("source", "lang")
        .agg(count(lit(1)).cast("long").as("n_docs"),
          sum("n_words").as("n_tokens"),
          sum(when(col("dgn") > 1, 1L).otherwise(0L)).cast("long")
            .as("dup_docs"),
          expr("sum(q20) div count(1)").as("mean_quality_q20"))
        .orderBy("source", "lang")
    },

    // Hybrid retrieval via reciprocal-rank fusion: a lexical ranker
    // (query-term hit count over documents) and a semantic ranker
    // (cosine to a probe embedding — doc_id and vec_id share a domain)
    // each produce a top-50 list; RRF fuses them with
    // Σ 1/(60 + rank) in Q20 integer arithmetic (1048576 div (60+rank)
    // — identical floor division in both engines, no float fusion
    // drift). Cosine rounds to 4 decimals with an id tiebreak before
    // ranking (the q55 idiom — last-ulp libm noise cannot flip a rank).
    // Scale: each ranker ends in a TakeOrderedAndProject top-50; the
    // fusion join runs on 50+50 rows — driver-free, corpus touched
    // twice (once per modality), never joined at corpus grain.
    Q(
      "q149_rrf_fusion",
      s"""WITH probe AS (
        |  SELECT embedding AS pv FROM embeddings WHERE vec_id = 0
        |), lex AS (
        |  SELECT doc_id, CAST(len(list_filter(string_split(text, ' '),
        |      w -> w IN ('join', 'shuffle', 'hash'))) AS BIGINT) AS lscore
        |  FROM documents
        |), lrank AS (
        |  SELECT doc_id,
        |    row_number() OVER (ORDER BY lscore DESC, doc_id) AS lr
        |  FROM lex QUALIFY lr <= 50
        |), sem AS (
        |  SELECT e.vec_id AS doc_id,
        |    ${OracleSql.cosine("e.embedding", "pv")} AS rcos
        |  FROM embeddings e, probe
        |), srank AS (
        |  SELECT doc_id,
        |    row_number() OVER (ORDER BY rcos DESC, doc_id) AS sr
        |  FROM sem QUALIFY sr <= 50
        |)
        |SELECT coalesce(l.doc_id, s.doc_id) AS doc_id,
        |  coalesce(1048576 // (60 + l.lr), 0)
        |    + coalesce(1048576 // (60 + s.sr), 0) AS rrf_q20,
        |  CAST(coalesce(l.lr, 0) AS BIGINT) AS lex_rank,
        |  CAST(coalesce(s.sr, 0) AS BIGINT) AS sem_rank
        |FROM lrank l FULL OUTER JOIN srank s ON l.doc_id = s.doc_id
        |ORDER BY rrf_q20 DESC, doc_id LIMIT 20""".stripMargin
    ) { (s, d) =>
      val probe = Tables.embeddings(s, d).filter(col("vec_id") === 0)
        .select(col("embedding").as("pv"))
      val lex = Tables.documents(s, d).select(col("doc_id"),
        size(filter(TextOps.tokens(col("text")),
          w => w.isin("join", "shuffle", "hash"))).cast("long").as("lscore"))
      val lrank = Scale.topK(lex, Nil,
          Seq(col("lscore").desc, col("doc_id")), 50)
        .select("doc_id", "__rk")
      val sem = Tables.embeddings(s, d).crossJoin(broadcast(probe))
        .select(col("vec_id").as("doc_id"),
          (round(TextOps.cosine(col("embedding"), col("pv")), 4) + lit(0.0))
            .as("rcos"))
      val srank = Scale.topK(sem, Nil, Seq(col("rcos").desc, col("doc_id")), 50)
        .select(col("doc_id").as("s_doc"), col("__rk"))
      // both sides carry the rank as __rk: l.__rk and s.__rk by side
      lrank.as("l").join(srank.as("s"), col("doc_id") === col("s_doc"),
          "full_outer")
        .select(coalesce(col("doc_id"), col("s_doc")).as("doc_id"),
          (coalesce(expr("1048576 div (60 + l.__rk)"), lit(0L))
            + coalesce(expr("1048576 div (60 + s.__rk)"), lit(0L)))
            .as("rrf_q20"),
          coalesce(col("l.__rk"), lit(0)).cast("long").as("lex_rank"),
          coalesce(col("s.__rk"), lit(0)).cast("long").as("sem_rank"))
        .orderBy(col("rrf_q20").desc, col("doc_id"))
        .limit(20)
    },

    // Adaptive per-source quality gate: keep the top 75% of each source
    // by lexical-diversity Q20 score — the per-DOMAIN quantile threshold
    // real curation uses (a global cutoff over-prunes clean domains and
    // under-prunes noisy ones). Exact rank arithmetic (rk·4 <= n·3), not
    // an approximate percentile: deterministic in both engines, and the
    // emitted cutoff_q20 documents the induced threshold per source.
    // Scale: ONE window over the source partitioning (blocked, never
    // global), then the grouped manifest.
    Q(
      "q150_adaptive_filter",
      s"""WITH scored AS (
        |  SELECT doc_id, source,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
        |    ${OracleSql.distinctQ20} AS q20
        |  FROM documents
        |), ranked AS (
        |  SELECT *,
        |    row_number() OVER (PARTITION BY source
        |                       ORDER BY q20 DESC, doc_id) AS rk,
        |    count(*) OVER (PARTITION BY source) AS n
        |  FROM scored
        |)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_total,
        |  CAST(sum(CASE WHEN rk * 4 <= n * 3 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_kept,
        |  CAST(sum(CASE WHEN rk * 4 <= n * 3 THEN n_words ELSE 0 END)
        |    AS BIGINT) AS kept_tokens,
        |  min(CASE WHEN rk * 4 <= n * 3 THEN q20 END) AS cutoff_q20
        |FROM ranked GROUP BY source ORDER BY source""".stripMargin
    ) { (s, d) =>
      val scored = distinctQ20(s, d, col("doc_id"), col("source"))
      val w = Window.partitionBy("source")
      scored
        .withColumn("rk",
          row_number().over(w.orderBy(col("q20").desc, col("doc_id"))))
        .withColumn("n", count(lit(1)).over(w))
        .groupBy("source")
        .agg(count(lit(1)).cast("long").as("n_total"),
          sum(when(col("rk") * 4 <= col("n") * 3, 1L).otherwise(0L))
            .cast("long").as("n_kept"),
          sum(when(col("rk") * 4 <= col("n") * 3, col("n_words"))
            .otherwise(0L)).cast("long").as("kept_tokens"),
          min(when(col("rk") * 4 <= col("n") * 3, col("q20")))
            .as("cutoff_q20"))
        .orderBy("source")
    },

    // Hard-negative mining for contrastive training: for each probe
    // vector, the top-3 most-similar vectors with a DIFFERENT label —
    // the pairs a contrastive loss learns most from. Fixed probe set
    // (vec_id < 5) → broadcast; one linear corpus scan scores and the
    // label filter is pushed into the join condition so same-label
    // vectors never reach the ranker. Rounded-cosine + id tiebreak (q55
    // idiom) keeps ranks libm-safe; per-probe top-3 is WindowGroupLimit
    // (bounded heap), never a full sort.
    Q(
      "q151_hard_negatives",
      s"""WITH q AS (
        |  SELECT vec_id AS qid, embedding AS qv, label AS qlabel
        |  FROM embeddings WHERE vec_id < 5
        |), scored AS (
        |  SELECT q.qid, e.vec_id,
        |    ${OracleSql.cosine("e.embedding", "qv")} AS rcos
        |  FROM embeddings e, q
        |  WHERE e.vec_id != q.qid AND e.label != q.qlabel
        |), ${OracleSql.rcosRanked}
        |SELECT qid, vec_id AS neg_id, rcos, CAST(rn AS BIGINT) AS rn
        |FROM ranked WHERE rn <= 3 ORDER BY qid, rn""".stripMargin
    ) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val probes = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"),
          col("label").as("qlabel"))
      val scored = emb.join(broadcast(probes),
          col("vec_id") =!= col("qid") && col("label") =!= col("qlabel"))
        .select(col("qid"), col("vec_id"), DedupQueries.RankKey.rcos)
      DedupQueries.RankKey.topScored(scored, "rcos", 3)
        .select(col("qid"), col("vec_id").as("neg_id"), col("rcos"),
          col("__rk").cast("long").as("rn"))
        .orderBy("qid", "rn")
    },

    // Curriculum deciles: partition the corpus into 10 difficulty bands
    // by quality score WITHOUT a global row_number (which would funnel
    // 100 TB through one window task). Scale shape = the Quantiles
    // doctrine: (1) histogram the DISTINCT Q20 scores (partial+final
    // HashAggregate — map-side combine collapses the corpus before the
    // exchange), (2) one window over the histogram (input = distinct
    // values, never raw rows) finds the 9 exact rank-selection
    // thresholds t_k = value at rank (k·n) div 10, (3) broadcast the
    // 9-row threshold list and assign decile = #{k: t_k < q20} in a pure
    // map stage. Ties share a decile by construction on both engines.
    Q(
      "q152_curriculum",
      s"""WITH scored AS (
        |  SELECT doc_id,
        |    ${OracleSql.distinctQ20} AS q20,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words
        |  FROM documents
        |), ranked AS (
        |  SELECT q20, row_number() OVER (ORDER BY q20, doc_id) AS rk,
        |         count(*) OVER () AS n
        |  FROM scored
        |), th AS (
        |  SELECT q20 AS t FROM ranked, unnest(range(1, 10)) AS g(k)
        |  WHERE rk = (k * n) // 10
        |), assigned AS (
        |  SELECT doc_id, q20, n_words,
        |    (SELECT count(*) FROM th WHERE t < scored.q20) AS decile
        |  FROM scored)
        |SELECT decile, CAST(count(*) AS BIGINT) AS n_docs,
        |  min(q20) AS q20_lo, max(q20) AS q20_hi,
        |  CAST(sum(n_words) AS BIGINT) AS tokens
        |FROM assigned GROUP BY decile ORDER BY decile""".stripMargin
    ) { (s, d) =>
      val scored = distinctQ20(s, d, col("doc_id"))
        .select("doc_id", "q20", "n_words")
      val hist = scored.groupBy("q20").agg(count(lit(1)).as("c"))
      val wCum = Window.orderBy("q20")
      val wAll = Window.rowsBetween(Window.unboundedPreceding,
        Window.unboundedFollowing)
      val th = hist
        .withColumn("cum", sum("c").over(wCum))
        .withColumn("n", sum("c").over(wAll))
        .select(col("q20").as("t"), col("cum"), col("c"), col("n"),
          explode(sequence(lit(1), lit(9))).as("k"))
        .filter(col("cum") - col("c") < expr("(k * n) div 10") &&
          expr("(k * n) div 10") <= col("cum"))
        .select("t")
      val ts = th.agg(sort_array(collect_list("t")).as("ts"))
      scored.crossJoin(broadcast(ts))
        .select(col("doc_id"), col("q20"), col("n_words"),
          size(filter(col("ts"), t => t < col("q20"))).cast("long")
            .as("decile"))
        .groupBy("decile")
        .agg(count(lit(1)).cast("long").as("n_docs"),
          min("q20").as("q20_lo"), max("q20").as("q20_hi"),
          sum("n_words").cast("long").as("tokens"))
        .orderBy("decile")
    },

    // Hashed-linear quality-classifier INFERENCE (the fastText-style
    // serving shape: every production corpus filter ends as "score each
    // doc with a trained linear model over hashed bag-of-words features
    // and keep score > τ"). The model here is a deterministic stand-in —
    // weight(bucket) = Knuth-mix(bucket) in [0, 1996], bucket =
    // md5_prefix64(token) % 4096 — because shipping real trained weights
    // is environment, not engine; the ENGINE shape is exactly serving:
    // tokenize -> hash to 2^12 buckets -> weight lookup as pure
    // arithmetic -> per-doc sum. Scale: explode -> codegen'd md5 kernel
    // -> map arithmetic -> ONE partial+final hash agg by doc_id; no
    // joins, no broadcast table, linear in corpus size. All-integer
    // (score = sum_w - 998·n is exact; no division), so the gate is
    // bit-exact cross-engine.
    Q(
      "q158_classifier",
      s"""WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS w
        |  FROM documents),
        |wt AS (
        |  SELECT doc_id,
        |    (${OracleSql.md5Int("w")} % 4096)
        |      * 2654435761 % 1997 AS w998
        |  FROM tok)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok,
        |  CAST(sum(w998) AS BIGINT) AS sum_w,
        |  CAST(sum(w998) - 998 * count(*) AS BIGINT) AS score,
        |  CAST(CASE WHEN sum(w998) - 998 * count(*) > 0 THEN 1 ELSE 0 END
        |    AS BIGINT) AS keep
        |FROM wt GROUP BY doc_id ORDER BY doc_id""".stripMargin
    ) { (s, d) =>
      val w998 = (call_function("md5_prefix64", col("w")) % 4096L) *
        2654435761L % 1997L
      docWords(s, d)
        .select(col("doc_id"), w998.as("w998"))
        .groupBy("doc_id")
        .agg(count(lit(1)).cast("long").as("n_tok"),
          sum("w998").cast("long").as("sum_w"))
        .select(col("doc_id"), col("n_tok"), col("sum_w"),
          (col("sum_w") - lit(998L) * col("n_tok")).as("score"),
          (col("sum_w") - lit(998L) * col("n_tok") > 0).cast("long")
            .as("keep"))
        .orderBy("doc_id")
    },

    // Greedy k-center CORESET selection (farthest-point sampling) over
    // the embedding corpus — the diverse-subset curation op (coreset /
    // facility-location selection for training-data diversity). Vectors
    // are quantized qv_i = floor(64·e_i) (exact in IEEE: a power-of-two
    // scale then floor), distances are integer-valued squared Euclidean
    // computed as norm2_a - 2·dot(a,c) + norm2_c on the codegen'd
    // dot_product kernel (all values integer-valued doubles < 2^53 ->
    // bit-exact cross-engine). Scale shape: the quantized base table is
    // localCheckpoint'ed once; each of the 6 greedy rounds is ONE
    // map-stage mind2 update (least of the running column and the
    // distance to the newly selected center, a broadcast-literal) plus a
    // TakeOrderedAndProject(1) argmax — K linear passes, O(1) driver
    // state per round, no K×n materialization. The oracle unrolls the
    // same 6 rounds as chained CTEs.
    Q(
      "q163_kcenter_coreset",
      KCenterOracle.sql(rounds = 6)
    ) { (s, d) =>
      import org.apache.spark.sql.Row
      val base = gridVectors(s, d)
        .withColumn("norm2",
          call_function("dot_product", col("qv"), col("qv")))
        .localCheckpoint(true)
      def d2(cQv: Seq[Double], cN2: Double) =
        col("norm2") -
          lit(2.0) * call_function("dot_product", col("qv"),
            lit(cQv.toArray)) + lit(cN2)
      val seed = base.filter(col("vec_id") === 0L)
        .select("qv", "norm2").head()
      var df = base.withColumn("mind2",
        d2(seed.getSeq[Double](0), seed.getDouble(1)))
      val picked = Seq.newBuilder[(Long, Long, Long)]
      for (r <- 1 to 6) {
        val top = df.orderBy(col("mind2").desc, col("vec_id"))
          .select("vec_id", "mind2", "qv", "norm2").head()
        picked += ((r.toLong, top.getLong(0), top.getDouble(1).toLong))
        df = df.withColumn("mind2",
          least(col("mind2"), d2(top.getSeq[Double](2), top.getDouble(3))))
      }
      val out = picked.result().map { case (r, v, m) => Row(r, v, m) }
      s.createDataFrame(
        s.sparkContext.parallelize(out, 1),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("round",
            org.apache.spark.sql.types.LongType, nullable = false),
          org.apache.spark.sql.types.StructField("vec_id",
            org.apache.spark.sql.types.LongType, nullable = false),
          org.apache.spark.sql.types.StructField("radius2",
            org.apache.spark.sql.types.LongType, nullable = false))))
        .orderBy("round")
    },

    // Per-domain diversity cap (the C4/RefinedWeb "no domain dominates"
    // rule): keep at most 3 docs per domain, preferring longer docs
    // (n_chars as the quality proxy, doc_id tie-break). The corpus has
    // no URL column, so a deterministic domain is synthesized from
    // (source, doc_id % 5) — ~100 domains at gate SF; real domain
    // cardinality scales WITH the corpus, so the per-domain window has
    // no reducer funnel and Spark plans the rank filter as
    // WindowGroupLimit (a bounded top-k heap per group before the full
    // sort — the q95 machinery). One shuffle on the domain key.
    Q(
      "q164_domain_cap",
      """WITH u AS (
        |  SELECT doc_id, n_chars,
        |    source || '-' || CAST(doc_id % 5 AS VARCHAR) || '.example.com'
        |      AS domain
        |  FROM documents),
        |ranked AS (
        |  SELECT doc_id, domain, n_chars,
        |    row_number() OVER (PARTITION BY domain
        |      ORDER BY n_chars DESC, doc_id) AS rk
        |  FROM u)
        |SELECT doc_id, domain, CAST(n_chars AS BIGINT) AS n_chars,
        |  CAST(rk AS BIGINT) AS rk
        |FROM ranked WHERE rk <= 3 ORDER BY doc_id""".stripMargin
    ) { (s, d) =>
      val rk = row_number().over(
        Window.partitionBy("domain")
          .orderBy(col("n_chars").desc, col("doc_id")))
      docs(s, d)
        .select(col("doc_id"), col("n_chars"),
          concat(col("source"), lit("-"),
            (col("doc_id") % 5).cast("string"), lit(".example.com"))
            .as("domain"))
        .withColumn("rk", rk.cast("long"))
        .filter(col("rk") <= 3)
        .select(col("doc_id"), col("domain"),
          col("n_chars").cast("long").as("n_chars"), col("rk"))
        .orderBy("doc_id")
    },

    // MMR (maximal marginal relevance) diverse re-ranking: for each
    // probe, greedily select 4 of its top-12 relevance candidates
    // maximizing rel − max-sim-to-already-selected (λ = 0.5, scaled ×2
    // so scores stay integer) — the diversity-aware retrieval/selection
    // op (dedup-aware RAG ranking, diverse few-shot example picking).
    // Exactness: the q163 quantization (floor(64·e), integer dots via
    // the codegen dot_product kernel). Scale shape: relevance is a
    // map stage against the 3 broadcast probe rows; top-12 per probe is
    // WindowGroupLimit — everything after that is a CORPUS-SIZE-
    // INDEPENDENT 36-row problem, solved greedily on the driver (the
    // bounded-driver-state pattern of q142/q163; the alternative — 3
    // more unrolled distributed argmax rounds over 12 rows — would add
    // 3 barriers to save nothing). The oracle unrolls the same 4
    // rounds as chained CTEs.
    Q(
      "q166_mmr_rerank",
      MmrOracle.sql
    ) { (s, d) =>
      import org.apache.spark.sql.Row
      val base = gridVectors(s, d)
      val probes = broadcast(base.filter(col("vec_id") < 3)
        .select(col("vec_id").as("p"), col("qv").as("pqv")))
      val rel = base.crossJoin(probes)
        .filter(col("vec_id") =!= col("p"))
        .select(col("p"), col("vec_id").as("cid"), col("qv"),
          call_function("dot_product", col("qv"), col("pqv"))
            .cast("long").as("rel"))
      val cand = Scale.topK(rel, Seq("p"), Seq(col("rel").desc, col("cid")), 12)
        .select("p", "cid", "rel", "qv")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getSeq[Double](3).map(_.toLong).toArray))
      def dot(a: Array[Long], b: Array[Long]): Long =
        a.iterator.zip(b.iterator).map { case (x, y) => x * y }.sum
      val out = cand.groupBy(_._1).toSeq.flatMap { case (p, cs) =>
        var remaining = cs.toList
        var selected = List.empty[(Long, Array[Long])]
        (1 to 4).map { r =>
          val scored = remaining.map { case (_, cid, rel0, qv) =>
            val msim =
              if (selected.isEmpty) 0L
              else selected.map(sv => dot(qv, sv._2)).max
            (cid, rel0 - msim, qv)
          }
          val best = scored.minBy { case (cid, score, _) => (-score, cid) }
          remaining = remaining.filterNot(_._2 == best._1)
          selected ::= (best._1, best._3)
          Row(p, r.toLong, best._1, best._2)
        }
      }
      val schema = org.apache.spark.sql.types.StructType(
        Seq("probe", "sel_round", "vec_id", "mmr_score").map(n =>
          org.apache.spark.sql.types.StructField(n,
            org.apache.spark.sql.types.LongType, nullable = false)))
      s.createDataFrame(s.sparkContext.parallelize(out, 1), schema)
        .orderBy("probe", "sel_round")
    },

    // Per-source quality CALIBRATION: each doc's score mapped to its
    // source-relative quantile rank (integer ppm of strictly-worse docs
    // in the same source) — the normalization step before any global
    // quality cut, so a lenient source's scores can't crowd out a
    // strict source's. The q152 histogram doctrine applied per source:
    // NO per-source row_number over the corpus (that is one reducer per
    // source); instead a (source, score) histogram aggregate (bounded
    // by distinct scores), cumulative-below + source totals as windows
    // over the HISTOGRAM, and a broadcast map-stage join back. All
    // integer arithmetic.
    Q(
      "q169_source_calibration",
      """WITH d AS (SELECT doc_id, source, n_chars AS score
        |  FROM documents),
        |hist AS (SELECT source, score, count(*) AS c FROM d GROUP BY 1, 2),
        |cum AS (
        |  SELECT source, score,
        |    sum(c) OVER (PARTITION BY source ORDER BY score
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS below,
        |    sum(c) OVER (PARTITION BY source) AS n_src
        |  FROM hist)
        |SELECT d.doc_id, d.source, CAST(d.score AS BIGINT) AS score,
        |  CAST(1000000 * coalesce(c.below, 0) // c.n_src AS BIGINT)
        |    AS rank_ppm
        |FROM d JOIN cum c ON c.source = d.source AND c.score = d.score
        |ORDER BY d.doc_id""".stripMargin
    ) { (s, d) =>
      val d0 = docs(s, d).select(col("doc_id"), col("source"),
        col("n_chars").as("score"))
      val hist = d0.groupBy("source", "score")
        .agg(count(lit(1)).as("c"))
      val wBelow = Window.partitionBy("source").orderBy("score")
        .rowsBetween(Window.unboundedPreceding, -1)
      val wAll = Window.partitionBy("source")
      val cum = hist.select(col("source"), col("score"),
        sum("c").over(wBelow).as("below"),
        sum("c").over(wAll).as("n_src"))
      d0.join(broadcast(cum), Seq("source", "score"))
        .select(col("doc_id"), col("source"), col("score").cast("long")
          .as("score"),
          expr("(1000000 * coalesce(below, 0L)) div n_src").as("rank_ppm"))
        .orderBy("doc_id")
    },

    // Multi-epoch REPETITION schedule (the data-recipe op: high-quality
    // data is repeated across epochs, low-quality seen once — the
    // materialized form of "3/2/1 epochs by quality tercile"). Tercile
    // thresholds come from the q152 histogram doctrine (distinct-score
    // histogram, cumulative window over the HISTOGRAM, exact integer
    // rank-selection — no global row_number); the epoch expansion is a
    // map-side sequence+explode generator, so output mass is exactly
    // the epoch-weighted corpus and the only exchanges are the
    // histogram aggregate and the determinism sort. All-integer
    // thresholds keep both engines bit-equal.
    Q(
      "q170_epoch_schedule",
      """WITH d AS (SELECT doc_id, n_chars,
        |    len(string_split(text, ' ')) AS n_tok FROM documents),
        |hist AS (SELECT n_chars AS score, count(*) AS c FROM d GROUP BY 1),
        |tot AS (SELECT sum(c) AS n FROM hist),
        |cum AS (SELECT score,
        |    sum(c) OVER (ORDER BY score
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS below
        |  FROM hist),
        |th AS (SELECT
        |    min(CASE WHEN coalesce(below, 0) * 3 >= (SELECT n FROM tot)
        |        THEN score END) AS t1,
        |    min(CASE WHEN coalesce(below, 0) * 3 >= 2 * (SELECT n FROM tot)
        |        THEN score END) AS t2
        |  FROM cum),
        |ep AS (SELECT d.doc_id, d.n_tok,
        |    CASE WHEN d.n_chars >= th.t2 THEN 3
        |         WHEN d.n_chars >= th.t1 THEN 2 ELSE 1 END AS epochs
        |  FROM d, th)
        |SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tok,
        |  CAST(epochs AS BIGINT) AS epochs,
        |  CAST(unnest(range(1, epochs + 1)) AS BIGINT) AS epoch
        |FROM ep ORDER BY doc_id, epoch""".stripMargin
    ) { (s, d) =>
      val d0 = docs(s, d).select(col("doc_id"), col("n_chars"),
        size(split(col("text"), " ")).cast("long").as("n_tok"))
      val hist = d0.groupBy(col("n_chars").as("score"))
        .agg(count(lit(1)).as("c"))
      val cum = hist.select(col("score"),
        sum("c").over(Window.orderBy("score")
          .rowsBetween(Window.unboundedPreceding, -1)).as("below"))
      val tot = hist.agg(sum("c").as("n"))
      val th = cum.crossJoin(broadcast(tot)).agg(
        min(when(coalesce(col("below"), lit(0L)) * 3 >= col("n"),
          col("score"))).as("t1"),
        min(when(coalesce(col("below"), lit(0L)) * 3 >= col("n") * 2,
          col("score"))).as("t2"))
      d0.crossJoin(broadcast(th))
        .select(col("doc_id"), col("n_tok"),
          when(col("n_chars") >= col("t2"), 3L)
            .when(col("n_chars") >= col("t1"), 2L)
            .otherwise(1L).as("epochs"))
        .select(col("doc_id"), col("n_tok"), col("epochs"),
          explode(sequence(lit(1L), col("epochs"))).as("epoch"))
        .orderBy("doc_id", "epoch")
    },

    // Token-budget WATER-FILL across sources: the data-recipe allocator
    // — rank sources by quality, each takes min(its token mass,
    // remaining budget) until a 40% global budget is exhausted (the
    // boundary source gets the partial remainder, the tail gets 0).
    // The sequential-looking greedy is EXACT pure window arithmetic:
    // alloc_i = min(cap_i, max(budget − Σ caps of better-ranked, 0)) —
    // no loop, no driver state. Scale shape: one partial+final agg by
    // source collapses the corpus to source cardinality; everything
    // after (window + broadcast scalar) runs on that tiny frame.
    // All-integer (floor-div quality proxy, integer budget).
    Q(
      "q176_budget_waterfill",
      """WITH src AS (
        |  SELECT source,
        |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS cap,
        |    CAST(sum(n_chars) // count(*) AS BIGINT) AS quality
        |  FROM documents GROUP BY source),
        |tot AS (SELECT sum(cap) * 2 // 5 AS budget FROM src),
        |ranked AS (
        |  SELECT source, cap, quality,
        |    coalesce(sum(cap) OVER (ORDER BY quality DESC, source
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS before
        |  FROM src)
        |SELECT source, cap, quality,
        |  CAST(least(cap, greatest(tot.budget - before, 0)) AS BIGINT)
        |    AS alloc
        |FROM ranked, tot ORDER BY quality DESC, source""".stripMargin
    ) { (s, d) =>
      val src = docs(s, d).groupBy("source")
        .agg(sum(size(split(col("text"), " "))).cast("long").as("cap"),
          expr("sum(n_chars) div count(*)").as("quality"))
      val tot = src.agg(expr("sum(cap) * 2 div 5").as("budget"))
      val before = coalesce(
        sum("cap").over(Window.orderBy(col("quality").desc, col("source"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L))
      src.select(col("source"), col("cap"), col("quality"),
          before.as("before"))
        .crossJoin(broadcast(tot))
        .select(col("source"), col("cap"), col("quality"),
          least(col("cap"), greatest(col("budget") - col("before"),
            lit(0L))).as("alloc"))
        .orderBy(col("quality").desc, col("source"))
    },

    // Embedding-table QUALITY AUDIT — the input-validation gate every
    // vector pipeline runs before indexing/training: per label, counts
    // of NaN-bearing and all-zero vectors plus exact quantized-norm
    // stats (floor(64·e)² sums — integer, so min/max/sum are bit-equal
    // cross-engine where double norms would be summation-order-
    // dependent). One map stage (per-row HOF arithmetic) + one
    // partial+final agg by label; label cardinality is model-bounded,
    // so the output is tiny at any corpus size.
    Q(
      "q177_embedding_audit",
      """WITH q AS (
        |  SELECT vec_id, label,
        |    list_sum(list_transform(embedding,
        |      x -> CAST(floor(CAST(x AS DOUBLE) * 64) AS BIGINT)
        |         * CAST(floor(CAST(x AS DOUBLE) * 64) AS BIGINT)))
        |      AS qnorm2,
        |    len(list_filter(embedding,
        |      x -> isnan(CAST(x AS DOUBLE)))) AS n_nan,
        |    len(list_filter(embedding, x -> CAST(x AS DOUBLE) = 0))
        |      AS n_zero
        |  FROM embeddings)
        |SELECT CAST(label AS BIGINT) AS label,
        |  CAST(count(*) AS BIGINT) AS n_vecs,
        |  CAST(sum(CASE WHEN n_nan > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_with_nan,
        |  CAST(sum(CASE WHEN n_zero = 64 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_all_zero,
        |  CAST(min(qnorm2) AS BIGINT) AS qnorm2_min,
        |  CAST(max(qnorm2) AS BIGINT) AS qnorm2_max,
        |  CAST(sum(qnorm2) AS BIGINT) AS qnorm2_sum
        |FROM q GROUP BY label ORDER BY label""".stripMargin
    ) { (s, d) =>
      val qv = transform(col("embedding"),
        x => floor(x.cast("double") * 64))
      val qnorm2 = aggregate(qv, lit(0L), (acc, v) => acc + v * v)
      val nNan = size(filter(col("embedding"),
        x => isnan(x.cast("double"))))
      val nZero = size(filter(col("embedding"),
        x => x.cast("double") === 0.0))
      emb(s, d)
        .select(col("label").cast("long").as("label"),
          qnorm2.as("qnorm2"), nNan.as("n_nan"), nZero.as("n_zero"))
        .groupBy("label")
        .agg(count(lit(1)).cast("long").as("n_vecs"),
          sum((col("n_nan") > 0).cast("long")).cast("long")
            .as("n_with_nan"),
          sum((col("n_zero") === 64).cast("long")).cast("long")
            .as("n_all_zero"),
          min("qnorm2").as("qnorm2_min"),
          max("qnorm2").as("qnorm2_max"),
          sum("qnorm2").cast("long").as("qnorm2_sum"))
        .orderBy("label")
    },

    // Distributed CLASSIFIER TRAINING — the step before q128's inference:
    // a batch perceptron over 32 hashed token features + bias, lang='en'
    // vs rest. All-integer arithmetic (binary features, ±1 labels,
    // integer weights) so the 3 unrolled epochs are bit-exact in both
    // engines — the q130 determinism discipline applied to model
    // training; a float LR would be summation-order-dependent. Scale
    // shape: the (doc, y, j) feature table is built once (explode →
    // codegen md5 → distinct ≤ 33 rows/doc), clustered by doc_id and
    // checkpointed. The clustering is PHYSICAL, not planner-visible (a
    // localCheckpoint scans as ExistingRDD with unknown partitioning on
    // 4.1.2, so each epoch's doc-score aggregate still plans an
    // exchange) — but with a doc's rows co-located the PARTIAL aggregate
    // collapses them to ~1 row per (doc, y) before that exchange, vs up
    // to 33 partial rows per doc unclustered (A/B at the 1000x replica:
    // 92.8 s clustered, 188 s not). Weight-delta aggregate collapses
    // map-side to 33 rows; weights live on the driver between epochs
    // (33 longs — bounded driver state, the q142 pattern).
    // Batch-perceptron error oscillation (e2 < e3) is the algorithm,
    // not a bug.
    Q(
      "q183_perceptron_train",
      s"""WITH f0 AS (
        |  SELECT DISTINCT doc_id,
        |    CASE WHEN lang = 'en' THEN 1 ELSE -1 END AS y,
        |    ${OracleSql.md5Int("t")} % 32 AS j
        |  FROM (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS t
        |        FROM documents)),
        |f AS (SELECT * FROM f0
        |      UNION SELECT DISTINCT doc_id, y, 32 AS j FROM f0),
        |ndocs AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS e1 FROM f),
        |w1 AS (SELECT j, sum(y) AS w FROM f GROUP BY j),
        |s2 AS (SELECT f.doc_id, f.y, sum(w1.w) AS score
        |       FROM f JOIN w1 USING (j) GROUP BY 1, 2),
        |m2 AS (SELECT doc_id, y FROM s2 WHERE y * score <= 0),
        |e2 AS (SELECT CAST(count(*) AS BIGINT) AS e2 FROM m2),
        |d2 AS (SELECT f.j, sum(f.y) AS dw FROM f JOIN m2 USING (doc_id)
        |       GROUP BY 1),
        |w2 AS (SELECT w1.j, w1.w + coalesce(d2.dw, 0) AS w
        |       FROM w1 LEFT JOIN d2 USING (j)),
        |s3 AS (SELECT f.doc_id, f.y, sum(w2.w) AS score
        |       FROM f JOIN w2 USING (j) GROUP BY 1, 2),
        |m3 AS (SELECT doc_id, y FROM s3 WHERE y * score <= 0),
        |e3 AS (SELECT CAST(count(*) AS BIGINT) AS e3 FROM m3),
        |d3 AS (SELECT f.j, sum(f.y) AS dw FROM f JOIN m3 USING (doc_id)
        |       GROUP BY 1),
        |w3 AS (SELECT w2.j, w2.w + coalesce(d3.dw, 0) AS w
        |       FROM w2 LEFT JOIN d3 USING (j)),
        |dfj AS (SELECT j, CAST(count(*) AS BIGINT) AS df_j FROM f GROUP BY j)
        |SELECT w3.j, CAST(w3.w AS BIGINT) AS w, dfj.df_j,
        |  n.e1, e2.e2, e3.e3
        |FROM w3 JOIN dfj USING (j)
        |CROSS JOIN ndocs n CROSS JOIN e2 CROSS JOIN e3
        |ORDER BY w3.j""".stripMargin
    ) { (s, d) =>
      val f0 = docs(s, d)
        .select(col("doc_id"),
          when(col("lang") === "en", 1L).otherwise(-1L).as("y"),
          explode(TextOps.tokens(col("text"))).as("t"))
        .select(col("doc_id"), col("y"),
          (call_function("md5_prefix64", col("t")) % 32L).as("j"))
        .distinct()
      val f = f0
        .unionByName(f0.select("doc_id", "y").distinct()
          .withColumn("j", lit(32L)))
        .repartition(col("doc_id"))
        // DISK_ONLY per the q155 doctrine: f is corpus-scale (~33 rows/
        // doc) and checkpoint blocks are non-evictable — the default
        // storage level starved execution memory at the 1000x rehearsal
        // (SparkOutOfMemoryError in the epoch aggregates)
        .localCheckpoint(true,
          org.apache.spark.storage.StorageLevel.DISK_ONLY)
      val e1 = f.select("doc_id").distinct().count()
      // epoch 1: w = 0 -> every doc misclassified -> delta = sum(y) per j
      var w: Map[Long, Long] = f.groupBy("j").agg(sum("y").as("dw"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val errs = scala.collection.mutable.ArrayBuffer[Long](e1)
      for (_ <- 2 to 3) {
        val wj = coalesce(element_at(typedLit(w), col("j")), lit(0L))
        val miscl = f.withColumn("wj", wj)
          .groupBy("doc_id", "y").agg(sum("wj").as("score"))
          .filter(col("y") * col("score") <= 0)
          .select("doc_id")
        // ONE job per epoch: every doc carries exactly one bias row
        // (j = 32), so the misclassified-doc count rides the delta
        // aggregate as that row's count(*) — a separate miscl.count()
        // action would re-run the corpus-scale score aggregate
        val deltaRows = f.join(miscl, Seq("doc_id"))
          .groupBy("j").agg(sum("y").as("dw"),
            count(lit(1)).cast("long").as("n"))
          .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
          .toMap
        errs += deltaRows.get(32L).map(_._2).getOrElse(0L)
        w = w.map { case (j, v) =>
          j -> (v + deltaRows.get(j).map(_._1).getOrElse(0L)) }
      }
      val sess = s
      import sess.implicits._
      val wTable = w.toSeq.sorted.toDF("j", "w")
      f.groupBy("j").agg(count(lit(1)).cast("long").as("df_j"))
        .join(broadcast(wTable), Seq("j"))
        .select(col("j"), col("w"), col("df_j"),
          lit(e1).as("e1"), lit(errs(1)).as("e2"), lit(errs(2)).as("e3"))
        .orderBy("j")
    },

    // CONCAT-AND-CHUNK SEQUENCE PACKING — the GPT-style pretraining
    // packer: all docs concatenated in doc_id order, the token stream cut
    // every 512 tokens, docs spanning a cut become boundary-crossers.
    // The global running token offset is the crux at scale: a single
    // unpartitioned window is a one-task sort, so the offset is computed
    // TWO-PHASE — docs shard by doc_id div W (W adaptive from max id, so
    // shard count is bounded ~64k and every gate SF still gets >= 2
    // shards), per-shard subtotals (bounded table) take a tiny window,
    // and the per-shard base offsets broadcast back onto an intra-shard
    // window. Shard width never changes the output, only the physical
    // split — the oracle is a plain global window. Everything integer
    // (floor-div token heuristic), so the gate is exact.
    Q(
      "q186_seq_pack",
      """WITH t AS (SELECT doc_id, lang, n_chars // 4 + 1 AS toks
        |           FROM documents),
        |c AS (SELECT *, sum(toks) OVER (ORDER BY doc_id
        |        ROWS UNBOUNDED PRECEDING) AS cend FROM t),
        |b AS (SELECT lang, toks, (cend - toks) // 512 AS bin_first,
        |        (cend - 1) // 512 AS bin_last FROM c)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(toks) AS BIGINT) AS n_tokens,
        |  CAST(sum(CASE WHEN bin_last > bin_first THEN 1 ELSE 0 END)
        |    AS BIGINT) AS crossers,
        |  CAST(max(bin_last - bin_first + 1) AS BIGINT) AS max_span,
        |  CAST(max(bin_last) AS BIGINT) AS last_bin
        |FROM b GROUP BY lang ORDER BY lang""".stripMargin
    ) { (s, d) =>
      val t = docs(s, d).select(col("doc_id"), col("lang"),
        (expr("n_chars div 4") + lit(1L)).as("toks"))
      // adaptive order-aligned shard width: bounded shard count at any
      // corpus size, >= 2 shards at the sf0.01 gate (500 docs / 256)
      val maxId = t.agg(max("doc_id")).head.getLong(0)
      seqPack(t, math.max(256L, maxId / 65536L + 1L))
    },

    // FILL-IN-THE-MIDDLE TRANSFORM — the PSM (prefix-suffix-middle)
    // reshaping every code/infilling trainer applies: deterministic
    // character split at 40%/60% (integer floor on the char length), a
    // per-lang token budget for the reshaped <PRE>p<SUF>s<MID>m form
    // (3 sentinel tokens + 3 part costs, all floor-div integers), and a
    // computed ROUND-TRIP proof (prefix||middle||suffix == text) so a
    // split-boundary bug fails the gate rather than silently corrupting
    // training data. Pure map + one bounded lang aggregate — length()
    // projected to a column once per the expensive-expression rule.
    Q(
      "q193_fim_split",
      """WITH f AS (
        |  SELECT doc_id, lang, length(text) AS n,
        |    substr(text, 1, length(text) * 2 // 5) AS pre,
        |    substr(text, length(text) * 2 // 5 + 1,
        |           length(text) * 3 // 5 - length(text) * 2 // 5) AS mid,
        |    substr(text, length(text) * 3 // 5 + 1) AS suf,
        |    text
        |  FROM documents)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(length(pre)) AS BIGINT) AS pre_chars,
        |  CAST(sum(length(mid)) AS BIGINT) AS mid_chars,
        |  CAST(sum(length(suf)) AS BIGINT) AS suf_chars,
        |  CAST(sum(length(pre) // 4 + length(mid) // 4 + length(suf) // 4
        |    + 6) AS BIGINT) AS psm_tokens,
        |  CAST(sum(CASE WHEN pre || mid || suf = text THEN 1 ELSE 0 END)
        |    AS BIGINT) AS roundtrip_ok
        |FROM f GROUP BY 1 ORDER BY 1""".stripMargin
    ) { (s, d) =>
      val f = docs(s, d)
        .select(col("doc_id"), col("lang"), col("text"),
          length(col("text")).cast("long").as("n"))
        .select(col("lang"), col("text"),
          col("text").substr(lit(1), expr("n * 2 div 5").cast("int"))
            .as("pre"),
          col("text").substr((expr("n * 2 div 5") + 1L).cast("int"),
            expr("n * 3 div 5 - n * 2 div 5").cast("int")).as("mid"),
          col("text").substr((expr("n * 3 div 5") + 1L).cast("int"),
            expr("n - n * 3 div 5").cast("int")).as("suf"))
      f.groupBy("lang")
        .agg(count(lit(1)).cast("long").as("n_docs"),
          sum(length(col("pre"))).cast("long").as("pre_chars"),
          sum(length(col("mid"))).cast("long").as("mid_chars"),
          sum(length(col("suf"))).cast("long").as("suf_chars"),
          sum(expr("length(pre) div 4 + length(mid) div 4 + " +
            "length(suf) div 4 + 6")).cast("long").as("psm_tokens"),
          sum(when(concat(col("pre"), col("mid"), col("suf"))
            === col("text"), 1L).otherwise(0L)).cast("long")
            .as("roundtrip_ok"))
        .orderBy("lang")
    },

    // PADDING-WASTE AUDIT — the batching-efficiency report behind
    // length-bucketed batching: for each 32-token length bucket, how
    // many pad tokens does bucketed batching burn (pad every sequence
    // to the bucket max) vs padding everything to the global max? The
    // delta is the measured win of sequence bucketing — integer-exact
    // (token cost = n_chars div 4 + 1, same floor model as q193/q184).
    // Scale shape: one scan into a two-phase bucket aggregate (buckets
    // bounded by max-doc-length/32); the global max is derived FROM the
    // bucket table (1-row broadcast), so the corpus is scanned once.
    Q(
      "q198_padding_waste",
      """WITH t AS (
        |  SELECT n_chars // 4 + 1 AS tok FROM documents),
        |b AS (
        |  SELECT tok // 32 AS bucket, count(*) AS n_docs,
        |    sum(tok) AS tok_sum, max(tok) AS tok_max
        |  FROM t GROUP BY 1),
        |gl AS (SELECT max(tok_max) AS gm FROM b)
        |SELECT CAST(bucket AS BIGINT) AS bucket,
        |  CAST(n_docs AS BIGINT) AS n_docs,
        |  CAST(tok_sum AS BIGINT) AS tok_sum,
        |  CAST(tok_max AS BIGINT) AS tok_max,
        |  CAST(tok_max * n_docs - tok_sum AS BIGINT) AS waste_bucketed,
        |  CAST((SELECT gm FROM gl) * n_docs - tok_sum AS BIGINT)
        |    AS waste_global
        |FROM b ORDER BY bucket""".stripMargin
    ) { (s, d) =>
      // Bucket table checkpointed: deriving the global max from `b`
      // without a barrier re-plans the whole scan+aggregate subtree
      // (verified in the plan — two parquet scans); the checkpoint makes
      // gm a read of the bounded bucket table instead.
      val b = docs(s, d)
        .select(expr("n_chars div 4 + 1").as("tok"))
        .groupBy(expr("tok div 32").as("bucket"))
        .agg(count(lit(1)).as("n_docs"), sum("tok").as("tok_sum"),
          max("tok").as("tok_max"))
        .localCheckpoint(true)
      b.crossJoin(broadcast(b.agg(max("tok_max").as("gm"))))
        .select(col("bucket").cast("long").as("bucket"),
          col("n_docs").cast("long").as("n_docs"),
          col("tok_sum").cast("long").as("tok_sum"),
          col("tok_max").cast("long").as("tok_max"),
          (col("tok_max") * col("n_docs") - col("tok_sum")).cast("long")
            .as("waste_bucketed"),
          (col("gm") * col("n_docs") - col("tok_sum")).cast("long")
            .as("waste_global"))
        .orderBy("bucket")
    },

    // RAG CHUNKING — the retrieval-side twin of q186's training-side
    // packing: split every document into OVERLAPPING fixed token windows
    // (32 tokens, stride 24 — the standard chunk-with-overlap RAG
    // recipe; starts = 0, 24, ... while start < max(n-8, 1), so a final
    // fragment shorter than the overlap never becomes its own chunk),
    // then audit the chunk store: distinct chunk hashes, duplicate-chunk
    // mass (what chunk-level dedup would reclaim) and hashes spanning
    // sources (cross-source boilerplate entering the index). Scale
    // shape: the chunk explode is map-only (starts from `sequence`,
    // empty-guard OUTSIDE any binding); chunks hash to 60-bit keys
    // BEFORE the only data-scale exchange (8 B + source per chunk); the
    // countDistinct plans as two bounded-key aggregates; the final
    // rollup is single-row.
    Q(
      "q208_rag_chunking",
      s"""WITH tok AS (
        |  SELECT source, string_split(text, ' ') AS ws FROM documents
        |  WHERE len(string_split(text, ' ')) > 0),
        |ch AS (
        |  SELECT source, array_to_string(
        |      list_slice(ws, st + 1, least(st + 32, len(ws))), ' ') AS c
        |  FROM tok, LATERAL (SELECT unnest(
        |      range(0, greatest(len(ws) - 8, 1), 24)) AS st) starts),
        |h AS (SELECT source, ${OracleSql.md560("c")} AS hc FROM ch),
        |g AS (SELECT hc, count(*) AS n, count(DISTINCT source) AS ns
        |      FROM h GROUP BY 1)
        |SELECT CAST(count(*) AS BIGINT) AS n_hashes,
        |  CAST(sum(n) AS BIGINT) AS n_chunks,
        |  CAST(sum(CASE WHEN n > 1 THEN n - 1 ELSE 0 END) AS BIGINT)
        |    AS dup_chunks,
        |  CAST(sum(CASE WHEN ns > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS xsource_hashes
        |FROM g""".stripMargin
    ) { (s, d) => ragChunkStats(docs(s, d)) },

    // CURRICULUM BUCKETS — order the corpus easy-to-hard (difficulty =
    // mean word length in centichars, the cheap fluency proxy) and cut
    // it into 10 rank-deciles for staged training. Bucket boundaries
    // come from the DISTINCT-SCORE histogram, not a global row_number:
    // bucket(score) = floor(10 * #docs-strictly-below / N), so ties
    // never split across buckets and no single-partition corpus window
    // ever forms (the q16 percentile shape). Scale: one corpus scan into
    // the bounded score histogram (map-side collapse), checkpointed so
    // the scalar N does not re-plan the scan (q203 lesson); the
    // cumulative window runs over the bounded histogram only; the
    // score->bucket table broadcasts back onto a second map-side pass.
    Q(
      "q212_curriculum",
      """WITH sc AS (
        |  SELECT (n_chars * 100) // len(string_split(text, ' ')) AS score,
        |    len(string_split(text, ' ')) AS n_words
        |  FROM documents),
        |h AS (SELECT score, count(*) AS c FROM sc GROUP BY score),
        |tot AS (SELECT sum(c) AS n FROM h),
        |b AS (
        |  SELECT score, coalesce(sum(c) OVER (ORDER BY score
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    AS below
        |  FROM h),
        |bk AS (SELECT score,
        |         CAST((below * 10) // tot.n AS BIGINT) AS bucket
        |       FROM b, tot)
        |SELECT bucket, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(min(sc.score) AS BIGINT) AS min_score,
        |  CAST(max(sc.score) AS BIGINT) AS max_score,
        |  CAST(sum(n_words) AS BIGINT) AS words
        |FROM sc JOIN bk USING (score)
        |GROUP BY bucket ORDER BY bucket""".stripMargin
    ) { (s, d) =>
      val sc = docs(s, d)
        .select(col("n_chars"), TextOps.tokens(col("text")).as("ws"))
        .select(
          expr("(n_chars * 100) div cast(size(ws) AS bigint)")
            .as("score"),
          size(col("ws")).cast("long").as("n_words"))
      val h = sc.groupBy("score").agg(count(lit(1)).as("c"))
        .localCheckpoint(true)
      val wb = Window.orderBy("score")
        .rowsBetween(Window.unboundedPreceding, -1)
      val bk = h
        .withColumn("below", coalesce(sum("c").over(wb), lit(0L)))
        .crossJoin(broadcast(h.agg(sum("c").as("n"))))
        .select(col("score"), expr("(below * 10) div n").as("bucket"))
      sc.join(broadcast(bk), Seq("score"))
        .groupBy("bucket")
        .agg(count(lit(1)).cast("long").as("n_docs"),
          min("score").cast("long").as("min_score"),
          max("score").cast("long").as("max_score"),
          sum("n_words").cast("long").as("words"))
        .orderBy("bucket")
    },

    // ROBUST LENGTH-OUTLIER AUDIT (median + MAD) — mean/std length
    // filters (q122's Gopher rules) are exactly what a heavy-tailed
    // source breaks: one 10 MB doc drags the mean. Median and MAD are
    // breakdown-50% robust, and both are EXACT integers here: the
    // k-th smallest (k = (n+1) div 2, lower median) picked off the
    // cumulative (source, n_chars) histogram, then the same pick on
    // the |x − med| deviation histogram; outliers are docs beyond
    // 5·MAD. Scale shape: ONE corpus scan into the bounded (source,
    // value) histogram (map-side collapse), checkpointed once for its
    // four consumers (q203 rule); both median picks are windows over
    // the bounded histogram, never over docs; the outlier rollup is
    // |sources|-scale.
    Q(
      "q234_mad_outliers", {
      // CTE `out`: the per-source lower median of `v` in the (source, v,
      // c) count histogram `t`
      def median(out: String, t: String, v: String) =
        s"""$out AS (
           |  SELECT source, min($v) AS $out FROM (
           |    SELECT $t.source, $t.$v,
           |      coalesce(sum(c) OVER (PARTITION BY $t.source ORDER BY $v
           |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           |        AS below, c, n.n
           |    FROM $t JOIN n USING (source)) t
           |  WHERE below < (n + 1) // 2 AND (n + 1) // 2 <= below + c
           |  GROUP BY source)""".stripMargin
      s"""WITH h AS (
        |  SELECT source, n_chars AS v, count(*) AS c
        |  FROM documents GROUP BY 1, 2),
        |n AS (SELECT source, sum(c) AS n FROM h GROUP BY source),
        |${median("med", "h", "v")},
        |dh AS (
        |  SELECT h.source, abs(h.v - m.med) AS dv, sum(c) AS c
        |  FROM h JOIN med m USING (source) GROUP BY 1, 2),
        |${median("mad", "dh", "dv")},
        |outl AS (
        |  SELECT h.source, sum(CASE WHEN abs(h.v - m.med) > 5 * d.mad
        |    THEN c ELSE 0 END) AS n_out
        |  FROM h JOIN med m USING (source) JOIN mad d USING (source)
        |  GROUP BY 1)
        |SELECT n.source, CAST(n.n AS BIGINT) AS n_docs,
        |  CAST(m.med AS BIGINT) AS med, CAST(d.mad AS BIGINT) AS mad,
        |  CAST(o.n_out AS BIGINT) AS n_outliers,
        |  CAST(o.n_out * 1000000 // n.n AS BIGINT) AS outlier_ppm
        |FROM n JOIN med m USING (source) JOIN mad d USING (source)
        |JOIN outl o USING (source)
        |ORDER BY n.source""".stripMargin
    }
    ) { (s, d) =>
      madOutliersCore(docs(s, d).select(col("source"), col("n_chars")))
    },

    // IN-BATCH DUP COLLISION AUDIT — contrastive training treats every
    // other in-batch example as a negative; a near-duplicate landing in
    // the same batch is a FALSE negative that poisons the loss. For the
    // hash-sharded batch assignment (the q145 shuffle discipline) at
    // batch sizes 64/128/256: how many near-identical pairs (full 4/4
    // minhash-signature agreement — the q52 signature, no CC needed)
    // collide into one batch, as a fraction of all near-identical pairs
    // (expected ≈ 1/n_batches for a well-mixed shard key; a systematic
    // excess means the batch key correlates with content). Scale shape:
    // signatures are ONE corpus exchange (map-side min-combine),
    // checkpointed DISK_ONLY for three consumers; batch assignment is a
    // pure map stage (id-hash mod, no global sort); both pair counts
    // come from m(m−1)/2 over group sizes — the pairs themselves are
    // never materialized. Envelope: in_batch·1e6 exact while colliding
    // pairs ≤ 9.2e12 — bounded by batch size, not corpus (a batch of
    // 256 holds ≤ 32640 pairs).
    Q(
      "q246_batch_collision",
      s"""WITH ${OracleSql.hashedShingleRows("doc_id")},
        |sig AS (
        |  SELECT doc_id,
        |    ${OracleSql.minhashAggs("h", "k")}
        |  FROM hv GROUP BY doc_id),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS c FROM sig),
        |bs AS (SELECT unnest([64, 128, 256]) AS b),
        |asg AS (
        |  SELECT s.doc_id, s.k0, s.k1, s.k2, s.k3, bs.b,
        |    ${OracleSql.md5Int("'bt|' || CAST(s.doc_id AS VARCHAR)")}
        |      % ((n.c + bs.b - 1) // bs.b) AS batch
        |  FROM sig s, n, bs),
        |gt AS (SELECT k0, k1, k2, k3, CAST(count(*) AS BIGINT) AS m
        |       FROM sig GROUP BY 1, 2, 3, 4),
        |tot AS (SELECT CAST(sum(m * (m - 1) // 2) AS BIGINT) AS dup_pairs
        |        FROM gt),
        |ib AS (SELECT b, batch, k0, k1, k2, k3,
        |         CAST(count(*) AS BIGINT) AS m
        |       FROM asg GROUP BY 1, 2, 3, 4, 5, 6),
        |coll AS (
        |  SELECT b, CAST(sum(m * (m - 1) // 2) AS BIGINT) AS in_batch,
        |    CAST(count(DISTINCT CASE WHEN m >= 2 THEN batch END) AS BIGINT)
        |      AS batches_hit
        |  FROM ib GROUP BY 1)
        |SELECT CAST(coll.b AS BIGINT) AS batch_size,
        |  CAST((SELECT (c + coll.b - 1) // coll.b FROM n) AS BIGINT)
        |    AS n_batches,
        |  tot.dup_pairs, coll.in_batch, coll.batches_hit,
        |  CAST(CASE WHEN tot.dup_pairs = 0 THEN 0
        |    ELSE (coll.in_batch * 1000000) // tot.dup_pairs END AS BIGINT)
        |    AS coll_ppm
        |FROM coll, tot ORDER BY batch_size""".stripMargin
    ) { (s, d) => batchCollisionCore(docs(s, d)) }
  )

  /** q246 core over any (doc_id, text) frame. Factored for crafted
    * collision laws (n copies of one text in a single batch collide all
    * C(n,2) pairs: coll_ppm 1e6; all-distinct texts have dup_pairs 0
    * and coll_ppm 0 at every batch size). */
  private[graft] def batchCollisionCore(
      d: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val sig = TextOps.minhashSignatures(d, Seq("doc_id"), "k")
      .localCheckpoint(true,
        org.apache.spark.storage.StorageLevel.DISK_ONLY)
    val n = sig.count()
    val asg = sig
      .withColumn("hb", call_function("md5_prefix64",
        concat(lit("bt|"), col("doc_id").cast("string"))))
      .withColumn("b", explode(typedLit(Seq(64L, 128L, 256L))))
      .withColumn("batch", expr(s"hb % ((${n}L + b - 1) div b)"))
    val totPairs = sig.groupBy("k0", "k1", "k2", "k3")
      .agg(count(lit(1)).as("m"))
      .agg(sum(expr("m * (m - 1) div 2")).as("dup_pairs"))
    asg.groupBy("b", "batch", "k0", "k1", "k2", "k3")
      .agg(count(lit(1)).as("m"))
      .groupBy("b")
      .agg(sum(expr("m * (m - 1) div 2")).as("in_batch"),
        countDistinct(when(col("m") >= 2, col("batch")))
          .as("batches_hit"))
      .crossJoin(broadcast(totPairs))
      .selectExpr("cast(b as long) as batch_size",
        s"(${n}L + b - 1) div b as n_batches",
        "cast(dup_pairs as long) as dup_pairs",
        "cast(in_batch as long) as in_batch",
        "cast(batches_hit as long) as batches_hit",
        "case when dup_pairs = 0 then 0L" +
          " else (in_batch * 1000000) div dup_pairs end as coll_ppm")
      .orderBy("batch_size")
  }

  /** Lower-median pick off a (source, value, count) histogram: the
    * k-th smallest with k = (n+1) div 2 — integer-exact and identical
    * in both engines. */
  private def histMedian(h: org.apache.spark.sql.DataFrame,
      n: org.apache.spark.sql.DataFrame, out: String)
      : org.apache.spark.sql.DataFrame = {
    val w = Window.partitionBy("source").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, -1)
    h.join(n, Seq("source"))
      .withColumn("below", coalesce(sum("c").over(w), lit(0L)))
      .filter(expr("below < (n + 1) div 2") &&
        expr("(n + 1) div 2 <= below + c"))
      .groupBy("source").agg(min("v").as(out))
  }

  /** q124/q125's temperature-sampled pick: the rows (doc_id, lang, ...) of
    * `corpus` that `Mixing.hashPicked` keeps under the sqrt-temperature
    * targets of its per-lang counts, grouped by `keys` into the `first`
    * aggregates, then picked (rows) and sum_ids (their doc_id sum),
    * ordered by `keys`. */
  private def sqrtPick(corpus: org.apache.spark.sql.DataFrame,
      keys: Seq[String], first: org.apache.spark.sql.Column*)
      : org.apache.spark.sql.DataFrame = {
    import graft.functions.Mixing
    val tgt = Mixing.sqrtTargets(
      corpus.groupBy("lang").agg(count(lit(1)).as("n")))
    val aggs = first ++ Seq(count(lit(1)).cast("long").as("picked"),
      sum(col("doc_id")).cast("long").as("sum_ids"))
    corpus.join(broadcast(tgt), "lang")
      .filter(Mixing.hashPicked(col("doc_id"), col("n"), col("target")))
      .groupBy(keys.head, keys.tail: _*)
      .agg(aggs.head, aggs.tail: _*)
      .orderBy(keys.head, keys.tail: _*)
  }

  /** (doc_id, w): one row per token of each document. */
  private[queries] def docWords(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    docs(s, d).select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("w"))

  /** (vec_id, qv): each embedding on the 1/64 grid, floor(x·64) per dim
    * as doubles (q163, q166; the oracles' `KCenterOracle`/`MmrOracle`). */
  private def gridVectors(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    emb(s, d).select(col("vec_id"), transform(col("embedding"),
      x => floor(x.cast("double") * 64).cast("double")).as("qv"))

  /** `documents` as `keys` plus n_words, n_distinct and q20, the Q20
    * distinct-word ratio n_distinct·2^20 div n_words (q147, q150, q152;
    * the oracles' `OracleSql.distinctQ20`). */
  private def distinctQ20(s: org.apache.spark.sql.SparkSession, d: String,
      keys: org.apache.spark.sql.Column*): org.apache.spark.sql.DataFrame = {
    val ws = TextOps.tokens(col("text"))
    Tables.documents(s, d).select(keys ++ Seq(
        size(ws).cast("long").as("n_words"),
        size(array_distinct(ws)).cast("long").as("n_distinct")): _*)
      .withColumn("q20", expr("(n_distinct * 1048576) div n_words"))
  }

  /** q234 core over any (source, n_chars) frame. Factored for crafted
    * median/MAD laws (odd/even counts, a planted mega-outlier). */
  private[graft] def madOutliersCore(
      d: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val h = d.groupBy(col("source"), col("n_chars").as("v"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint(true) // bounded histogram; four consumers
    val n = h.groupBy("source").agg(sum("c").as("n"))
    val med = histMedian(h, n, "med")
    val dh = h.join(med, Seq("source"))
      .groupBy(col("source"), abs(col("v") - col("med")).as("v"))
      .agg(sum("c").as("c"))
    val mad = histMedian(dh, n, "mad")
      .withColumnRenamed("mad", "madv")
    val outl = h.join(med, Seq("source")).join(mad, Seq("source"))
      .groupBy("source")
      .agg(sum(when(abs(col("v") - col("med")) > col("madv") * 5,
        col("c")).otherwise(0L)).as("n_out"))
    n.join(med, Seq("source")).join(mad, Seq("source"))
      .join(outl, Seq("source"))
      .select(col("source"), col("n").cast("long").as("n_docs"),
        col("med").cast("long").as("med"),
        col("madv").cast("long").as("mad"),
        col("n_out").cast("long").as("n_outliers"),
        expr("n_out * 1000000 div n").cast("long").as("outlier_ppm"))
      .orderBy("source")
  }

  /** q208 core over any (source, text) frame: overlapping 32/24 chunk
    * explode -> 60-bit chunk hashes -> chunk-store dup audit. Factored
    * for crafted-input laws (chunk-count/coverage under hand-built token
    * counts). */
  private[graft] def ragChunkStats(
      d: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    d.select(col("source"), TextOps.tokens(col("text")).as("ws"))
      .filter(size(col("ws")) > 0)
      .select(col("source"), col("ws"),
        explode(sequence(lit(0),
          greatest(size(col("ws")) - 9, lit(0)), lit(24))).as("st"))
      .select(col("source"),
        call_function("md5_prefix60",
          array_join(slice(col("ws"), col("st") + 1, lit(32)), " "))
          .as("hc"))
      .groupBy("hc")
      .agg(count(lit(1)).as("n"), countDistinct(col("source")).as("ns"))
      .agg(count(lit(1)).cast("long").as("n_hashes"),
        sum("n").cast("long").as("n_chunks"),
        sum(when(col("n") > 1L, col("n") - 1L).otherwise(0L))
          .cast("long").as("dup_chunks"),
        sum(when(col("ns") > 1L, 1L).otherwise(0L)).cast("long")
          .as("xsource_hashes"))

  /** q186 core, parameterized over the shard width: the two-phase global
    * running offset (bounded per-shard base table + intra-shard window)
    * must produce the SAME packing for ANY width — the physical split is
    * an implementation detail of avoiding a single-partition corpus
    * window. LateBatchLawsSpec asserts width-invariance directly; the
    * gate query picks the adaptive width. `t` needs (doc_id, lang, toks),
    * toks integer. */
  private[graft] def seqPack(t: org.apache.spark.sql.DataFrame,
      width: Long): org.apache.spark.sql.DataFrame = {
      val sharded = t.withColumn("shard", expr(s"doc_id div ${width}L"))
      val wSub = Window.orderBy("shard")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val bases = sharded.groupBy("shard")
        .agg(sum("toks").as("stot"))
        .withColumn("base", sum("stot").over(wSub) - col("stot"))
        .select("shard", "base")
      val wIn = Window.partitionBy("shard").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      sharded
        .join(broadcast(bases), Seq("shard"))
        .withColumn("cend", col("base") + sum("toks").over(wIn))
        .select(col("lang"), col("toks"),
          expr("(cend - toks) div 512").as("bin_first"),
          expr("(cend - 1) div 512").as("bin_last"))
        .groupBy("lang")
        .agg(count(lit(1)).cast("long").as("n_docs"),
          sum("toks").cast("long").as("n_tokens"),
          sum(when(col("bin_last") > col("bin_first"), 1L).otherwise(0L))
            .cast("long").as("crossers"),
          max(col("bin_last") - col("bin_first") + 1L).cast("long")
            .as("max_span"),
          max("bin_last").cast("long").as("last_bin"))
        .orderBy("lang")
  }
}

/** Unrolled DuckDB oracle for q166: quantize -> relevance vs the 3
  * probes -> top-12 candidates per probe -> 4 greedy MMR rounds as
  * chained CTEs (score = rel − running max-sim, ties on the smaller
  * vec_id; all-integer arithmetic).
  */
private object MmrOracle {
  private def dot(a: String, b: String): String =
    OracleSql.dot64(s"$a[i]", s"$b[i]")
  val sql: String = {
    val sb = new StringBuilder
    sb.append(s"""WITH q AS (
      |  SELECT vec_id, list_transform(embedding,
      |    x -> CAST(floor(CAST(x AS DOUBLE) * 64) AS BIGINT)) AS qv
      |  FROM embeddings),
      |pr AS (SELECT vec_id AS p, qv AS pqv FROM q WHERE vec_id < 3),
      |rel AS (
      |  SELECT p, c.vec_id AS cid, c.qv AS cqv,
      |    ${dot("pqv", "c.qv")} AS rel
      |  FROM pr, q c WHERE c.vec_id <> p),
      |cand AS (
      |  SELECT p, cid, cqv, rel FROM (
      |    SELECT *, row_number() OVER (PARTITION BY p
      |      ORDER BY rel DESC, cid) AS rk FROM rel) t WHERE rk <= 12),
      |s1 AS (
      |  SELECT p, cid, rel AS score, cqv FROM (
      |    SELECT *, row_number() OVER (PARTITION BY p
      |      ORDER BY rel DESC, cid) AS rk FROM cand) t WHERE rk = 1),
      |m1 AS (
      |  SELECT c.p, c.cid, c.cqv, c.rel,
      |    ${dot("c.cqv", "s1.cqv")} AS msim
      |  FROM cand c JOIN s1 ON s1.p = c.p AND c.cid <> s1.cid)"""
      .stripMargin)
    for (r <- 2 to 4) {
      sb.append(s""",
        |s$r AS (
        |  SELECT p, cid, rel - msim AS score, cqv FROM (
        |    SELECT *, row_number() OVER (PARTITION BY p
        |      ORDER BY rel - msim DESC, cid) AS rk FROM m${r - 1}) t
        |  WHERE rk = 1)""".stripMargin)
      if (r < 4) sb.append(s""",
        |m$r AS (
        |  SELECT c.p, c.cid, c.cqv, c.rel,
        |    greatest(c.msim, ${dot("c.cqv", s"s$r.cqv")}) AS msim
        |  FROM m${r - 1} c JOIN s$r ON s$r.p = c.p AND c.cid <> s$r.cid)"""
        .stripMargin)
    }
    sb.append("""
      |SELECT CAST(p AS BIGINT) AS probe, CAST(r AS BIGINT) AS sel_round,
      |  CAST(cid AS BIGINT) AS vec_id, CAST(score AS BIGINT) AS mmr_score
      |FROM (
      |  SELECT p, 1 AS r, cid, score FROM s1
      |  UNION ALL SELECT p, 2, cid, score FROM s2
      |  UNION ALL SELECT p, 3, cid, score FROM s3
      |  UNION ALL SELECT p, 4, cid, score FROM s4)
      |ORDER BY probe, sel_round""".stripMargin)
    sb.toString
  }
}

/** Lloyd round `r` of q118's oracle: CTE `a<r>`, each vector's nearest
  * centroid of `c<r-1>`, and `c<r>`, the new integer-sum centroids. */
private object LloydOracle {
  def round(r: Int): String = {
    val c = "(CAST(c.cnum[i] AS DOUBLE) / CAST(c.cden AS DOUBLE) / 10000.0)"
    s"""a$r AS (
       |  SELECT vec_id, sid FROM (
       |    SELECT e.vec_id, c.sid,
       |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |        ${OracleSql.l2Sq(OracleSql.scaled("e.v"), c)}, c.sid) AS rn
       |    FROM ei e CROSS JOIN c${r - 1} c) d WHERE rn = 1),
       |c$r AS (
       |  SELECT sid, list(s ORDER BY dim) AS cnum, max(n) AS cden FROM (
       |    SELECT a.sid, u.i AS dim, sum(e.v[u.i]) AS s, count(*) AS n
       |    FROM a$r a JOIN ei e USING (vec_id), range(1, 65) u(i)
       |    GROUP BY a.sid, u.i) t
       |  GROUP BY sid)""".stripMargin
  }
}

/** Unrolled DuckDB oracle for q163: the same greedy farthest-point
  * rounds as chained CTEs (seed = vec_id 0, argmax ties break on the
  * smaller vec_id, distances in exact integer arithmetic).
  */
private object KCenterOracle {
  def sql(rounds: Int): String = {
    val sb = new StringBuilder
    val d2 = OracleSql.dot64("(qv[i] - cv[i])", "(qv[i] - cv[i])")
    sb.append(
      s"""WITH q AS (
        |  SELECT vec_id, list_transform(embedding,
        |    x -> CAST(floor(CAST(x AS DOUBLE) * 64) AS BIGINT)) AS qv
        |  FROM embeddings),
        |c0 AS (SELECT qv AS cv FROM q WHERE vec_id = 0),
        |m1 AS (SELECT vec_id, qv, $d2 AS mind2
        |  FROM q, c0)""".stripMargin)
    for (r <- 2 to rounds) {
      sb.append(s""",
        |p${r - 1}x AS (SELECT vec_id FROM m${r - 1}
        |  ORDER BY mind2 DESC, vec_id LIMIT 1),
        |c${r - 1} AS (SELECT qv AS cv FROM q
        |  WHERE vec_id = (SELECT vec_id FROM p${r - 1}x)),
        |m$r AS (SELECT m${r - 1}.vec_id, m${r - 1}.qv,
        |  least(m${r - 1}.mind2, $d2) AS mind2
        |  FROM m${r - 1}, c${r - 1})""".stripMargin)
    }
    val picks = (1 to rounds).map { r =>
      s"""SELECT $r AS round, vec_id, mind2 FROM
         |  (SELECT vec_id, mind2 FROM m$r
         |   ORDER BY mind2 DESC, vec_id LIMIT 1)""".stripMargin
    }
    sb.append(s"""
      |SELECT CAST(round AS BIGINT) AS round,
      |  CAST(vec_id AS BIGINT) AS vec_id,
      |  CAST(mind2 AS BIGINT) AS radius2
      |FROM (${picks.mkString(" UNION ALL ")})
      |ORDER BY round""".stripMargin)
    sb.toString
  }
}
