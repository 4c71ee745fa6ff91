package graft.queries

/** The DuckDB text of the engine kernels the oracles mirror, one home per
  * kernel. Every member returns oracle SQL only — no Spark plan parses
  * it — and its doc names the Spark twin it mirrors. The oracle stays
  * independent of the Spark side: constants are retyped here, never read
  * from the engine, so one bug cannot ride both engines past the gate.
  *
  * A call site interpolates a member only when its SQL tokens equal the
  * member's output exactly (whitespace aside); a site whose form differs
  * in any token keeps its own text. */
private[queries] object OracleSql {

  /** md5 hex digits `from until to` of `e` as a BIGINT, each digit decoded
    * by strpos and weighted in doubles (integer-exact below 2^53). */
  private def md5Digits(e: String, from: Int, to: Int): String =
    s"""CAST(list_sum(list_transform(range($from, $to),
       |      j -> (strpos('0123456789abcdef', substr(md5($e), j, 1)) - 1)
       |           * 16.0 ** (${to - 1} - j))) AS BIGINT)""".stripMargin

  /** `md5_prefix64` (plans/Md5Prefix64): the first `nibbles` md5 hex
    * digits of `e` as a non-negative BIGINT — 8 nibbles is the 32-bit
    * digest the shingle hashes and bucket picks use. */
  def md5Int(e: String, nibbles: Int = 8): String = md5Digits(e, 1, nibbles + 1)

  /** `md5_prefix60` (plans/Md5Prefix64): 7 + 8 nibbles, each half
    * integer-exact in doubles, recombined in BIGINT (< 2^60). */
  def md560(e: String): String =
    s"${md5Digits(e, 1, 8)} * 4294967296\n    + ${md5Digits(e, 8, 16)}"

  /** `TextOps.shingles(ws, n)`: the word n-shingles of the word list `ws`,
    * each joined by one space. */
  def shingles(ws: String, n: Int = 3): String =
    s"list_transform(range(1, len($ws) - ${n - 2}),\n      i -> array_to_string($ws[i:i+${n - 1}], ' '))"

  /** `TextOps.shingles(ws, 2)` posexploded: one row per word bigram `b`
    * of `ws`, with `w1` its first word. */
  val bigramRows: String =
    """unnest(list_transform(range(1, len(ws)),
      |      i -> ws[i] || ' ' || ws[i+1])) AS b,
      |    unnest(list_transform(range(1, len(ws)), i -> ws[i])) AS w1"""
      .stripMargin

  /** `TextOps.hashedShingles`: the distinct 8-nibble digests of the word
    * 3-shingles of `ws`. */
  def hashedShingles(ws: String): String =
    s"""list_distinct(list_transform(
       |    ${shingles(ws)},
       |    s -> ${md5Int("s")}))""".stripMargin

  /** `TextOps.hashedShingleRows` over `documents`: CTE `shr(keys, s)`,
    * one row per word 3-shingle, then `hv(keys, h)` with h its 8-nibble
    * digest, duplicates kept. */
  def hashedShingleRows(keys: String): String =
    s"""shr AS (
       |  SELECT $keys, unnest(${shingles("ws")}) AS s
       |  FROM (SELECT $keys, string_split(text, ' ') AS ws FROM documents) t),
       |hv AS (
       |  SELECT $keys,
       |    ${md5Int("s")} AS h
       |  FROM shr)""".stripMargin

  /** [[hashedShingles]] per document: CTE `hs(doc_id, sh)`, the words
    * split inline. */
  val shingleSets: String =
    s"""hs AS (
       |  SELECT doc_id, ${hashedShingles("ws")} AS sh
       |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents) i)"""
      .stripMargin

  /** [[hashedShingles]] per document over a words CTE: `ws(doc_id, ws)`,
    * then `hs(doc_id, sh)`. */
  val wordShingleSets: String =
    s"""ws AS (
       |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       |hs AS (
       |  SELECT doc_id, ${hashedShingles("ws")} AS sh
       |  FROM ws)""".stripMargin

  /** CTE `uni(hw, cu)`: the count of each word of CTE `tok(ws)`, keyed by
    * its [[md560]] digest (`md5_prefix60` of the exploded words). */
  val unigramCounts: String =
    s"""uni AS (SELECT ${md560("w")} AS hw, count(*) AS cu FROM
       |        (SELECT unnest(ws) AS w FROM tok) GROUP BY 1)""".stripMargin

  /** The Q20 distinct-word ratio of `text`: distinct words · 2^20 div
    * words, the integer floor division of q150/q152's
    * `(n_distinct * 1048576) div n_words`. */
  val distinctQ20: String =
    """(CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
      |      * 1048576)
      |      // CAST(len(string_split(text, ' ')) AS BIGINT)""".stripMargin

  private val MinhashPerms = Seq((1000003L, 12345L), (2000029L, 54321L),
    (3000073L, 98765L), (4000037L, 13579L))

  /** `TextOps.minhashPerm`: permutation `i` of the digest `h`,
    * `(a·h + b) mod P` with P the largest prime below 2^32. */
  def minhashPerm(h: String, i: Int): String = {
    val (a, b) = MinhashPerms(i)
    s"($a * $h + $b) % 4294967291"
  }

  /** `TextOps.minhashAggs`: the 4 signature minima over `h`, aliased
    * `prefix0..3`. */
  def minhashAggs(h: String, prefix: String): String =
    MinhashPerms.indices
      .map(i => s"min(${minhashPerm(h, i)}) AS $prefix$i")
      .mkString(",\n    ")

  /** The undirected edge CTE `und(src, dst)` over the `(id_a, id_b)`
    * edge CTE `edges` — the input `GraphOps.connectedComponents` reads. */
  def und(edges: String): String =
    s"""und AS (SELECT id_a AS src, id_b AS dst FROM $edges
       |        UNION ALL SELECT id_b, id_a FROM $edges)""".stripMargin

  /** `GraphOps.connectedComponents`: the recursive CTE `reach(id, r)` over
    * `und`, every node paired with every node it reaches; `min(r)` per id
    * is the component label. Needs `WITH RECURSIVE`. */
  val reach: String =
    """reach(id, r) AS (
      |  SELECT src, src FROM (SELECT DISTINCT src FROM und) t
      |  UNION
      |  SELECT u.src, rc.r FROM und u JOIN reach rc ON rc.id = u.dst)"""
      .stripMargin

  /** `dot_product` (plans/DotProduct, `TextOps.dot`): Σ a[i]·b[i] over
    * every position of `a`, each factor cast to DOUBLE and summed in
    * index order, as the kernel folds. */
  def dot(a: String, b: String): String = dotTo(a, b, s"len($a) + 1")

  /** [[dot]] over the first `n` positions only (a prefix slice). */
  def dot(a: String, b: String, n: Int): String = dotTo(a, b, s"${n + 1}")

  private def dotTo(a: String, b: String, end: String): String =
    sumOf(end, s"CAST($a[i] AS DOUBLE)", s"CAST($b[i] AS DOUBLE)")

  /** Σ x·y over i in [1, end), x and y expressions of the index i. */
  private def sumOf(end: String, x: String, y: String): String =
    s"list_sum(list_transform(range(1, $end),\n      i -> $x * $y))"

  /** `dot_product` of two 64-dim vectors, given per dimension as
    * expressions `x`, `y` of the index i (e.g. `a.v[i]`, [[scaled]]). */
  def dot64(x: String, y: String): String = sumOf("65", x, y)

  /** `embedding` as scaled ints, round(x·1e4) as BIGINT per dim. */
  val scaledInts: String = "list_transform(embedding,\n" +
    "      x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT))"

  /** Dim i of the scaled-int vector `v` back in embedding units. */
  def scaled(v: String): String = s"(CAST($v[i] AS DOUBLE) / 10000.0)"

  /** Squared L2 |x − y|² as x·x − 2·x·y + y·y ([[dot64]] terms), the
    * `dot_product` identity of q118's `assign` and q206. */
  def l2Sq(x: String, y: String): String =
    s"${dot64(x, x)}\n    - 2 * ${dot64(x, y)}\n    + ${dot64(y, y)}"

  /** `RankKey.rq`: [[dot]] quantized to round(dot·1e4) as BIGINT. */
  def rq(a: String, b: String): String =
    s"CAST(round(${dot(a, b)}\n      * 10000) AS BIGINT)"

  /** `round(TextOps.cosine(a, b), 4) + 0`: [[dot]] over the two L2 norms,
    * each Σ x² over the whole vector. */
  def cosine(a: String, b: String): String = {
    def norm(v: String) = s"sqrt(list_sum(list_transform($v,\n" +
      "           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
    s"round(${dot(a, b)}\n      / (${norm(a)}\n       * ${norm(b)}), 4) + 0"
  }

  /** The rank of `Scale.topK(scored, qid, (rcos DESC, vec_id))`: CTE
    * `ranked(qid, vec_id, rcos, rn)` over `scored(qid, vec_id, rcos)`. */
  val rcosRanked: String =
    """ranked AS (
      |  SELECT qid, vec_id, rcos,
      |    row_number() OVER (PARTITION BY qid ORDER BY rcos DESC, vec_id) AS rn
      |  FROM scored)""".stripMargin

  /** `TextOps.signBucket(embedding, bits)`: bit i set where dim i + 1 of
    * `embedding` is positive, over the first `bits` dims. */
  def signBucket(bits: String): String =
    s"""CAST(list_sum(list_transform(range(0, $bits), i ->
       |      CASE WHEN embedding[i + 1] > 0 THEN 1 << i ELSE 0 END)) AS BIGINT)"""
      .stripMargin

  /** `DedupQueries.Pq.subspaceDots`: CTEs `cent(cid, cv)`, the 8 seed
    * centroids, and `subdots(vec_id, cid, m, d)`, every vector's dot with
    * every centroid on each of the 4 16-dim subspaces. */
  val pqSubdots: String =
    s"""cent AS (SELECT vec_id AS cid, embedding AS cv
      |             FROM embeddings WHERE vec_id < 8),
      |subdots AS (
      |  SELECT e.vec_id, c.cid, m.m,
      |    ${sumOf("17", "CAST(e.embedding[m.m * 16 + i] AS DOUBLE)",
                   "CAST(c.cv[m.m * 16 + i] AS DOUBLE)")} AS d
      |  FROM embeddings e, cent c, (SELECT unnest(range(0, 4)) AS m) m)"""
      .stripMargin

  /** `DedupQueries.Pq.codeAggs`: CTE `codes(vec_id, m, cid)`, each
    * subspace's argmax-dot centroid over `subdots`, ties to the smaller
    * cid. */
  val pqCodes: String =
    """codes AS (
      |  SELECT vec_id, m, cid FROM (
      |    SELECT vec_id, m, cid,
      |      row_number() OVER (PARTITION BY vec_id, m
      |                         ORDER BY d DESC, cid) AS rn
      |    FROM subdots) t WHERE rn = 1)""".stripMargin

  /** `DedupQueries.Pq.lutArr`: CTE `lut(qid, m, cid, d)`, the `subdots`
    * rows of the probe vectors `qids` (a comma list). */
  def pqLut(qids: String): String =
    s"""lut AS (
       |  SELECT s.vec_id AS qid, s.m, s.cid, s.d FROM subdots s
       |  WHERE s.vec_id IN ($qids))""".stripMargin

  /** `DedupQueries.Pq.adc`: the 4 subspace terms of `subdots`-shaped
    * columns `${q}m`/`${q}d` added in fixed order (a bare sum() would be
    * summation-order-nondeterministic cross-engine). */
  def pqSlotSum(q: String): String =
    (0 until 4).map(m => s"max(CASE WHEN ${q}m = $m THEN ${q}d END)")
      .mkString(" +\n    ")

  /** `DedupQueries.Pq.rescoreTop5` over CTE `adc(qid, vec_id, adc)`: CTE
    * `top5`, then the final SELECT re-scoring it by the exact dot. */
  val pqRescoreTop5: String =
    s"""top5 AS (
       |  SELECT qid, vec_id AS cand_id, adc FROM (SELECT qid, vec_id, adc,
       |    row_number() OVER (PARTITION BY qid ORDER BY adc DESC, vec_id) AS rn
       |    FROM adc) t WHERE rn <= 5)
       |SELECT t.qid, t.cand_id AS vec_id, round(t.adc, 4) + 0 AS adc_dot,
       |  round(${dot("e.embedding", "q.embedding")}, 4) + 0 AS exact_dot
       |FROM top5 t
       |JOIN embeddings e ON e.vec_id = t.cand_id
       |JOIN embeddings q ON q.vec_id = t.qid
       |ORDER BY qid, adc_dot DESC, vec_id""".stripMargin

  /** `DedupQueries.minhashPairs`' banding over `hv(doc_id, h)`: CTEs
    * `sig` (minima k0..k3), `braw`/`bands` (buckets capped at 256 by
    * doc_id) and `cand(id_a, id_b)`, the same-bucket pairs. */
  val minhashBands: String =
    s"""sig AS (SELECT doc_id, ${minhashAggs("h", "k")}
       |  FROM hv GROUP BY doc_id),
       |braw AS (SELECT doc_id, unnest([0, 1, 2, 3]) AS band,
       |  unnest([k0, k1, k2, k3]) AS key FROM sig),
       |bands AS (SELECT doc_id, band, key FROM (SELECT doc_id, band, key,
       |    row_number() OVER (PARTITION BY band, key ORDER BY doc_id) AS rk
       |  FROM braw) t WHERE rk <= 256),
       |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id)"""
      .stripMargin

  /** `minhashPairs`' verify: `sig` rows `sa`, `sb` agree on >= 2 of 4. */
  val minhashAgree: String =
    MinhashPerms.indices
      .map(i => s"CASE WHEN sa.k$i = sb.k$i THEN 1 ELSE 0 END")
      .mkString("(", " +\n       ", ") >= 2")

  /** Each vector's cells in `from(vec_id, cid, dot)` ranked as `rn` by
    * `key` DESC, ties to the smaller cid. */
  private def cellRank(key: String, from: String): String =
    s"""SELECT vec_id, cid,
       |      row_number() OVER (PARTITION BY vec_id
       |        ORDER BY $key DESC, cid) AS rn
       |    FROM $from""".stripMargin

  /** `DedupQueries.RankKey.nearestCell` on `ivfEvalSeeds`: CTEs `cent`,
    * `probes`, `dots` and `assign(vec_id, cid)` by the rounded dot. */
  val ivfAssign: String =
    s"""cent AS (SELECT vec_id AS cid, embedding AS cv
       |  FROM embeddings WHERE vec_id < 8),
       |probes AS (SELECT vec_id AS qid, embedding AS qv
       |  FROM embeddings WHERE vec_id >= 10 AND vec_id < 18),
       |dots AS (SELECT e.vec_id, c.cid, ${dot("e.embedding", "c.cv")} AS dot
       |  FROM embeddings e, cent c),
       |assign AS (SELECT vec_id, cid FROM (
       |    ${cellRank("CAST(round(dot * 10000) AS BIGINT)", "dots")}) t
       |  WHERE rn = 1)""".stripMargin

  /** The IVF front of q58/q167 over `dots(vec_id, cid, dot)`: CTEs
    * `assign(vec_id, cid)`, each vector's best-dot cell, and
    * `probes(qid, cid)`, the 2 best cells of each vector in `qids` (a
    * comma list). */
  def ivfProbes(dots: String, qids: String): String =
    s"""assign AS (
       |  SELECT vec_id, cid FROM (
       |    ${cellRank("dot", dots)}) t WHERE rn = 1),
       |probes AS (
       |  SELECT vec_id AS qid, cid FROM (
       |    ${cellRank("dot", s"$dots WHERE vec_id IN ($qids)")}) t
       |  WHERE rn <= 2)""".stripMargin

  /** CTE `name(qid, vec_id)` over [[ivfProbes]]: the vectors of each
    * probe's cells, the probe itself excluded. */
  def cellCand(name: String): String =
    s"""$name AS (
       |  SELECT p.qid, a.vec_id FROM probes p
       |  JOIN assign a ON a.cid = p.cid AND a.vec_id != p.qid)""".stripMargin

  /** `RankKey.bottomK(10)` over `sc`: CTE `name`, the 10 largest `key`. */
  def scTop10(name: String, key: String): String =
    s"""$name AS (SELECT qid, vec_id FROM sc
       |  QUALIFY row_number() OVER (PARTITION BY qid
       |    ORDER BY $key DESC, vec_id) <= 10)""".stripMargin

  /** The recall columns over the top-10 `bf` rows joined to a top-10
    * list: `hits` = how many carry a `hit` id, and recall_ppm
    * (`RankKey.recall`'s tail). */
  def recallCounts(hit: String): String =
    s"""CAST(count($hit) AS BIGINT) AS hits,
       |  CAST(count($hit) * 100000 AS BIGINT) AS recall_ppm""".stripMargin

  /** The SQ scoring of q233/q257 (`DedupQueries.sqRanges`, `sqQuantize`,
    * `sqKey`): CTEs `rng`/`rr` (per-dim ranges), `qz` (column q<b> per bit
    * width b of `dots`), `probes`, `pq`, `sc(qid, vec_id, rq, alias...)`
    * with each width's quantized dot, and `bf`, the exact top 10. */
  def sqScored(dots: Seq[(Int, String)]): String =
    s"""rng AS (SELECT i, min(embedding[i + 1]) AS mn,
       |    max(embedding[i + 1]) AS mx
       |  FROM embeddings, range(0, 64) r(i) GROUP BY i),
       |rr AS (SELECT list(mn ORDER BY i) AS mns, list(mx ORDER BY i) AS mxs
       |  FROM rng),
       |qz AS (SELECT e.vec_id, ${dots.map { case (b, _) =>
              s"${sqQuantize((1 << b) - 2)} AS q$b" }.mkString(",\n    ")}
       |  FROM embeddings e, rr),
       |probes AS (SELECT vec_id AS qid, embedding AS qv
       |  FROM embeddings WHERE vec_id >= 10 AND vec_id < 26),
       |pq AS (SELECT q.vec_id AS qid,
       |    ${dots.map { case (b, _) => s"q.q$b AS pq$b" }.mkString(", ")}
       |  FROM qz q JOIN probes p ON p.qid = q.vec_id),
       |sc AS (SELECT p.qid, e.vec_id,
       |    CAST(round(${dot("e.embedding", "p.qv", 64)} * 10000) AS BIGINT) AS rq,
       |    ${dots.map { case (b, a) =>
              s"CAST(${dot(s"z.q$b", s"w.pq$b", 64)} AS BIGINT) AS $a" }
              .mkString(",\n    ")}
       |  FROM probes p JOIN embeddings e ON e.vec_id != p.qid
       |  JOIN qz z ON z.vec_id = e.vec_id JOIN pq w ON w.qid = p.qid),
       |${scTop10("bf", "rq")}""".stripMargin

  /** `sq_quantize` (plans/SqQuantize) of `e.embedding` onto `levels` + 1
    * steps of its `rr` range, centred on 0; a flat dim maps to 0. */
  private def sqQuantize(levels: Int): String =
    s"""list_transform(range(1, 65), i -> CASE WHEN rr.mxs[i] > rr.mns[i] THEN
       |        CAST(round((CAST(e.embedding[i] AS DOUBLE) - rr.mns[i])
       |          * $levels / (rr.mxs[i] - rr.mns[i])) AS BIGINT) - ${levels / 2}
       |      ELSE 0 END)""".stripMargin

  /** `cdc_cuts` (plans/CdcCuts): CTEs `ch`, `h` (16-wide rolling code sum)
    * and `cuts(doc_id, cut)`, left open for the caller's boundary rows. */
  val cdcCuts: String =
    """ch AS (
      |  SELECT doc_id, i, unicode(text[i]) AS code, length(text) AS n
      |  FROM documents, unnest(range(1, length(text)+1)) AS t(i)
      |), h AS (
      |  SELECT doc_id, i, n, sum(code) OVER (PARTITION BY doc_id ORDER BY i
      |      ROWS BETWEEN 15 PRECEDING AND CURRENT ROW) AS hsum
      |  FROM ch
      |), cuts AS (
      |  SELECT doc_id, CAST(i AS BIGINT) AS cut FROM h
      |  WHERE i >= 16 AND i < n AND (hsum * 2654435761) % 64 = 0"""
      .stripMargin

  /** `TextOps.gopherStats` over the word list `ws`: n_words, mwl, sr, ttr. */
  val gopherStats: String =
    """CAST(len(ws) AS BIGINT) AS n_words,
      |  list_sum(list_transform(ws, x -> CAST(length(x) AS DOUBLE)))
      |    / len(ws) AS mwl,
      |  CAST(len(list_filter(ws,
      |    x -> x IN ('the','a','of','and','to','in','is'))) AS DOUBLE)
      |    / len(ws) AS sr,
      |  CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws) AS ttr""".stripMargin

  /** `Mixing.sqrtTargets` over CTE `c(lang, n)`: CTEs `<w>` (wt =
    * floor(√n)), `tot` and `tgt(lang, n, target)`. */
  def sqrtTargets(w: String): String =
    s"""$w AS (SELECT lang, n,
       |  CAST(floor(sqrt(CAST(n AS DOUBLE))) AS BIGINT) AS wt FROM c),
       |tot AS (SELECT CAST(sum(wt) AS BIGINT) AS z,
       |  CAST(sum(n) AS BIGINT) AS ntot FROM $w),
       |tgt AS (SELECT lang, n, (t.ntot // 2) * $w.wt // t.z AS target
       |  FROM $w, tot t)""".stripMargin

  /** `Mixing.HashMul`/`HashMod`: the integer pick hash of id `x`, reduced
    * mod M before the multiply. */
  def mix(x: String): String = s"($x % 1000000007) * 2654435761 % 1000000007"
}
