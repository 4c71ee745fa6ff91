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

  /** `TextOps.shingles(ws, 3)`: the word 3-shingles of the word list `ws`,
    * each joined by one space. */
  def shingles3(ws: String): String =
    s"list_transform(range(1, len($ws) - 1),\n      i -> array_to_string($ws[i:i+2], ' '))"

  /** `TextOps.hashedShingles`: the distinct 8-nibble digests of the word
    * 3-shingles of `ws`. */
  def hashedShingles(ws: String): String =
    s"""list_distinct(list_transform(
       |    ${shingles3(ws)},
       |    s -> ${md5Int("s")}))""".stripMargin

  /** `TextOps.hashedShingleRows` over `documents`: CTE `shr(keys, s)`,
    * one row per word 3-shingle, then `hv(keys, h)` with h its 8-nibble
    * digest, duplicates kept. */
  def hashedShingleRows(keys: String): String =
    s"""shr AS (
       |  SELECT $keys, unnest(${shingles3("ws")}) AS s
       |  FROM (SELECT $keys, string_split(text, ' ') AS ws FROM documents) t),
       |hv AS (
       |  SELECT $keys,
       |    ${md5Int("s")} AS h
       |  FROM shr)""".stripMargin

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
    s"""list_sum(list_transform(range(1, $end),
       |      i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))"""
      .stripMargin

  /** `DedupQueries.Pq.subspaceDots`: CTEs `cent(cid, cv)`, the 8 seed
    * centroids, and `subdots(vec_id, cid, m, d)`, every vector's dot with
    * every centroid on each of the 4 16-dim subspaces. */
  val pqSubdots: String =
    """cent AS (SELECT vec_id AS cid, embedding AS cv
      |             FROM embeddings WHERE vec_id < 8),
      |subdots AS (
      |  SELECT e.vec_id, c.cid, m.m,
      |    list_sum(list_transform(range(1, 17),
      |      i -> CAST(e.embedding[m.m * 16 + i] AS DOUBLE) *
      |           CAST(c.cv[m.m * 16 + i] AS DOUBLE))) AS d
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

  /** `DedupQueries.Pq.adc`: the 4 subspace terms of `subdots`-shaped
    * columns `${q}m`/`${q}d` added in fixed order (a bare sum() would be
    * summation-order-nondeterministic cross-engine). */
  def pqSlotSum(q: String): String =
    (0 until 4).map(m => s"max(CASE WHEN ${q}m = $m THEN ${q}d END)")
      .mkString(" +\n    ")

  /** `Mixing.HashMul`/`HashMod`: the integer pick hash of id `x`, reduced
    * mod M before the multiply. */
  def mix(x: String): String = s"($x % 1000000007) * 2654435761 % 1000000007"
}
