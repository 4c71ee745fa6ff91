package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Large-scale training-data pipeline primitives: tokenization, shingling,
  * MinHash, SimHash, and embedding similarity — all pure Column expressions
  * (codegen'd, shuffle-free per row), so at 100 TB they run as a single
  * scan-project stage. The dedup/similarity *queries* built on these are in
  * `graft.queries.DedupQueries`.
  *
  * Beyond the reference's surface (it has no dedup/similarity ops); mandated
  * by the north star in BASELINE.json.
  */
object TextOps {

  private def dbl(c: Column): Column = c.cast("double")

  /** Whitespace tokens. */
  def tokens(text: Column): Column = split(text, " ")

  /** PII patterns (q120 + the streaming scrubber) — deliberately inside
    * the Java∩RE2 regex subset (character classes, bounded repetition,
    * \b, \d; no backrefs, no lookaround) so Spark and DuckDB/RE2 agree
    * byte-for-byte; replacements are group-free literals. */
  val EmailPat = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  val PhonePat = "\\d{3}-555-\\d{4}"
  val IpPat = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  /** (email, phone, ip) independent match counts, as long columns.
    * 6-regex-pass shape — retained ONLY as the spec-side cross-check
    * oracle for [[redactedSpanCounts]] (CurationSpec); production paths
    * (q120, piiRedactStream) use the 3-pass marker arithmetic. Note the
    * semantics differ on nested matches (an IP inside an email counts
    * here but is consumed by the email pass there) — the spec law holds
    * on non-nested inputs. */
  def piiCounts(text: Column): Seq[Column] = Seq(
    size(regexp_extract_all(text, lit(EmailPat), lit(0))).cast("long"),
    size(regexp_extract_all(text, lit(PhonePat), lit(0))).cast("long"),
    size(regexp_extract_all(text, lit(IpPat), lit(0))).cast("long"))

  /** Occurrences of a literal marker, by length-difference arithmetic —
    * codegen'd string ops, no regex. */
  def markerCount(text: Column, marker: String): Column =
    ((length(text) - length(replace(text, lit(marker), lit(""))))
      / marker.length).cast("long")

  /** Spans redacted for one marker type: markers in the REDACTED text
    * minus markers already present in the ORIGINAL — robust to input
    * that happens to carry a literal [EMAIL]/[PHONE]/[IP] (redaction
    * only ever ADDS markers, so the delta is exact). Gives the span
    * counts with 3 regex passes instead of 6; the residual caveat is
    * nested PII (an IP inside an email is consumed by the email pass,
    * so it counts as part of that email redaction, not as an IP) — the
    * honest "what did this pass replace" semantic for a scrubber. */
  def redactedSpanCounts(orig: Column, red: Column, marker: String): Column =
    markerCount(red, marker) - markerCount(orig, marker)

  /** All PII spans replaced by [EMAIL] / [PHONE] / [IP]. */
  def piiRedact(text: Column): Column =
    regexp_replace(regexp_replace(regexp_replace(text,
      EmailPat, "[EMAIL]"), PhonePat, "[PHONE]"), IpPat, "[IP]")

  /** Gopher-rule surface shared by q122 (per-rule bitmask form) and q125
    * (composed pipeline) so the thresholds live in ONE place on the Scala
    * side — the same no-drift treatment piiRedact gives the PII paths.
    * Stats: columns n_words, mwl (mean word length), sr (stopword
    * ratio) and ttr (type-token ratio); every value is an in-order
    * integer-valued sum over the token list, so both engines compute
    * bit-identical doubles and the rule comparisons can never straddle
    * an ulp. */
  val GopherStops: Seq[String] = Seq("the", "a", "of", "and", "to", "in", "is")
  def gopherStats(text: Column): Seq[Column] = {
    val ws = tokens(text)
    val n = size(ws)
    Seq(n.cast("long").as("n_words"),
      (aggregate(ws, lit(0.0), (a, x) => a + length(x).cast("double"))
        / n).as("mwl"),
      (size(filter(ws, x => x.isin(GopherStops: _*))).cast("double") / n)
        .as("sr"),
      (size(array_distinct(ws)).cast("double") / n).as("ttr"))
  }
  /** `f` of the [[tokens]] of column `text`, tokenized once
    * ([[ArrayOps.bindOnce]]). */
  def bindWords(f: Column => Column): Column =
    ArrayOps.bindOnce(tokens(col("text")))(f)
  /** The four rule booleans over the [[gopherStats]] columns n_words,
    * mwl, sr and ttr, bitmask order. */
  def gopherRules: Seq[Column] = Seq(
    col("n_words").between(20, 50000),
    col("mwl") >= 4.25 && col("mwl") <= 4.75,
    col("sr") >= 0.04,
    col("ttr") >= 0.35)

  /** Compression-ratio quality signal (deflate size / raw size) — the
    * Gopher/RefinedWeb-style repetitiveness filter: templated or looping
    * text compresses far below natural prose. Backed by the codegen'd
    * [[graft.plans.DeflateRatio]] expression (one Deflater per thread,
    * one call per document). */
  def compressionRatio(text: Column): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      graft.plans.DeflateRatio(
        org.apache.spark.sql.GraftColumnBridge.expression(text)))

  /** BPE-ish subword token count: runs of letters, runs of digits, or a
    * single other non-space char. */
  def bpeishCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0)))
      .cast("long")

  /** Word n-gram shingles joined by a single space. Empty when there are
    * fewer than n words. */
  def shingles(words: Column, n: Int): Column =
    // bindOnce: `words` is referenced inside the per-index lambda; without
    // the barrier an inline `split(text)` input is re-split per shingle
    // (O(words²) per doc — 6x slower on q51's pipeline at sf0.1)
    ArrayOps.bindOnce(words) { ws =>
      when(size(ws) < n, array().cast("array<string>"))
        .otherwise(transform(sequence(lit(1), size(ws) - (n - 1)),
          i => concat_ws(" ", slice(ws, i, lit(n)))))
    }

  /** The MinHash permutation family: k = 4 multiply-add permutations
    * `(h·a + b) mod P` over ONE codegen'd `md5_prefix64` digest per
    * shingle (no per-permutation re-hash, no hex strings). P is the
    * largest prime below 2^32, so with the 32-bit digest every product
    * stays far inside a Long. The oracle retypes these literals in
    * graft.queries.OracleSql.minhashPerm; q236's estimator mirrors its
    * own `(a·(x mod P) + b) mod P` form and takes only the constants. */
  private[graft] val MinhashP = 4294967291L
  private[graft] val MinhashPerms: Seq[(Long, Long)] = Seq(
    (1000003L, 12345L), (2000029L, 54321L),
    (3000073L, 98765L), (4000037L, 13579L))

  /** Permutation `i` of the digest `h` (a column or a lambda variable). */
  def minhashPerm(h: Column, i: Int): Column = {
    val (a, b) = MinhashPerms(i)
    (h * a + b) % MinhashP
  }

  /** The 4 signature aggregates over a per-shingle digest column `h`,
    * aliased `prefix0..3` — the exploded form, whose min gets map-side
    * combine. */
  def minhashAggs(h: Column, prefix: String): Seq[Column] =
    MinhashPerms.indices.map(i => min(minhashPerm(h, i)).as(s"$prefix$i"))

  /** Per-`keys` MinHash signatures (`prefix0..3`) of `df`'s `text`:
    * [[hashedShingleRows]] min-aggregated by [[minhashAggs]]. A text
    * with fewer than 3 words yields no row. */
  def minhashSignatures(df: org.apache.spark.sql.DataFrame,
      keys: Seq[String], prefix: String): org.apache.spark.sql.DataFrame = {
    val mh = minhashAggs(col("h"), prefix)
    hashedShingleRows(df, keys.map(col): _*)
      .groupBy(keys.map(col): _*).agg(mh.head, mh.tail: _*)
  }

  /** The exploded form of [[hashedShingles]], duplicates kept: one
    * (keys..., h) row per word 3-shingle of `df`'s `text`, h its
    * md5_prefix64 (a native kernel: direct byte->long, no hex-string
    * round trip). The digest runs in its own Project above the
    * Generate, codegen'd, where the HOF form would interpret it. */
  def hashedShingleRows(df: org.apache.spark.sql.DataFrame,
      keys: Column*): org.apache.spark.sql.DataFrame = {
    val rows = df.select(
      keys :+ explode(shingles(tokens(col("text")), 3)).as("sh"): _*)
    rows.select(rows.columns.init.map(col).toSeq :+
      call_function("md5_prefix64", col("sh")).as("h"): _*)
  }

  /** The distinct `md5_prefix64` digests of a text's word 3-shingles —
    * the set the MinHash signature and the Jaccard scorers read. Empty
    * when the text has fewer than 3 words. */
  def hashedShingles(text: Column): Column =
    array_distinct(transform(shingles(tokens(text), 3),
      sg => call_function("md5_prefix64", sg)))

  /** Value (0-15) of the hex digit of `h` at 1-based position `pos`. */
  private def hexDigitAt(h: Column, pos: Column): Column =
    conv(h.substr(pos, lit(1)), 16, 10).cast("int")

  /** Bit `b` (0-based, Column) of the first 4 hex digits of md5(word). */
  private def md5Bit(word: Column, b: Column): Column = {
    val digit = hexDigitAt(md5(word), floor(b.cast("double") / 4).cast("int") + 1)
    pmod(floor(dbl(digit) / pow(lit(2.0), pmod(b, lit(4)).cast("double"))).cast("int"),
      lit(2))
  }

  /** 16-bit SimHash over a token list: per bit, sum +/-1 votes from each
    * token's hash bit; set the bit when the vote is positive. */
  def simhash16(words: Column): Column = {
    def score(b: Column): Column =
      aggregate(words, lit(0), (acc, w) => acc + (md5Bit(w, b) * 2 - 1))
    aggregate(
      transform(sequence(lit(0), lit(15)),
        b => when(score(b) > 0, pow(lit(2.0), b.cast("double")).cast("long"))
          .otherwise(lit(0L))),
      lit(0L), (acc, x) => acc + x)
  }

  /** Dot product of two float-array columns, accumulated in double —
    * backed by the codegen'd [[graft.plans.DotProduct]] kernel (one fused
    * loop; the `aggregate(zip_with(...))` composition walks two
    * interpreted HOF lambdas and allocates the zipped array per row).
    * Identical float rounding: double casts, index-order accumulation. */
  def dot(a: Column, b: Column): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(graft.plans.DotProduct(
      GraftColumnBridge.expression(a), GraftColumnBridge.expression(b)))
  }

  /** L2 norm. */
  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity. */
  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Signed-random-projection-style LSH bucket from the signs of the first
    * `bits` vector components (axis-aligned hyperplanes — deterministic and
    * engine-independent; a production variant would use seeded random
    * planes). */
  def signBucket(vec: Column, bits: Int): Column =
    aggregate(
      transform(sequence(lit(0), lit(bits - 1)),
        i => when(element_at(vec, i + 1) > 0,
          pow(lit(2.0), i.cast("double")).cast("long")).otherwise(lit(0L))),
      lit(0L), (acc, x) => acc + x)

  /** Deterministic hyperplane coefficient for (plane j, dimension i): one
    * LCG step over the flattened index — pure integer arithmetic, so ANY
    * engine derives bit-identical planes (the cross-engine analogue of a
    * seeded RNG). Range [-50001, 50001], mean ~0. */
  def rpCoef(plane: Int, i: Int): Long =
    (1103515245L * (plane * 64L + i) + 12345L) % 100003L - 50001L

  /** True random-projection LSH bucket (Charikar SimHash for vectors):
    * bit j = sign of dot(vec, plane_j) with planes in general position —
    * P(bit differs) = angle(a,b)/pi, unlike [[signBucket]]'s axis-aligned
    * cuts which only test individual component signs. Sign decisions are
    * engine-exact: integer coefficients, double products, left-to-right
    * summation on both Spark and the DuckDB oracle. */
  def rpBucket(vec: Column, planes: Int, dim: Int): Column =
    (0 until planes).map { j =>
      val w = array((0 until dim).map(i => lit(rpCoef(j, i))): _*)
        .cast("array<double>")
      val d = dot(vec, w)
      when(d > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Int8 affine quantization of a float-array column (the vector-storage
    * compression step): returns struct(mn, sc, qs) where qs[i] =
    * round((x[i] - mn) / sc) in 0..255, or null qs when the vector is
    * constant (sc = 0 — guarded INSIDE the expression so round(NaN) can
    * never throw under ANSI). Dequantize with `mn + q * sc`. Every step is
    * an exactly-rounded IEEE double op, so results are engine-portable
    * (q104's DuckDB oracle recomputes them identically). Per-row,
    * shuffle-free; the mn/sc scalars are bindOnce-bound internally, but a
    * CALLER referencing the `qs` field inside a per-element lambda must
    * bindOnce it at the call site (as q104 does) — binding here cannot
    * prevent Catalyst inlining the field expression into the caller's
    * lambda. */
  def quantizeInt8(vec: Column): Column =
    ArrayOps.bindOnce(array_min(vec).cast("double")) { mn =>
      ArrayOps.bindOnce((array_max(vec).cast("double") - mn) / 255) { sc =>
        struct(mn.as("mn"), sc.as("sc"),
          when(sc > 0, transform(vec,
            x => round((x.cast("double") - mn) / sc).cast("long"))).as("qs"))
      }
    }

  /** Jaccard similarity of the distinct-element sets of two arrays. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    inter / size(array_union(a, b)).cast("double")
  }

  /** Content-defined chunk rows of a keyed text frame: one output row per
    * chunk with columns (idCol, chash, clen) — boundaries from the
    * codegen'd `cdc_cuts` kernel (plans/CdcCuts), chunk hash = md5 hex.
    * Shared by batch q143 and the streaming CDC dedup; requires
    * GraftExtensions on the session. The bounds array is materialized as
    * a REAL projected column between two Projects (not a lambda-bound
    * alias): that both guarantees the kernel runs once per row and
    * measures ~10% faster than the bindOnce barrier form. Map-side only,
    * no shuffle; works unchanged on a streaming DataFrame. */
  def cdcChunkRows(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String): org.apache.spark.sql.DataFrame =
    df.select(col(idCol), col(textCol).as("__t"),
        concat(array(lit(0L)), call_function("cdc_cuts", col(textCol)),
          array(length(col(textCol)).cast("long"))).as("__bs"))
      .select(col(idCol), explode(expr(
        "transform(sequence(0, size(__bs) - 2), j -> named_struct(" +
          "'chash', md5(substring(__t, CAST(element_at(__bs, j+1) + 1 AS INT), " +
          "CAST(element_at(__bs, j+2) - element_at(__bs, j+1) AS INT))), " +
          "'clen', element_at(__bs, j+2) - element_at(__bs, j+1)))")).as("__c"))
      .select(col(idCol), col("__c.chash").as("chash"),
        col("__c.clen").as("clen"))
}
