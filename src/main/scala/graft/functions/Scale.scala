package graft.functions

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The scale idioms the LSH / dedup pair factories, the top-k queries and
  * the iterative graph loops share, one home each:
  *  - [[topK]]: the top-k-per-group keep (row_number, `<= k`);
  *  - [[capPerBucket]]: the 256-per-bucket membership cap, pruned
  *    map-side, with its observed "rows dropped" metric;
  *  - [[bitLen]]: the data-derived bit width;
  *  - [[checkpointObserved]]: the one-action checkpoint that carries an
  *    observe().
  * The oracle SQL never calls into this object: it is the reference the
  * gate compares against, and code shared by both sides could carry one
  * bug past both (its kernel mirrors live in graft.queries.OracleSql). */
object Scale {

  private val Cap = 256

  /** Keep the first `k` rows of each `by` group in `order`: `row_number`
    * over partitionBy(by).orderBy(order), filtered `__rk <= k`. The rank
    * column `__rk` stays for callers that read it (drop or select it
    * away otherwise); `by = Nil` is one global window. The filter sits
    * directly on the window, so Spark rewrites the pair into a
    * WindowGroupLimit that prunes each partition to its local top k
    * BEFORE the exchange (the map-side pruned distributed top-k); a cast
    * or an observe() in between would block that. Its stream twin is
    * `EventStreams.topKStep`. */
  def topK(df: DataFrame, by: Seq[String], order: Seq[Column],
      k: Int): DataFrame =
    df.withColumn("__rk", row_number().over(
        Window.partitionBy(by.map(col): _*).orderBy(order: _*)))
      .filter(col("__rk") <= k)

  /** Keep the lowest-`order` 256 rows of each `by` bucket.
    *
    * Without the cap, a pathological mega-cluster (one boilerplate
    * shingle, one near-duplicate family) turns its bucket into an O(m²)
    * pair factory for the self-join or the collect_list gather that
    * follows. The keep is deterministic (row_number by `order`), so the
    * oracle models the same cut.
    *
    * The keep is [[topK]] with k = 257, so every bucket is pruned
    * map-side to its local top 257 BEFORE the exchange (WindowGroupLimit
    * partial + final): a hot bucket is cut before the shuffle. The
    * `metric` observed metric (`max_rank`) is the largest rank that
    * reached it: 257 exactly when some bucket lost a row, at most 256
    * when the cap did not engage. The second filter then cuts the 257th
    * row.
    *
    * A self-join must alias THIS frame twice: identical sides let Spark
    * reuse the scan→bucket→window exchange across build and probe, while
    * a per-side observe() makes the sides differ and doubles the upstream
    * work (measured 2x on q88). `max` is idempotent, so the metric stays
    * exact when both sides of the reused exchange feed it. */
  def capPerBucket(df: DataFrame, metric: String, by: Seq[String],
      order: Seq[String]): DataFrame =
    topK(df, by, order.map(col), Cap + 1)
      .observe(metric, max(col("__rk")).as("max_rank"))
      .filter(col("__rk") <= Cap).drop("__rk")

  /** bitlen(max(1, n - 1)): the bit width of the largest 0-based index
    * into n items, at least 1. The adaptive LSH/shingle widths derive
    * from it so bucket occupancy tracks corpus size instead of filling a
    * fixed 2^w bucket space (the `% 256` trap). The oracle mirrors it as
    * `length(bin(count(*) - 1))`, integer-exact in both engines. The
    * clamp matters at n <= 1: `bin(0)` is "0" (width 1), while
    * `64 - numberOfLeadingZeros(0)` is 0. */
  def bitLen(n: Long): Int =
    64 - java.lang.Long.numberOfLeadingZeros(math.max(1L, n - 1))

  /** One eager localCheckpoint of `df` that also yields the `metrics`
    * aggregates: CollectMetrics accumulates while the checkpoint
    * materializes, so a loop's convergence or emptiness test costs no
    * second driver action (the separate `.agg(...).head` job was about
    * half of q92's wall-clock). Every metric must be a named long
    * aggregate; a null result (sum or bit_xor over no rows) reads 0. */
  def checkpointObserved(df: DataFrame,
      metrics: Column*): (DataFrame, Map[String, Long]) = {
    val obs = Observation()
    val out = df.observe(obs, metrics.head, metrics.tail: _*)
      .localCheckpoint(true)
    (out, obs.get.map { case (k, v) =>
      k -> (if (v == null) 0L else v.asInstanceOf[Long]) })
  }
}
