package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed EXACT quantiles with O(1) task state.
  *
  * Spark's built-in `percentile` is a TypedImperativeAggregate that buffers
  * EVERY value of the group in the aggregation buffer — with few groups
  * (e.g. 3 `l_returnflag` values over a 100 TB `lineitem`) each final-agg
  * task would hold billions of doubles: executor OOM. This helper computes
  * the same interpolated quantile (`quantile_cont` semantics, h = (n-1)q)
  * as pure shuffle machinery instead:
  *
  *   1. a per-(group, value) count — an ordinary partial+final
  *      HashAggregate, so the map side combines duplicates BEFORE the
  *      shuffle (for a 50-distinct-value column over 100 TB the exchange
  *      carries ~50 rows per group per task, not the table);
  *   2. one window over the (group, value) HISTOGRAM — running count and
  *      per-group total — ordered by value; the window's input is the
  *      distinct-value set, never the raw rows;
  *   3. the two bracketing ranks floor(h)/ceil(h) located by
  *      [cum_prev, cum) interval containment and linearly interpolated.
  *
  * Every stage is a HashAggregate / small sort / shuffle with bounded
  * state, so the plan survives any group size; a worst-case all-distinct
  * column degenerates to the sorted-rank form, never worse. Interpolation
  * arithmetic is the same `v_lo + frac * (v_hi - v_lo)` both Spark's
  * `percentile` and DuckDB's `quantile_cont` use, so oracle parity is
  * preserved.
  */
object Quantiles {

  /** Exact interpolated quantiles of `valueCol` per `groupCol`, one output
    * column per `(name, q)`. Nulls are excluded (as in `percentile` /
    * `quantile_cont`); a group with zero non-null values disappears. */
  def groupQuantilesCont(df: DataFrame, groupCol: String, valueCol: String,
      qs: Seq[(String, Double)]): DataFrame =
    groupQuantilesContMulti(df, groupCol, Seq(valueCol -> qs))

  /** Multi-column form: quantiles of SEVERAL value columns in ONE pass —
    * one scan, one partial+final histogram aggregate (values posexploded
    * to (group, column-index, value) rows), one window exchange
    * partitioned by (group, index), one final agg, no join. q16's
    * two-call form paid a second full scan+agg of lineitem for its second
    * column (measured ~2x the single-pass cost at sf0.1). */
  def groupQuantilesContMulti(df: DataFrame, groupCol: String,
      specs: Seq[(String, Seq[(String, Double)])]): DataFrame = {
    require(specs.nonEmpty && specs.forall(_._2.nonEmpty) &&
      specs.forall(_._2.forall { case (_, q) => q >= 0.0 && q <= 1.0 }))
    val named = specs.zipWithIndex.flatMap { case ((_, qs), wi) =>
      qs.map { case (name, q) => (wi, name, q) }
    }
    histogramQuantiles(df, groupCol,
      specs.map { case (v, _) => col(v).cast("double") }, named, Nil)
  }

  /** The shared core: posexplode the `lanes` to (group, lane, value)
    * rows, count them in one partial+final histogram aggregate, then
    * locate each quantile's two bracketing ranks with two windows over
    * the histogram and interpolate. `named` lists (lane, output name, q);
    * `extra` adds (output name, aggregate) pairs evaluated over the same
    * histogram rows in the final per-group aggregate. */
  private def histogramQuantiles(df: DataFrame, groupCol: String,
      lanes: Seq[Column], named: Seq[(Int, String, Double)],
      extra: Seq[(String, Column)]): DataFrame = {
    val hist = df
      .select(col(groupCol), posexplode(array(lanes: _*)).as(Seq("__w", "__v")))
      .filter(col("__v").isNotNull)
      .groupBy(col(groupCol), col("__w"), col("__v"))
      .agg(count(lit(1)).as("__c"))
    // running count up to and including __v, and the per-(group, lane)
    // total — two frames over ONE partitioning, so a single exchange +
    // sort of the histogram feeds both
    val wCum = Window.partitionBy(groupCol, "__w").orderBy("__v")
    val wAll = Window.partitionBy(groupCol, "__w")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val cum = hist
      .withColumn("__cum", sum(col("__c")).over(wCum))
      .withColumn("__n", sum(col("__c")).over(wAll))
    // 0-based rank k lives at value __v iff __cum - __c <= k < __cum;
    // exactly one histogram row matches, so min(when(...)) is "pick it"
    val aggs = named.flatMap { case (wi, name, q) =>
      val isW = col("__w") === wi
      val hh = (col("__n") - 1).cast("double") * lit(q)
      def pick(k: Column) = min(when(isW &&
        (col("__cum") - col("__c")).cast("double") <= k &&
        k < col("__cum").cast("double"), col("__v")))
      Seq(
        pick(floor(hh)).as(s"__lo_$name"),
        pick(ceil(hh)).as(s"__hi_$name"),
        min(when(isW, col("__n"))).as(s"__n_$name"))
    } ++ extra.map { case (out, agg) => agg.as(out) }
    val picked = cum.groupBy(groupCol).agg(aggs.head, aggs.tail: _*)
    val outs = named.map { case (_, name, q) =>
      val n = col(s"__n_$name")
      val hh = (n - 1).cast("double") * lit(q)
      val frac = hh - floor(hh)
      (col(s"__lo_$name") + frac * (col(s"__hi_$name") - col(s"__lo_$name")))
        .as(name)
    } ++ extra.map { case (out, _) => col(out) }
    picked.select(col(groupCol) +: outs: _*)
  }

  /** Exact quantiles of `valueCol` PLUS exact distinct counts of
    * `distinctCols`, all per `groupCol`, from ONE scan — the q91 fusion.
    *
    * Why not `groupBy.agg(countDistinct, countDistinct, sketches…)`:
    * Spark rewrites multi-distinct through Expand, and the partial
    * aggregate then keys by (group, distinct-values, gid) — every
    * imperative agg in the same groupBy (HLL, QuantileSummaries)
    * allocates its buffer PER DISTINCT GROUP, i.e. ~|distinct partkey|
    * sketch objects instead of |groups| (measured 5.4 s vs 2.1 s at
    * sf0.1 on q91). Here the distinct columns instead ride the quantile
    * HISTOGRAM as extra posexplode lanes: the (group, lane, value)
    * partial+final HashAggregate dedups them map-side, the quantile
    * window ignores the extra lanes (they add |distinct| rows to a sort
    * that is already |distinct-value|-scale), and the final per-group
    * aggregate counts lane rows — `count(distinct x)` is exactly "rows
    * of the (group, x) histogram". Pure codegen HashAggregates, no
    * Expand, no per-distinct sketch buffers, bounded state at any group
    * size. Distinct values must be exact in DOUBLE (ids < 2^53). */
  def groupQuantilesAndDistincts(df: DataFrame, groupCol: String,
      valueCol: String, qs: Seq[(String, Double)],
      distinctCols: Seq[(String, String)]): DataFrame = {
    require(qs.nonEmpty && qs.forall { case (_, q) => q >= 0.0 && q <= 1.0 })
    val lanes = (valueCol +: distinctCols.map(_._1))
      .map(c => col(c).cast("double"))
    histogramQuantiles(df, groupCol, lanes,
      qs.map { case (name, q) => (0, name, q) },
      distinctCols.zipWithIndex.map { case ((_, out), i) =>
        out -> count(when(col("__w") === i + 1, 1)) })
  }
}
