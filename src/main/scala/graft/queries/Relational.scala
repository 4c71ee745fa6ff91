package graft.queries

import org.apache.spark.sql.functions._
import graft.{Q, Tables}
import graft.functions.Scale

/** Relational operator surface: aggregation, joins (shuffle + broadcast +
  * semi/anti), distinct, windows, sorts/top-k, set ops, rollup, and the
  * statistical aggregates the reference left as TODO stubs
  * (corr/covar/std/var — /root/reference/src/dask_awkward/lib/reducers.py:173-184,
  * 257-268, 484-514, 559-589). The reference has NO joins/group-by/windows
  * (SURVEY §2.4/§2.7); these are the capability additions the north star
  * mandates, expressed so Catalyst picks partial+final aggregation,
  * broadcast joins for dims, and sort-based top-k.
  *
  * Every double aggregate is rounded in BOTH engines so that
  * reduction-order float jitter can't flip the driver's hash compare.
  */
object Relational {

  /** round(sum(l_extendedprice · (1 − l_discount)), 2): the discounted
    * revenue of TPC-H Q1, Q3 and Q5 (and `SparkEntry.entry`). */
  private[graft] def revenue: org.apache.spark.sql.Column =
    round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)

  /** q11/q17's group keys, a grand-total NULL read as 'ALL'. */
  private def flagKeys: Seq[org.apache.spark.sql.Column] = Seq(
    coalesce(col("l_returnflag"), lit("ALL")).as("rflag"),
    coalesce(col("l_linestatus"), lit("ALL")).as("lstatus"))

  val queries: Seq[Q] = Seq(
    // TPC-H Q1 shape: the canonical partial+final aggregation. Group keys
    // are low-cardinality => map-side combine shrinks the shuffle to
    // O(#groups * #partitions) rows regardless of input scale.
    Q(
      "q01_agg_pricing",
      """SELECT l_returnflag, l_linestatus,
        |       round(sum(l_quantity), 2) AS sum_qty,
        |       round(sum(l_extendedprice), 2) AS sum_base_price,
        |       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
        |       round(avg(l_quantity), 4) AS avg_qty,
        |       round(avg(l_discount), 4) AS avg_disc,
        |       count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin
    ) { (s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") <= lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          round(sum("l_quantity"), 2).as("sum_qty"),
          round(sum("l_extendedprice"), 2).as("sum_base_price"),
          revenue.as("sum_disc_price"),
          round(avg("l_quantity"), 4).as("avg_qty"),
          round(avg("l_discount"), 4).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    },

    // Filter + projection: predicate and column pruning both reach the
    // parquet scan (PushedFilters + 2-column ReadSchema at 100 TB means
    // reading only the touched row groups / columns).
    Q(
      "q02_filter_project",
      """SELECT l_orderkey, l_linenumber, round(l_extendedprice * l_discount, 4) AS promo
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
        |  AND l_discount >= 0.08 AND l_quantity < 10
        |ORDER BY l_orderkey, l_linenumber""".stripMargin
    ) { (s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1997-01-01 00:00:00").cast("timestamp")
          && col("l_shipdate") < lit("1998-01-01 00:00:00").cast("timestamp")
          && col("l_discount") >= 0.08 && col("l_quantity") < 10)
        .select(col("l_orderkey"), col("l_linenumber"),
          round(col("l_extendedprice") * col("l_discount"), 4).as("promo"))
        .orderBy("l_orderkey", "l_linenumber")
    },

    // 3-way join + agg (TPC-H Q3 shape): all three tables scale with SF,
    // so both joins shuffle on their keys; AQE demotes to broadcast /
    // splits skewed partitions at runtime.
    Q(
      "q03_join_revenue",
      """SELECT c_mktsegment,
        |       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        |       count(*) AS n_lines
        |FROM customer, orders, lineitem
        |WHERE c_custkey = o_custkey AND o_orderkey = l_orderkey
        |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin
    ) { (s, d) =>
      // customer scales with SF: declare the join and let AQE pick
      // broadcast at runtime when the filtered side is actually small
      // (a forced broadcast would be a 10+ GB ship at 100 TB).
      val c = Tables.customer(s, d)
      val o = Tables.orders(s, d)
        .filter(col("o_orderdate") < lit("1997-01-01 00:00:00").cast("timestamp"))
      val l = Tables.lineitem(s, d)
      c.join(o, col("c_custkey") === col("o_custkey"))
        .join(l, col("o_orderkey") === col("l_orderkey"))
        .groupBy("c_mktsegment")
        .agg(revenue.as("revenue"), count(lit(1)).as("n_lines"))
        .orderBy("c_mktsegment")
    },

    // Filtered-dim join: the p_size predicate shrinks part; at runtime AQE
    // converts the shuffle join to broadcast when the filtered side fits,
    // so the 100 TB fact side avoids shuffling without a hardcoded hint.
    Q(
      "q04_broadcast_dim",
      """SELECT p_brand, round(sum(l_quantity), 2) AS sum_qty, count(*) AS n
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_size <= 10
        |GROUP BY p_brand
        |ORDER BY p_brand""".stripMargin
    ) { (s, d) =>
      // part scales with SF; the p_size filter shrinks it and AQE turns
      // the shuffle join into a broadcast join at runtime when it fits.
      Tables.lineitem(s, d)
        .join(Tables.part(s, d).filter(col("p_size") <= 10),
          col("l_partkey") === col("p_partkey"))
        .groupBy("p_brand")
        .agg(round(sum("l_quantity"), 2).as("sum_qty"), count(lit(1)).as("n"))
        .orderBy("p_brand")
    },

    // 6-way star join (TPC-H Q5 shape): nation/region are FIXED-size dims
    // (25/5 rows at any SF) -> forced broadcast; customer/supplier/orders
    // scale with SF -> shuffle joins that AQE may demote to broadcast.
    Q(
      "q05_star_join",
      """SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM customer, orders, lineitem, supplier, nation, region
        |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
        |  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        |GROUP BY n_name
        |ORDER BY n_name""".stripMargin
    ) { (s, d) =>
      val l = Tables.lineitem(s, d)
      val o = Tables.orders(s, d)
      Tables.customer(s, d)
        .join(o, col("c_custkey") === col("o_custkey"))
        .join(l, col("l_orderkey") === col("o_orderkey"))
        .join(Tables.supplier(s, d),
          col("l_suppkey") === col("s_suppkey")
            && col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(Tables.nation(s, d)),
          col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, d)),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy("n_name")
        .agg(revenue.as("revenue"))
        .orderBy("n_name")
    },

    // Distinct + exact count-distinct (the reference has neither; SURVEY
    // §2.5 "Distinct: absent").
    Q(
      "q06_distinct",
      """SELECT l_returnflag,
        |       count(DISTINCT l_partkey) AS n_parts,
        |       count(DISTINCT l_suppkey) AS n_supps
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin
    ) { (s, d) =>
      Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(countDistinct("l_partkey").as("n_parts"),
          countDistinct("l_suppkey").as("n_supps"))
        .orderBy("l_returnflag")
    },

    // Window function: top-3 orders per priority (SURVEY §2.7: absent in
    // the reference; native Window here).
    Q(
      "q07_window_topn",
      """SELECT o_orderpriority, o_orderkey, o_totalprice FROM (
        |  SELECT o_orderpriority, o_orderkey, o_totalprice,
        |         row_number() OVER (PARTITION BY o_orderpriority
        |                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) t
        |WHERE rn <= 3
        |ORDER BY o_orderpriority, o_orderkey""".stripMargin
    ) { (s, d) =>
      Scale.topK(Tables.orders(s, d), Seq("o_orderpriority"),
          Seq(col("o_totalprice").desc, col("o_orderkey")), 3)
        .select("o_orderpriority", "o_orderkey", "o_totalprice")
        .orderBy("o_orderpriority", "o_orderkey")
    },

    // Global sort + top-k (explicitly unimplemented in the reference:
    // structure.py:848-849 raises; Spark TakeOrderedAndProject is O(k) per
    // partition + single merge — no full sort at scale).
    Q(
      "q08_topk",
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 50""".stripMargin
    ) { (s, d) =>
      Tables.orders(s, d)
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .select("o_orderkey", "o_totalprice")
        .limit(50)
    },

    // Set ops (SURVEY §2.9: absent in reference; concatenate(axis=0) is
    // only UNION ALL).
    Q(
      "q09_setops",
      """SELECT custkey, 'both' AS tag FROM (
        |  SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
        |  INTERSECT
        |  SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O') t
        |ORDER BY custkey""".stripMargin
    ) { (s, d) =>
      val o = Tables.orders(s, d)
      o.filter(col("o_orderstatus") === "F").select(col("o_custkey").as("custkey"))
        .intersect(
          o.filter(col("o_orderstatus") === "O").select(col("o_custkey").as("custkey")))
        .withColumn("tag", lit("both"))
        .orderBy("custkey")
    },

    // UNION ALL == the reference's concatenate(axis=0)
    // (lib/operations.py:50-130): schema-merge + relabel, no shuffle.
    Q(
      "q10_concat_axis0",
      """SELECT status, count(*) AS n, round(sum(price), 2) AS total FROM (
        |  SELECT o_orderstatus AS status, o_totalprice AS price FROM orders
        |  UNION ALL
        |  SELECT upper(l_returnflag) AS status, l_extendedprice AS price FROM lineitem
        |) t GROUP BY status ORDER BY status""".stripMargin
    ) { (s, d) =>
      val a = Tables.orders(s, d)
        .select(col("o_orderstatus").as("status"), col("o_totalprice").as("price"))
      val b = Tables.lineitem(s, d)
        .select(upper(col("l_returnflag")).as("status"),
          col("l_extendedprice").as("price"))
      a.unionByName(b)
        .groupBy("status")
        .agg(count(lit(1)).as("n"), round(sum("price"), 2).as("total"))
        .orderBy("status")
    },

    // Rollup (hierarchical subtotals); group keys coalesced to a sentinel so
    // NULL ordering can't differ between engines.
    Q(
      "q11_rollup",
      """SELECT coalesce(l_returnflag, 'ALL') AS rflag,
        |       coalesce(l_linestatus, 'ALL') AS lstatus,
        |       round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem
        |GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY rflag, lstatus""".stripMargin
    ) { (s, d) =>
      Tables.lineitem(s, d)
        .rollup("l_returnflag", "l_linestatus")
        .agg(round(sum("l_quantity"), 2).as("sum_qty"))
        .select(flagKeys :+ col("sum_qty"): _*)
        .orderBy("rflag", "lstatus")
    },

    // Left-semi join (EXISTS): customers with at least one high-value order.
    Q(
      "q12_semi_join",
      """SELECT c_mktsegment, count(*) AS n_custs
        |FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin
    ) { (s, d) =>
      Tables.customer(s, d)
        .join(Tables.orders(s, d).filter(col("o_totalprice") > 300000),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_custs"))
        .orderBy("c_mktsegment")
    },

    // Left-anti join (NOT EXISTS): customers with no orders at all.
    Q(
      "q13_anti_join",
      """SELECT c_mktsegment, count(*) AS n_custs
        |FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin
    ) { (s, d) =>
      Tables.customer(s, d)
        .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_custs"))
        .orderBy("c_mktsegment")
    },

    // Exact interpolated percentiles (absent in the reference, where axis-0
    // order statistics don't exist). NOT Spark's `percentile`: that is a
    // TypedImperativeAggregate buffering every group value in the agg
    // buffer — with 3 returnflag groups over 100 TB each final task holds
    // billions of doubles. Quantiles.groupQuantilesCont is the shuffle-
    // based exact form (window rank + count join + bracketing-rank
    // interpolation), O(1) task state, same quantile_cont semantics.
    Q(
      "q16_percentiles",
      """SELECT l_returnflag,
        |  round(quantile_cont(l_quantity, 0.5), 4) AS med_qty,
        |  round(quantile_cont(l_quantity, 0.9), 4) AS p90_qty,
        |  round(quantile_cont(l_extendedprice, 0.25), 4) AS q1_price
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin
    ) { (s, d) =>
      import graft.functions.Quantiles
      val li = Tables.lineitem(s, d)
      Quantiles.groupQuantilesContMulti(li, "l_returnflag", Seq(
          "l_quantity" -> Seq(("med_qty", 0.5), ("p90_qty", 0.9)),
          "l_extendedprice" -> Seq(("q1_price", 0.25))))
        .select(col("l_returnflag"),
          round(col("med_qty"), 4).as("med_qty"),
          round(col("p90_qty"), 4).as("p90_qty"),
          round(col("q1_price"), 4).as("q1_price"))
        .orderBy("l_returnflag")
    },

    // Full CUBE (all grouping-set combinations).
    Q(
      "q17_cube",
      """SELECT coalesce(l_returnflag, 'ALL') AS rflag,
        |       coalesce(l_linestatus, 'ALL') AS lstatus,
        |       count(*) AS n, round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
        |ORDER BY rflag, lstatus""".stripMargin
    ) { (s, d) =>
      Tables.lineitem(s, d)
        .cube("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"), round(sum("l_quantity"), 2).as("sum_qty"))
        .select(flagKeys ++ Seq(col("n"), col("sum_qty")): _*)
        .orderBy("rflag", "lstatus")
    },

    // Date/time functions (none in the reference — datetime64 is only a
    // leaf dtype there; free capability on Spark).
    Q(
      "q18_dates",
      """SELECT CAST(year(l_shipdate) AS BIGINT) AS y,
        |       CAST(month(l_shipdate) AS BIGINT) AS m,
        |       count(*) AS n,
        |       CAST(min(date_diff('day', TIMESTAMP '1995-01-01', l_shipdate)) AS BIGINT)
        |         AS min_day_off
        |FROM lineitem
        |GROUP BY y, m ORDER BY y, m""".stripMargin
    ) { (s, d) =>
      Tables.lineitem(s, d)
        .groupBy(year(col("l_shipdate")).cast("long").as("y"),
          month(col("l_shipdate")).cast("long").as("m"))
        .agg(count(lit(1)).as("n"),
          min(datediff(col("l_shipdate"), lit("1995-01-01").cast("date")))
            .cast("long").as("min_day_off"))
        .orderBy("y", "m")
    },

    // Grouped collection aggregate: distinct set -> sorted list -> string
    // (collect_set is unordered across partitions; sort_array restores
    // determinism).
    Q(
      "q19_collect",
      s"""SELECT l_returnflag,
        |  array_to_string(list_sort(list(DISTINCT l_linestatus)), ',') AS statuses,
        |  ${Ser.sqlJs("list_sort(list(DISTINCT l_linestatus))")} AS status_arr
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin
    ) { (s, d) =>
      Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(
          array_join(sort_array(collect_set(col("l_linestatus"))), ",")
            .as("statuses"),
          Ser.js(sort_array(collect_set(col("l_linestatus")))).as("status_arr"))
        .orderBy("l_returnflag")
    },

    // Grouped top-k on BOUNDED state: Aggregators.MinKAgg keeps k values
    // per aggregation buffer (never the whole group), so a skewed key at
    // 100 TB costs O(k) executor memory instead of the OOM the
    // collect_list->sort->slice form risks. Prices are quantized to cents
    // (exact for 2-decimal money) so the bounded state is integer.
    Q(
      "q86_group_topk",
      s"""SELECT l_returnflag,
        |  ${Ser.sqlJs("list_transform((list_sort(list(l_extendedprice)))[1:3], " +
             "x -> CAST(round(x * 100) AS BIGINT))")} AS low3,
        |  round(min(l_extendedprice), 2) AS lowest
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin
    ) { (s, d) =>
      val min3 = graft.functions.Aggregators.minK(3)
      Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(
          Ser.js(min3(round(col("l_extendedprice") * 100).cast("long")))
            .as("low3"),
          round(min(col("l_extendedprice")), 2).as("lowest"))
        .orderBy("l_returnflag")
    },

    // The full window-function family: rank/dense_rank/ntile/lead/lag/
    // running sum over frames (nothing in the reference crosses row
    // boundaries — SURVEY §2.7).
    Q(
      "q85_window_family",
      """SELECT o_orderkey, o_orderpriority,
        |  rank() OVER w AS rnk,
        |  dense_rank() OVER w AS drnk,
        |  ntile(4) OVER w AS quartile,
        |  round(coalesce(lead(o_totalprice) OVER w, 0.0), 2) AS next_price,
        |  round(sum(o_totalprice) OVER (PARTITION BY o_orderpriority
        |    ORDER BY o_totalprice DESC, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS run_sum
        |FROM orders
        |WHERE o_orderkey < 200
        |WINDOW w AS (PARTITION BY o_orderpriority
        |             ORDER BY o_totalprice DESC, o_orderkey)
        |ORDER BY o_orderpriority, rnk, o_orderkey""".stripMargin
    ) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("o_orderpriority")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      val framed = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.orders(s, d).filter(col("o_orderkey") < 200)
        .select(col("o_orderkey"), col("o_orderpriority"),
          rank().over(w).as("rnk"),
          dense_rank().over(w).as("drnk"),
          ntile(4).over(w).as("quartile"),
          round(coalesce(lead(col("o_totalprice"), 1).over(w), lit(0.0)), 2)
            .as("next_price"),
          round(sum("o_totalprice").over(framed), 2).as("run_sum"))
        .orderBy("o_orderpriority", "rnk", "o_orderkey")
    },

    // The statistical aggregates the reference stubs out (reducers.py TODOs)
    // — native single-pass partial+final aggregates in Spark.
    Q(
      "q14_stats_agg",
      """SELECT l_returnflag,
        |       round(stddev_samp(l_quantity), 4) AS std_qty,
        |       round(var_samp(l_discount), 6) AS var_disc,
        |       round(corr(l_quantity, l_extendedprice), 6) + 0 AS corr_qty_price,
        |       round(covar_samp(l_quantity, l_extendedprice), 2) + 0 AS cov_qty_price,
        |       round(regr_slope(l_extendedprice, l_quantity), 4) + 0 AS fit_slope,
        |       round(regr_intercept(l_extendedprice, l_quantity), 2) + 0 AS fit_icept
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin
    ) { (s, d) =>
      Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(
          round(stddev_samp(col("l_quantity")), 4).as("std_qty"),
          round(var_samp(col("l_discount")), 6).as("var_disc"),
          (round(corr(col("l_quantity"), col("l_extendedprice")), 6) + lit(0.0)).as("corr_qty_price"),
          (round(covar_samp(col("l_quantity"), col("l_extendedprice")), 2) + lit(0.0)).as("cov_qty_price"),
          (round(regr_slope(col("l_extendedprice"), col("l_quantity")), 4) + lit(0.0)).as("fit_slope"),
          (round(regr_intercept(col("l_extendedprice"), col("l_quantity")), 2) + lit(0.0)).as("fit_icept"))
        .orderBy("l_returnflag")
    },

    // min_by/max_by — the reference's axis-0 argmin/argmax, which it raises
    // on (core.py:2365-2366): "what key attains the extreme".
    Q(
      "q15_argminmax_global",
      """WITH m AS (
        |  SELECT l_returnflag, max(l_extendedprice) AS max_price,
        |         min(l_extendedprice) AS min_price
        |  FROM lineitem GROUP BY l_returnflag),
        |kmax AS (
        |  SELECT l.l_returnflag, min(l.l_orderkey) AS key_of_max
        |  FROM lineitem l JOIN m ON l.l_returnflag = m.l_returnflag
        |                        AND l.l_extendedprice = m.max_price
        |  GROUP BY l.l_returnflag),
        |kmin AS (
        |  SELECT l.l_returnflag, min(l.l_orderkey) AS key_of_min
        |  FROM lineitem l JOIN m ON l.l_returnflag = m.l_returnflag
        |                        AND l.l_extendedprice = m.min_price
        |  GROUP BY l.l_returnflag)
        |SELECT m.l_returnflag, kmax.key_of_max, kmin.key_of_min, m.max_price
        |FROM m JOIN kmax ON m.l_returnflag = kmax.l_returnflag
        |       JOIN kmin ON m.l_returnflag = kmin.l_returnflag
        |ORDER BY m.l_returnflag""".stripMargin
    ) { (s, d) =>
      // Ties on the extreme value are broken by orderkey (min orderkey on
      // both sides) so the result is engine-independent.
      Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(
          max_by(col("l_orderkey"),
            struct(col("l_extendedprice"), (-col("l_orderkey")).cast("double")))
            .as("key_of_max"),
          min_by(col("l_orderkey"),
            struct(col("l_extendedprice"), col("l_orderkey").cast("double")))
            .as("key_of_min"),
          max("l_extendedprice").as("max_price"))
        .orderBy("l_returnflag")
    },

    // JOIN ADVISOR — the 100 TB pre-flight this repo's own doctrine
    // runs by hand, as a query: for each planned join, the per-side key
    // histograms give the EXACT output cardinality (Σ c_L(k)·c_R(k)),
    // the worst single-key output mass, and a skew share — then the
    // repo's measured strategy rules decide: broadcast under 100k rows,
    // salt when one key alone would emit ≥ 1e6 rows (the AQE-skew /
    // q113-salting territory), shuffled-hash under 2^18 rows (the
    // bigJoin cutoff), else sort-merge. At gate SF everything is
    // broadcast-sized; at the 1000x replica the events self-join flips
    // to 'salt' — the advisory genuinely moves with the data. Scale
    // shape: ONE exchange of all key sides (map-side collapse into
    // per-key counts), a keyed histogram join, bounded rollups.
    Q(
      "q255_join_advisor",
      """WITH sides AS (
        |  SELECT 'orders_lineitem' AS jn, 'L' AS side, o_orderkey AS k
        |  FROM orders
        |  UNION ALL SELECT 'orders_lineitem', 'R', l_orderkey FROM lineitem
        |  UNION ALL SELECT 'customer_orders', 'L', c_custkey FROM customer
        |  UNION ALL SELECT 'customer_orders', 'R', o_custkey FROM orders
        |  UNION ALL SELECT 'events_self', 'L', user_id FROM events
        |  UNION ALL SELECT 'events_self', 'R', user_id FROM events),
        |h AS (SELECT jn, side, k, CAST(count(*) AS BIGINT) AS c
        |      FROM sides GROUP BY 1, 2, 3),
        |st AS (SELECT jn, side, CAST(sum(c) AS BIGINT) AS n,
        |         CAST(max(c) AS BIGINT) AS mx
        |       FROM h GROUP BY 1, 2),
        |fc AS (SELECT l.jn, CAST(sum(l.c * r.c) AS BIGINT) AS out_rows,
        |         CAST(max(l.c * r.c) AS BIGINT) AS max_key_out
        |       FROM (SELECT * FROM h WHERE side = 'L') l
        |       JOIN (SELECT * FROM h WHERE side = 'R') r
        |         ON l.jn = r.jn AND l.k = r.k
        |       GROUP BY 1),
        |w AS (SELECT sl.jn, sl.n AS n_left, sr.n AS n_right,
        |        coalesce(f.out_rows, 0) AS out_rows,
        |        coalesce(f.max_key_out, 0) AS max_key_out
        |      FROM (SELECT * FROM st WHERE side = 'L') sl
        |      JOIN (SELECT * FROM st WHERE side = 'R') sr ON sr.jn = sl.jn
        |      LEFT JOIN fc f ON f.jn = sl.jn)
        |SELECT jn AS join_name, n_left, n_right, out_rows, max_key_out,
        |  CAST(CASE WHEN out_rows = 0 THEN 0
        |    ELSE max_key_out * 1000000 // out_rows END AS BIGINT)
        |    AS skew_ppm,
        |  CASE WHEN least(n_left, n_right) <= 100000 THEN 'broadcast'
        |       WHEN max_key_out >= 1000000 THEN 'salt'
        |       WHEN least(n_left, n_right) <= 262144 THEN 'shuffle_hash'
        |       ELSE 'merge' END AS decision
        |FROM w ORDER BY join_name""".stripMargin
    ) { (s, d) =>
      // r14: each table is scanned ONCE — orders emits its two join
      // memberships from one scan (inline over a 2-struct array), and
      // the events self-join emits both sides from one scan (explode
      // over the side labels). Same (jn, side, k) rows as the old
      // 6-scan union; orders and events (the biggest table) each lose
      // a full scan.
      val sides = Tables.orders(s, d)
        .select(inline(array(
          struct(lit("orders_lineitem").as("jn"), lit("L").as("side"),
            col("o_orderkey").as("k")),
          struct(lit("customer_orders").as("jn"), lit("R").as("side"),
            col("o_custkey").as("k")))))
        .union(Tables.lineitem(s, d).select(lit("orders_lineitem"),
          lit("R"), col("l_orderkey")))
        .union(Tables.customer(s, d).select(lit("customer_orders"),
          lit("L"), col("c_custkey")))
        .union(Tables.events(s, d)
          .select(explode(array(lit("L"), lit("R"))).as("side"),
            col("user_id"))
          .select(lit("events_self").as("jn"), col("side"),
            col("user_id").as("k")))
      joinAdvisorCore(sides)
    }
  )

  /** q255 core over any (jn, side, k) frame. Factored for crafted
    * decision laws (each strategy rule reachable with planted
    * histograms). */
  private[graft] def joinAdvisorCore(
      sides: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    // r14 ZERO-JOIN shape. The r13 form exchanged a (jn, side, k)
    // histogram into a checkpoint (key-histogram scale — data-scale
    // rows materialized) and then SELF-JOINED it L-vs-R plus a second
    // per-side rollup join pair. But the L/R split is a PIVOT, not a
    // join: ONE (jn, k)-keyed aggregate holds (cl, cr) per key — a key
    // present on one side only contributes cl·cr = 0 to both the sum
    // and the max, which is exactly the inner join's shared-key set —
    // and every output column is a second, jn-scale rollup of that
    // table. Two exchanges total (one data-scale with map-side
    // partials, one |joins|-scale), no checkpoint, no join. The old
    // st inner join's "jn present on both sides" semantics survives
    // as the n_left>0 AND n_right>0 filter.
    val hk = sides.groupBy("jn", "k")
      .agg(sum(when(col("side") === "L", 1L).otherwise(0L)).as("cl"),
        sum(when(col("side") === "R", 1L).otherwise(0L)).as("cr"))
    // NULL-key contract (r15 ADVICE): the oracle's SQL counts null-key
    // rows in n_left/n_right (st sums the full histogram) but its inner
    // join on l.k = r.k drops them from out_rows/max_key_out. Mirror
    // that exactly: nulls stay in the histogram sums, contribute 0 to
    // the pair rollups. No-op on gate data (keys non-null), removes the
    // latent cross-engine divergence on nullable key columns.
    val pairOut = when(col("k").isNotNull, col("cl") * col("cr"))
      .otherwise(0L)
    hk.groupBy("jn")
      .agg(sum("cl").as("n_left"), sum("cr").as("n_right"),
        sum(pairOut).as("out_rows"),
        max(pairOut).as("max_key_out"))
      .filter(col("n_left") > 0 && col("n_right") > 0)
      .select(col("jn").as("join_name"),
        col("n_left").cast("long").as("n_left"),
        col("n_right").cast("long").as("n_right"),
        col("out_rows").cast("long").as("out_rows"),
        col("max_key_out").cast("long").as("max_key_out"))
      .selectExpr("join_name", "n_left", "n_right", "out_rows",
        "max_key_out",
        "case when out_rows = 0 then 0L" +
          " else (max_key_out * 1000000) div out_rows end as skew_ppm",
        "case when least(n_left, n_right) <= 100000 then 'broadcast'" +
          " when max_key_out >= 1000000 then 'salt'" +
          " when least(n_left, n_right) <= 262144 then 'shuffle_hash'" +
          " else 'merge' end as decision")
      .orderBy("join_name")
  }
}
