package graft

import org.apache.spark.sql.functions._
import graft.functions.{Align, Scale, Skew}

/** Skew salting + cross-collection alignment (SURVEY §7.4), and the
  * `Scale` idioms the dedup pair factories share. */
class ScaleOpsSpec extends SparkSpec {
  import spark.implicits._

  test("saltedAgg: two-stage aggregation matches direct groupBy") {
    val df = (1 to 1000).map(i => (if (i % 10 == 0) "hot" else s"k${i % 7}", i.toDouble))
      .toDF("k", "v").repartition(4)
    val direct = df.groupBy("k").agg(sum("v").as("s"), count(lit(1)).as("n"))
      .orderBy("k").collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2)))
    val salted = Skew.saltedAgg(df, col("k"), saltBuckets = 8,
      partials = Seq(sum("v").as("ps"), count(lit(1)).as("pn")),
      merges = Seq(sum("ps").as("s"), sum("pn").as("n")))
      .orderBy("key").collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2)))
    assert(salted.toSeq == direct.toSeq)
  }

  test("AQE skew join: a pathological hot key is split at runtime " +
    "(OptimizeSkewedJoin), results identical to the unsplit join") {
    // the OTHER half of the skew story next to Skew.saltedAgg: for joins
    // the engine leans on AQE's runtime re-plan instead of manual
    // salting (CLAUDE.md: "salting for skew, AQE for runtime re-plan").
    // This spec proves the machinery actually engages on this build —
    // a 'skew=true' marker in the final adaptive plan — so the claim in
    // SURVEY §7 is tested, not assumed.
    val confs = Seq(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "8KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8KB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      // 50k rows on ONE key vs 100 spread keys; build side small but
      // broadcast disabled, so the join must shuffle and hit the skew
      val big = (1 to 50000).map(i =>
        (if (i % 500 == 0) s"k${i % 100}" else "hot", i.toLong))
        .toDF("k", "v")
      val dim = (0 until 100).map(i => (s"k$i", i.toLong))
        .toDF("k", "w").union(Seq(("hot", -1L)).toDF("k", "w"))
      val joined = big.join(dim, Seq("k"))
        .agg(count(lit(1)).as("n"), sum(col("v") * col("w")).as("s"))
      val row = joined.collect().head
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"AQE did not mark the skewed join:\n${plan.take(2000)}")
      // correctness unchanged by the runtime split
      assert(row.getLong(0) == 50000L)
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("zipCollections aligns two independent DataFrames positionally") {
    val a = Seq(1, 2, 3).toDF("x").coalesce(1)
    val b = Seq("a", "b", "c").toDF("y").coalesce(1)
    val z = Align.zipCollections(a, b).orderBy("x")
      .collect().map(r => (r.getInt(0), r.getString(1)))
    assert(z.toSeq == Seq((1, "a"), (2, "b"), (3, "c")))
  }

  test("withRowIndex is a stable 0-based index") {
    val df = Seq("p", "q", "r").toDF("s").coalesce(1)
    val idx = Align.withRowIndex(df).collect().map(r => (r.getString(0), r.getLong(1)))
    assert(idx.toSeq == Seq(("p", 0L), ("q", 1L), ("r", 2L)))
  }

  /** `n` rows in bucket "a" (ids 0 until n, shuffled) and 10 in "b". */
  private def plantedBuckets(n: Int) =
    (scala.util.Random.shuffle((0 until n).toList).map(i => ("a", i.toLong))
      ++ (1000 until 1010).map(i => ("b", i.toLong)))
      .toDF("bucket", "id").repartition(3)

  private def kept(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getString(0), r.getLong(1))).sorted.toSeq

  test("capPerBucket keeps the lowest 256 per bucket, prunes map-side, " +
    "reads max_rank 257 on overflow, and a self-join reuses its exchange") {
    // "a" overflows the cap by 44 rows; "b" is below it
    val capped = Scale.capPerBucket(plantedBuckets(300), "t_cap",
      Seq("bucket"), Seq("id"))
    assert(kept(capped) == (0L until 256L).map(("a", _)) ++
      (1000L until 1010L).map(("b", _)))
    assert(capped.columns.toSeq == Seq("bucket", "id"))
    assert(capped.queryExecution.observedMetrics("t_cap").getInt(0) == 257)
    val plan = capped.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), plan)
    val joined = capped.as("x")
      .join(capped.as("y").hint("shuffle_hash"),
        col("x.bucket") === col("y.bucket") && col("x.id") < col("y.id"))
    // collect, not count(): the final adaptive plan is this Dataset's own
    assert(joined.collect().length == 256 * 255 / 2 + 10 * 9 / 2)
    val joinedPlan = joined.queryExecution.executedPlan.toString
    assert(joinedPlan.contains("ReusedExchange"), joinedPlan)
    // max is idempotent: both sides of the reused exchange read the same
    assert(joined.queryExecution.observedMetrics("t_cap").getInt(0) == 257)
  }

  test("capPerBucket on a bucket of exactly 256 keeps every row and " +
    "reads max_rank below 257 (the cap did not engage)") {
    val capped = Scale.capPerBucket(plantedBuckets(256), "t_cap_full",
      Seq("bucket"), Seq("id"))
    assert(kept(capped) == (0L until 256L).map(("a", _)) ++
      (1000L until 1010L).map(("b", _)))
    assert(capped.queryExecution.observedMetrics("t_cap_full")
      .getInt(0) == 256)
    val plan = capped.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), plan)
  }

  test("topK keeps the first k per group in order, ties cut by the " +
    "second order column; by = Nil is one global window") {
    // group "a" (7 rows) overflows k = 3 and its top 4 tie on score, so
    // the cut falls on id; group "b" (2 rows) is smaller than k
    val rows = Seq(("a", 5L, 3L), ("a", 5L, 1L), ("a", 4L, 0L),
      ("a", 5L, 9L), ("a", 5L, 2L), ("a", 3L, 7L), ("a", 4L, 8L),
      ("b", 1L, 20L), ("b", 6L, 21L))
    val df = scala.util.Random.shuffle(rows).toDF("g", "score", "id")
      .repartition(3)
    val order = Seq(col("score").desc, col("id"))
    // the plain-Scala model: sort each group, take k, rank from 1
    def model(groups: Map[String, Seq[(String, Long, Long)]], k: Int) =
      groups.values.flatMap(_.sortBy(r => (-r._2, r._3)).take(k)
        .zipWithIndex.map { case ((g, sc, id), i) => (g, sc, id, i + 1) })
        .toSeq.sortBy(r => (r._1, r._4))
    def got(out: org.apache.spark.sql.DataFrame) = out
      .select("g", "score", "id", "__rk").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getInt(3)))
      .toSeq.sortBy(r => (r._1, r._4))
    val top = Scale.topK(df, Seq("g"), order, 3)
    assert(got(top) == model(rows.groupBy(_._1), 3))
    assert(got(top).map(_._3) == Seq(1L, 2L, 3L, 21L, 20L))
    val global = Scale.topK(df, Nil, order, 4)
    assert(got(global).map(r => (r._3, r._4)) ==
      model(Map("" -> rows), 4).map(r => (r._3, r._4)))
    val plan = top.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), plan)
  }

  test("bitLen matches the toBinaryString width it replaced") {
    def old(n: Long) = java.lang.Long.toBinaryString(math.max(1L, n - 1)).length
    val ns = Seq(0L, 1L, 2L, Long.MaxValue, Long.MinValue, -5L) ++
      (1 to 62).flatMap { k => val p = 1L << k; Seq(p - 1, p, p + 1) }
    ns.foreach(n => assert(Scale.bitLen(n) == old(n), s"n=$n"))
    assert(Scale.bitLen(0L) == 1)
  }

  test("checkpointObserved: one checkpoint, metrics by name, null reads 0") {
    val (out, m) = Scale.checkpointObserved(spark.range(10).toDF(),
      count(lit(1)).as("c"), sum("id").as("s"))
    assert(m == Map("c" -> 10L, "s" -> 45L))
    assert(out.queryExecution.analyzed.collectLeaves()
      .forall(_.isInstanceOf[org.apache.spark.sql.execution.LogicalRDD]))
    assert(out.count() == 10L)
    val (_, e) = Scale.checkpointObserved(spark.range(10).filter("id < 0").toDF(),
      count(lit(1)).as("c"), sum("id").as("s"))
    assert(e == Map("c" -> 0L, "s" -> 0L))
  }
}
