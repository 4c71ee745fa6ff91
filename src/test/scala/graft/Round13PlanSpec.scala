package graft

import org.apache.spark.sql.functions._

/** Physical-plan pins for the round-13 changes: q121's fused single-pass
  * argmin (the suite's last acknowledged candidate-set double-eval, now
  * one ObjectHashAggregate), the TransformFieldExtraction optimizer rule
  * (HOF lambdas no longer defeat nested-schema pruning), and the engaged
  * salt path (the salt column must actually reach the exchange keys —
  * the property the 100x-skew rehearsal exercises at scale).
  */
class Round13PlanSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("q121 argmin is single-pass: ONE broadcast-seed cross join (the " +
    "old two-hash-agg argmin built the candidate set TWICE), fused into " +
    "an ObjectHashAggregate — no join-back SortMergeJoin on the argmin") {
    val p = Inspect.explainString(
      SparkEntry.queries("q121_semdedup")(spark, sf))
    // the static AQE print shows the ONE capped subtree under both
    // self-join aliases (runtime exchange reuse dedups them): the pin is
    // ONE candidate cross join per alias — the old two-hash-agg argmin
    // printed TWO per alias (PLANS.md r12 entry: four total, plus a
    // SortMergeJoin re-joining min-dist back onto the candidates)
    // match the tree-line form only — formatted explain re-lists every
    // node in the detail section without the "Cross" qualifier
    assert("BroadcastNestedLoopJoin Cross".r.findAllIn(p).size == 2, p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("ObjectHashAggregate"), p)
    assert(!p.contains("SortAggregate"), p)
  }

  // ------------------------------------------- TransformFieldExtraction

  test("TransformFieldExtraction: a single-leaf lambda prunes the scan " +
    "to that leaf — transform(points, p -> p.x * 2) reads struct<x> " +
    "only, matching the manual extract-first idiom") {
    val dir = freshDir("graft-xtract") + "/pts"
    pointsDF.write.mode("overwrite").parquet(dir)
    val df = spark.read.parquet(dir)
      .select(col("row_id"),
        transform(col("points"), p => p("x") * 2).as("xs2"))
    val physical = df.queryExecution.executedPlan.toString
    assert(physical.contains("struct<x:bigint>") &&
      !physical.contains("y:bigint"),
      s"lambda defeated nested pruning:\n$physical")
    // semantics preserved vs the manual extracted form
    val manual = spark.read.parquet(dir)
      .select(col("row_id"),
        transform(col("points.x"), v => v * 2).as("xs2"))
    assert(df.orderBy("row_id").collect().map(_.getSeq[Long](1)).toSeq ==
      manual.orderBy("row_id").collect().map(_.getSeq[Long](1)).toSeq)
  }

  test("TransformFieldExtraction: a two-leaf lambda rewrites to " +
    "zip_with over the extracted arrays and prunes untouched payload " +
    "fields from the scan") {
    import spark.implicits._
    val dir = freshDir("graft-xtract2") + "/wide"
    Seq((0L, Seq((1L, 9L, "payload-a"), (2L, 8L, "payload-b"))),
        (1L, Seq[(Long, Long, String)]()),
        (2L, Seq((4L, 6L, "payload-c"))))
      .toDF("row_id", "hits")
      .selectExpr("row_id",
        "transform(hits, h -> named_struct(" +
          "'x', h._1, 'y', h._2, 'payload', h._3)) as hits")
      .write.mode("overwrite").parquet(dir)
    val df = spark.read.parquet(dir)
      .select(col("row_id"),
        transform(col("hits"), h => h("x") + h("y")).as("s"))
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(optimized.contains("zip_with"), s"rule did not fire:\n$optimized")
    val physical = df.queryExecution.executedPlan.toString
    assert(!physical.contains("payload"),
      s"payload survived the scan:\n$physical")
    assert(df.orderBy("row_id").collect().map(_.getSeq[Long](1)).toSeq ==
      Seq(Seq(10L, 10L), Seq(), Seq(10L)))
  }

  test("TransformFieldExtraction: exists/forall/aggregate lambdas " +
    "prune the scan through the same single-leaf rewrite") {
    val dir = freshDir("graft-xtract4") + "/pts"
    pointsDF.write.mode("overwrite").parquet(dir)
    val ex = spark.read.parquet(dir)
      .select(col("row_id"),
        exists(col("points"), p => p("x") > 5).as("has_big"))
    val exPlan = ex.queryExecution.executedPlan.toString
    assert(exPlan.contains("struct<x:bigint>") &&
      !exPlan.contains("y:bigint"), s"exists kept the full struct:\n$exPlan")
    assert(eval1(ex, col("has_big")) ==
      Seq(false, false, false, true, true))
    val fa = spark.read.parquet(dir)
      .select(col("row_id"),
        forall(col("points"), p => p("y") > 1).as("all_pos"))
    val faPlan = fa.queryExecution.executedPlan.toString
    assert(faPlan.contains("struct<y:bigint>") &&
      !faPlan.contains("x:bigint"), s"forall kept the full struct:\n$faPlan")
    assert(eval1(fa, col("all_pos")) ==
      Seq(true, true, true, true, false))
    val ag = spark.read.parquet(dir)
      .select(col("row_id"),
        aggregate(col("points"), lit(0L), (acc, p) => acc + p("x"))
          .as("sx"))
    val agPlan = ag.queryExecution.executedPlan.toString
    assert(agPlan.contains("struct<x:bigint>") &&
      !agPlan.contains("y:bigint"),
      s"aggregate kept the full struct:\n$agPlan")
    assert(eval1(ag, col("sx")) == Seq(6L, 0L, 9L, 6L, 24L))
  }

  test("TransformFieldExtraction guard: a lambda that uses the WHOLE " +
    "element (not just leaves) must not rewrite") {
    val dir = freshDir("graft-xtract3") + "/pts"
    pointsDF.write.mode("overwrite").parquet(dir)
    val df = spark.read.parquet(dir)
      .select(col("row_id"),
        transform(col("points"), p => to_json(p)).as("js"))
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(!optimized.contains("zip_with"), optimized)
    // whole-struct use keeps both fields in the scan, correctly
    val physical = df.queryExecution.executedPlan.toString
    assert(physical.contains("x:bigint") && physical.contains("y:bigint"),
      physical)
  }

  test("TransformFieldExtraction edge laws: an outer-column capture " +
    "inside the lambda survives the rewrite; nested HOFs rewrite only " +
    "the inner (leaf-only) transform") {
    val dir = freshDir("graft-xtract5") + "/pts"
    pointsDF.write.mode("overwrite").parquet(dir)
    // lambda body references BOTH the element leaf and the outer row_id
    val cap = spark.read.parquet(dir)
      .select(col("row_id"),
        transform(col("points"), p => p("x") * col("row_id")).as("xs"))
    val capPlan = cap.queryExecution.executedPlan.toString
    assert(capPlan.contains("struct<x:bigint>") &&
      !capPlan.contains("y:bigint"), s"capture blocked pruning:\n$capPlan")
    assert(eval1(cap, col("xs")) == Seq(Seq(0L, 0L, 0L), Seq(),
      Seq(8L, 10L), Seq(18L), Seq(28L, 32L, 36L)))
    // nested HOF: outer lambda var used whole (as the inner array) so the
    // outer must not rewrite; the inner leaf-only lambda still does
    import spark.implicits._
    val nested = Seq((0L, Seq(Seq((1L, 9L), (2L, 8L)), Seq((3L, 7L)))))
      .toDF("row_id", "grid")
      .selectExpr("row_id",
        "transform(grid, row -> transform(row, p -> " +
          "named_struct('x', p._1, 'y', p._2))) as grid")
    val out = nested.select(
      transform(col("grid"),
        row => transform(row, p => p("x") + 1)).as("g"))
      .collect().head.getSeq[scala.collection.Seq[Long]](0)
    assert(out.map(_.toSeq) == Seq(Seq(2L, 3L), Seq(4L)))
  }

  // ------------------------------------------------- engaged salt paths

  test("saltedJoin plan: the salt reaches the exchange keys on BOTH " +
    "sides — hashpartitioning(key, __salt) — so a hot key genuinely " +
    "spreads over saltBuckets reducers") {
    import spark.implicits._
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val fact = spark.range(1000)
        .select(col("id"), (col("id") % 7).cast("string").as("key"))
      val dim = spark.range(7)
        .select(col("id").cast("string").as("key"), col("id").as("v"))
      val salted = graft.functions.Skew.saltedJoin(fact, dim, "key", 8)
      val p = salted.queryExecution.executedPlan.toString
      val saltedExchanges =
        "hashpartitioning\\([^)]*__salt".r.findAllIn(p).size
      assert(saltedExchanges >= 2,
        s"salt missing from exchange keys:\n$p")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("saltedAgg plan: the partial aggregate's exchange keys on " +
    "(__key, __salt); only the bounded partial table reshuffles by key") {
    import spark.implicits._
    val df = spark.range(1000)
      .select((col("id") % 3).cast("string").as("k"),
        col("id").cast("double").as("x"))
    val salted = graft.functions.Skew.saltedAgg(df, col("k"), 8,
      partials = Seq(sum("x").as("ps")),
      merges = Seq(sum("ps").as("s")))
    val p = salted.queryExecution.executedPlan.toString
    assert("hashpartitioning\\([^)]*__salt".r.findAllIn(p).nonEmpty,
      s"salt missing from partial exchange:\n$p")
  }
}
