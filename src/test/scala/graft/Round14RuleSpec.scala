package graft

import org.apache.spark.sql.functions._

/** Pins for the round-14 TransformFieldExtraction extensions (r13
  * verdict item 4 — the previously-guarded HOF shapes now rewrite, so
  * SchemaPruning prunes scans through them, completing parity with the
  * reference's buffer-level necessary-columns, `lib/optimize.py:69-223`):
  *   (a) >= 3 leaves over a cheap array -> transform over arrays_zip of
  *       the extracted leaf arrays;
  *   (b) index-form lambdas (elem, idx) -> same rewrite with the index
  *       variable carried through;
  *   (c) computed (non-cheap) multi-leaf arrays -> the rewrite wrapped
  *       in Spark 4's `With` so the computed array is evaluated ONCE
  *       (RewriteWithExpression hoists the definition; no duplication).
  * Each pin asserts the plan shape (ReadSchema pruning / arrays_zip /
  * single evaluation) AND byte-level semantics vs the unrewritten
  * golden, including null elements and empty arrays.
  */
class Round14RuleSpec extends SparkSpec {

  /** 4-field element struct (x,y,z + wide payload) with an empty array,
    * a NULL element, and a null leaf — written to parquet so ReadSchema
    * pruning is observable. */
  private lazy val wideDir: String = {
    import spark.implicits._
    val dir = freshDir("graft-r14") + "/wide"
    Seq(
      (0L, Seq((1L, 10L, 100L, "p-a"), (2L, 20L, 200L, "p-b"))),
      (1L, Seq[(Long, Long, Long, String)]()),
      (2L, Seq((3L, 30L, 300L, "p-c"))),
      (3L, Seq((4L, 40L, 400L, "p-d"), (5L, 50L, 500L, "p-e"),
        (6L, 60L, 600L, "p-f"))))
      .toDF("row_id", "hits")
      .selectExpr("row_id",
        // element 1 of row 3 nulled wholesale; z of row 2's element nulled
        "transform(hits, (h, i) -> case " +
          "when row_id = 3 and i = 1 then null " +
          "else named_struct('x', h._1, 'y', h._2, " +
          "'z', case when row_id = 2 then cast(null as bigint) " +
          "else h._3 end, 'payload', h._4) end) as hits")
      .write.mode("overwrite").parquet(dir)
    dir
  }

  test("(a) three-leaf lambda over a cheap array rewrites to transform " +
    "over arrays_zip and prunes the payload from the scan; null " +
    "elements and empty arrays preserved exactly") {
    val df = spark.read.parquet(wideDir)
      .select(col("row_id"),
        transform(col("hits"), h => h("x") + h("y") + h("z")).as("s"))
      .orderBy("row_id")
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(optimized.contains("arrays_zip"),
      s"3-leaf rule did not fire:\n$optimized")
    val physical = df.queryExecution.executedPlan.toString
    assert(!physical.contains("payload"),
      s"payload survived the scan:\n$physical")
    val got = df.collect().map(r => Option(r.getSeq[Any](1)).map(_.toSeq))
    assert(got.toSeq == Seq(
      Some(Seq(111L, 222L)), Some(Seq()), Some(Seq(null)),
      Some(Seq(444L, null, 666L))), got.toSeq.toString)
  }

  test("(b) index-form single-leaf lambda rewrites (same length, same " +
    "indices) and prunes to that leaf") {
    val df = spark.read.parquet(wideDir)
      .select(col("row_id"),
        transform(col("hits"), (h, i) => h("x") * lit(10L) + i).as("s"))
      .orderBy("row_id")
    val physical = df.queryExecution.executedPlan.toString
    assert(physical.contains("struct<x:bigint>") &&
      !physical.contains("y:bigint"),
      s"index form defeated pruning:\n$physical")
    val got = df.collect().map(_.getSeq[Any](1).toSeq)
    assert(got.toSeq == Seq(Seq(10L, 21L), Seq(), Seq(30L),
      Seq(40L, null, 62L)), got.toSeq.toString)
  }

  test("(b) index-form two-leaf lambda rides the arrays_zip shape with " +
    "the index carried through; payload pruned") {
    val df = spark.read.parquet(wideDir)
      .select(col("row_id"),
        transform(col("hits"),
          (h, i) => (h("x") + h("y")) * (i + 1)).as("s"))
      .orderBy("row_id")
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(optimized.contains("arrays_zip"),
      s"index-form 2-leaf did not fire:\n$optimized")
    val physical = df.queryExecution.executedPlan.toString
    assert(!physical.contains("payload") && !physical.contains("z:bigint"),
      s"untouched fields survived:\n$physical")
    val got = df.collect().map(_.getSeq[Any](1).toSeq)
    assert(got.toSeq == Seq(Seq(11L, 44L), Seq(), Seq(33L),
      Seq(44L, null, 198L)), got.toSeq.toString)
  }

  test("(c) computed two-leaf array rewrites under With: zip_with fires, " +
    "the filter is evaluated ONCE (RewriteWithExpression hoisted it), " +
    "and no Unevaluable With/CommonExpressionRef survives to execution") {
    val dir = freshDir("graft-r14c") + "/pts"
    pointsDF.write.mode("overwrite").parquet(dir)
    val df = spark.read.parquet(dir)
      .select(col("row_id"),
        transform(filter(col("points"), q => q("x") > 1),
          p => p("x") * p("y")).as("s"))
      .orderBy("row_id")
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(optimized.contains("zip_with"),
      s"computed-array rule did not fire:\n$optimized")
    assert(!optimized.contains("CommonExpression"),
      s"With survived optimization (would be Unevaluable):\n$optimized")
    val filterCount = "filter\\(".r.findAllIn(optimized).size
    assert(filterCount == 1,
      s"computed array evaluated $filterCount times (want 1):\n$optimized")
    val got = df.collect().map(_.getSeq[Long](1).toSeq)
    assert(got.toSeq == Seq(Seq(16L, 21L), Seq(), Seq(24L, 25L), Seq(24L),
      Seq(21L, 16L, 9L)), got.toSeq.toString)
  }

  test("guards hold: whole-element use never rewrites; a user-written " +
    "transform over arrays_zip is left alone (fixpoint-safe)") {
    val df = spark.read.parquet(wideDir)
      .select(transform(col("hits"), h => to_json(h)).as("js"))
    assert(!df.queryExecution.optimizedPlan.toString.contains("arrays_zip"))
    // user-level arrays_zip: rule must not re-zip its own shape
    val zz = spark.read.parquet(wideDir)
      .select(col("row_id"), transform(
        arrays_zip(col("hits.x"), col("hits.y")),
        s => s("x") + s("y")).as("s"))
      .orderBy("row_id")
    val got = zz.collect().map(_.getSeq[Any](1).toSeq)
    assert(got.toSeq == Seq(Seq(11L, 22L), Seq(), Seq(33L),
      Seq(44L, null, 66L)), got.toSeq.toString)
  }
}
