package graft

import org.apache.spark.sql.functions._
import graft.functions.{ArrayOps, Reducers}

/** Moderate-scale jagged-data stress: 50k rows of array<struct<x,y>> with
  * jagged lengths 0-9, written to parquet and processed two independent
  * ways — (a) the nested per-row operator pipeline, (b) the exploded
  * relational equivalent. Both must agree exactly. This is the differential
  * idiom of the reference's test suite at a size where partitioning and
  * columnar batching actually engage.
  */
class NestedStressSpec extends SparkSpec {
  import spark.implicits._

  test("bindOnce primitives stay linear on COMPUTED inputs (adversarial sizes)") {
    // Each op gets a computed (non-attribute) input — the shape where a
    // missing alias barrier turns O(n) per row into O(n²): the lambda
    // would re-evaluate the split/sequence per element. 5k-element lists
    // make the quadratic form minutes-slow; the whole block must run in
    // seconds. Results are also value-checked against closed forms.
    val n = 5000
    val df = Seq(0L).toDF("row_id")
      .withColumn("text", concat_ws(" ",
        transform(sequence(lit(1), lit(n)), i => concat(lit("w"), i % 97))))
    val start = System.nanoTime()
    val sh = df.select(graft.functions.TextOps
      .shingles(split(col("text"), " "), 3).as("s")).head.getSeq[String](0)
    assert(sh.size == n - 2)
    val gathered = df.select(graft.functions.ArrayOps.gather(
      split(col("text"), " "),
      sequence(lit(0), lit(n - 1))).as("g")).head.getSeq[String](0)
    assert(gathered.size == n)
    val chunks = df.select(graft.functions.ArrayOps.chunk(
      split(col("text"), " "), 10).as("c")).head.getSeq[Seq[String]](0)
    assert(chunks.size == n / 10)
    val padded = df.select(graft.functions.ArrayOps.padNone(
      slice(split(col("text"), " "), 1, 100), 6000, clip = true).as("p"))
      .head.getSeq[String](0)
    assert(padded.size == 6000)
    val softmax = df.select(graft.functions.Reducers.softmaxArr(
      transform(sequence(lit(1), lit(n)), i => i.cast("double") / n))
      .as("sm")).head.getSeq[Double](0)
    assert(softmax.size == n && math.abs(softmax.sum - 1.0) < 1e-9)
    val elapsed = (System.nanoTime() - start) / 1e9
    assert(elapsed < 30.0,
      s"bindOnce primitives took ${elapsed}s on ${n}-element computed inputs — quadratic?")
  }

  test("nested pipeline == exploded relational computation on 50k jagged rows") {
    val dir = freshDir("graft-stress") + "/pts"
    // deterministic jagged generator, built as expressions (no driver loop)
    spark.range(0, 50000).toDF("row_id")
      .withColumn("n", pmod(col("row_id") * 2654435761L, lit(10)).cast("int"))
      .withColumn("points", transform(sequence(lit(1), col("n")),
        i => struct(
          (pmod(col("row_id") * 31 + i, lit(1000)) - 500).as("x"),
          (pmod(col("row_id") * 17 + i * 7, lit(1000)) - 500).as("y"))))
      .drop("n")
      .repartition(16)
      .write.mode("overwrite").parquet(dir)

    val df = spark.read.parquet(dir)

    // (a) nested pipeline: per-row filter, sum, count; then global agg
    val nested = df.select(
      col("row_id"),
      Reducers.sumArrLong(transform(
        filter(col("points"), p => p.getField("x") > 0),
        p => p.getField("y"))).as("pos_y_sum"),
      ArrayOps.num(col("points")).as("n_pts"))
    val a = nested.agg(
      sum("pos_y_sum").as("total"),
      sum("n_pts").as("n"),
      count(lit(1)).as("rows")).head()

    // (b) exploded relational equivalent
    val b = df.select(col("row_id"), explode_outer(col("points")).as("p"))
      .agg(
        sum(when(col("p.x") > 0, col("p.y")).otherwise(0L)).as("total"),
        sum(when(col("p").isNotNull, 1L).otherwise(0L)).as("n"),
        countDistinct("row_id").as("rows")).head()

    assert(a.getLong(0) == b.getLong(0), "pos_y_sum mismatch")
    assert(a.getLong(1) == b.getLong(1), "point count mismatch")
    assert(a.getLong(2) == b.getLong(2) && a.getLong(2) == 50000L)

    // plan sanity at this size: the nested path has no shuffle before agg
    val plan = Inspect.explainString(nested)
    assert(!plan.contains("Exchange"))
  }
}
