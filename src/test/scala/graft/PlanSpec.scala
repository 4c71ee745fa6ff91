package graft

import org.apache.spark.sql.functions._

/** Optimizer-parity assertions (reference test_inspect.py asserts
  * necessary-columns sets; here we assert Catalyst's pruning/pushdown on
  * the real plans — SURVEY §4.1, §6: the reference's one optimization is
  * column projection; Spark must deliver it plus predicate pushdown). */
class PlanSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("column pruning: 2-column projection reads 2 columns") {
    val df = Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_quantity"))
    val cols = Inspect.necessaryColumns(df).values.head
    assert(cols.toSet == Set("l_orderkey", "l_quantity"))
  }

  test("pruning survives derived expressions (necessary-columns semantics)") {
    val df = Tables.lineitem(spark, sf)
      .select((col("l_extendedprice") * (lit(1) - col("l_discount"))).as("rev"))
    val cols = Inspect.necessaryColumns(df).values.head
    assert(cols.toSet == Set("l_extendedprice", "l_discount"))
  }

  test("predicate pushdown reaches the parquet scan") {
    val df = Tables.lineitem(spark, sf)
      .filter(col("l_quantity") < 5 && col("l_discount") >= 0.05)
      .select("l_orderkey")
    val pushed = Inspect.pushedFilters(df).mkString(";")
    assert(pushed.contains("l_quantity") && pushed.contains("l_discount"))
    assert(Inspect.necessaryColumns(df).values.head.toSet ==
      Set("l_orderkey", "l_quantity", "l_discount"))
  }

  test("necessaryBuffers: size-only array use reports offsets, not data") {
    // size(embedding) only -> "offsets" (the reference's buffer promotion:
    // num(arr) needs just the offsets buffer, lib/utils.py:107-126)
    val offsetsOnly = Tables.embeddings(spark, sf)
      .select(size(col("embedding")).as("n")).agg(sum("n"))
    val b1 = Inspect.necessaryBuffers(offsetsOnly).values.head
    assert(b1("embedding") == "offsets", s"got $b1")
    // element data consumed too -> "data"
    val dataToo = Tables.embeddings(spark, sf)
      .select(size(col("embedding")).as("n"),
        aggregate(col("embedding"), lit(0.0), (a, x) => a + x.cast("double"))
          .as("s"))
    val b2 = Inspect.necessaryBuffers(dataToo).values.head
    assert(b2("embedding") == "data", s"got $b2")
    // non-array columns are always "data"
    val scalar = Tables.lineitem(spark, sf).select("l_orderkey")
    assert(Inspect.necessaryBuffers(scalar).values.head("l_orderkey") == "data")
  }

  test("dimension joins broadcast (no shuffle of the fact side)") {
    val q4 = SparkEntry.queries("q04_broadcast_dim")(spark, sf)
    assert(Inspect.hasBroadcast(q4))
    val q5 = SparkEntry.queries("q05_star_join")(spark, sf)
    assert(Inspect.hasBroadcast(q5))
  }

  test("per-row array pipeline is shuffle-free (scan -> project, no Exchange)") {
    // Note: HOF lambdas (aggregate/transform) don't enter whole-stage
    // codegen in Spark — the load-bearing property at scale is that the
    // whole pipeline is a single scan+project stage with zero shuffle.
    val df = Tables.embeddings(spark, sf).select(col("vec_id"),
      aggregate(col("embedding"), lit(0.0), (a, x) => a + x.cast("double"))
        .as("s"))
    val plan = Inspect.explainString(df)
    assert(!plan.contains("Exchange"))
    assert(plan.contains("Scan parquet"))
  }

  test("SizeFilterToExists rule rewrites size(filter) > 0 to exists") {
    // must read a real source — a local Seq would be constant-folded into
    // a LocalRelation before the optimized plan is inspectable
    val df = Tables.embeddings(spark, sf)
      .select(col("vec_id"),
        (size(filter(col("embedding"), x => x > 0.2f)) > 0).as("p"))
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(optimized.contains("exists("), s"rule did not fire:\n$optimized")
    assert(!optimized.contains("size("), s"size survived:\n$optimized")
    // semantics preserved vs the unoptimized composed form
    val composed = Tables.embeddings(spark, sf)
      .select(col("vec_id"),
        exists(col("embedding"), x => x > 0.2f).as("p"))
    assert(df.orderBy("vec_id").collect().map(_.getBoolean(1)).toSeq ==
      composed.orderBy("vec_id").collect().map(_.getBoolean(1)).toSeq)
  }

  test("nested schema pruning: one struct field from array<struct> prunes the scan") {
    import spark.implicits._
    val dir = freshDir("graft-nested") + "/pts"
    pointsDF.write.mode("overwrite").parquet(dir)
    // Spark's SchemaPruning does NOT see through HOF lambdas by itself;
    // direct extraction (`points.x` = GetArrayStructFields) prunes. Since
    // round 13 the TransformFieldExtraction rule performs this rewrite
    // mechanically for transform() lambdas (Round13PlanSpec pins it);
    // this test keeps the manual idiom pinned for the shapes the rule
    // skips (index lambdas, >2 leaves, computed arrays).
    val pruned = spark.read.parquet(dir)
      .select(col("row_id"), col("points.x").as("xs"))
    val schemaStr = pruned.queryExecution.executedPlan.toString
    assert(schemaStr.contains("struct<x:bigint>") &&
      !schemaStr.contains("y:bigint"),
      s"nested pruning missing: $schemaStr")
    // and the pruned-extraction form feeds HOFs just fine
    val summed = pruned.select(col("row_id"),
      aggregate(col("xs"), lit(0L), (a, x) => a + x).as("sx"))
    assert(summed.orderBy("row_id").collect().map(_.getLong(1)).toSeq ==
      Seq(6L, 0L, 9L, 6L, 24L))
  }

  test("q100 kmeans: seed table broadcasts; argmin is a hash agg, not a window sort") {
    val plan = Inspect.explainString(
      SparkEntry.queries("q100_kmeans_assign")(spark, sf))
    assert(plan.contains("Broadcast"), plan)
    assert(!plan.contains("Window"), plan)
    // the argmin must be scalar hash aggregations: min(struct)/min_by
    // buffers compile to SortAggregate and would sort all N x k pair rows
    assert(!plan.contains("SortAggregate"), plan)
  }

  test("q98 postings: bounded MinKAgg aggregates without a per-group sort buffer") {
    val plan = Inspect.explainString(
      SparkEntry.queries("q98_postings")(spark, sf))
    // the k-minima UDAF runs in ObjectHashAggregate; a collect_list +
    // slice formulation would force SortAggregate (unbounded buffers)
    assert(plan.contains("ObjectHashAggregate"), plan)
    assert(!plan.contains("SortAggregate"), plan)
  }

  test("top-k compiles to TakeOrderedAndProject (no global sort)") {
    val df = SparkEntry.queries("q08_topk")(spark, sf)
    assert(Inspect.explainString(df).contains("TakeOrderedAndProject"))
  }

  test("q129 fuzzy dedup: blocked window (never a single-partition sort), 2-col scan") {
    val df = SparkEntry.queries("q129_fuzzy_dedup")(spark, sf)
    val plan = Inspect.explainString(df)
    // the sorted-neighborhood pass must be ONE Window over the blocking
    // key — a global row_number (Window with an empty partition spec)
    // would funnel the whole corpus through one task
    assert(plan.contains("Window"), plan)
    assert(!plan.contains("partitionBy=[],"), plan)
    // four lead()s share one window spec -> exactly one Window operator
    // (formatted explain prints each operator twice: tree + "(N) Window")
    assert("\\(\\d+\\) Window\\b".r.findAllIn(plan).size == 1, plan)
    // key normalization prunes the scan to (doc_id, text)
    val cols = Inspect.necessaryColumns(df).values.head
    assert(cols.toSet == Set("doc_id", "text"))
  }

  test("q143 CDC: map-only chunking (no per-char explode), pruned scan") {
    val df = SparkEntry.queries("q143_cdc_chunks")(spark, sf)
    val plan = Inspect.explainString(df)
    // the chunking kernel must appear (codegen'd expression), and the
    // only Generate is the per-CHUNK explode — a per-character explode
    // would make the Generate's output ~64x wider and shuffle it
    assert(plan.contains("cdc_cuts"), plan)
    assert("\\(\\d+\\) Generate\\b".r.findAllIn(plan).size == 1, plan)
    // chash window is partitioned (no global window)
    assert(!plan.contains("partitionBy=[],"), plan)
    assert(Inspect.necessaryColumns(df).values.head.toSet ==
      Set("doc_id", "text"))
  }

  test("q148 BPE encode: no data exchange before the final sort") {
    val df = SparkEntry.queries("q148_bpe_encode")(spark, sf)
    val plan = Inspect.explainString(df)
    // encode is one map stage: the ONLY exchange is the output sort's
    // rangepartitioning — any hashpartitioning would mean the corpus
    // shuffled for a per-row computation
    assert(!plan.contains("hashpartitioning"), plan)
    assert("rangepartitioning".r.findAllIn(plan).size >= 1, plan)
  }

  test("q152 curriculum: windows run over the histogram, not raw rows") {
    val df = SparkEntry.queries("q152_curriculum")(spark, sf)
    val plan = Inspect.explainString(df)
    // the (empty-partition) threshold window is legal ONLY because its
    // input is the distinct-score histogram: assert an Aggregate sits
    // below the Window in the tree (HashAggregate appears before Window
    // in bottom-up formatted order means the window consumes agg output)
    assert(plan.contains("Window"), plan)
    val aggIdx = plan.indexOf("HashAggregate")
    assert(aggIdx >= 0, plan)
    // decile assignment is a broadcast join, not a shuffle of the corpus
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastExchange"), plan)
  }

  test("q158 classifier: one scan, one aggregate, no joins") {
    val df = SparkEntry.queries("q158_classifier")(spark, sf)
    val plan = Inspect.explainString(df)
    // formatted explain prints each operator twice (tree + "(N) Scan"):
    // count the numbered detail headers
    assert("\\(\\d+\\) Scan parquet".r.findAllIn(plan).size == 1, plan)
    assert(!plan.contains("Join"), plan)
    assert(plan.contains("md5_prefix64"), plan)
    assert(Inspect.necessaryColumns(df).values.head.toSet ==
      Set("doc_id", "text"))
  }

  test("q160 novelty: single-pass (exactly one parquet scan)") {
    // regression pin for the round-11 rewrite: the groupBy+join-back
    // occurrence count re-ran the whole scan+shingle+distinct pipeline
    // per join side (branch-dependent filter placement defeated exchange
    // reuse); the count-over-window form has ONE subtree
    val df = SparkEntry.queries("q160_novelty")(spark, sf)
    val plan = Inspect.explainString(df)
    assert("\\(\\d+\\) Scan parquet".r.findAllIn(plan).size == 1, plan)
    assert(!plan.contains("Join"), plan)
  }

  test("q159 incremental dedup: signature pipeline computed once") {
    // the sig table is eagerly localCheckpoint'ed — every consumer must
    // read the materialized RDD, never re-scan the documents parquet
    val df = SparkEntry.queries("q159_incremental_dedup")(spark, sf)
    val plan = Inspect.explainString(df)
    assert(!plan.contains("Scan parquet"), plan)
    assert("Scan ExistingRDD".r.findAllIn(plan).size >= 2, plan)
    assert(plan.contains("ShuffledHashJoin"), plan)
  }

  test("q164 domain cap: WindowGroupLimit bounds per-task state") {
    val df = SparkEntry.queries("q164_domain_cap")(spark, sf)
    val plan = Inspect.explainString(df)
    // two-level: partial (map-side) + final group-limit heaps
    assert("WindowGroupLimit".r.findAllIn(plan).size >= 2, plan)
  }

  test("q167 IVF-PQ: codebook and LUT broadcast; no corpus-wide join") {
    val df = SparkEntry.queries("q167_ivfpq_ann")(spark, sf)
    val plan = Inspect.explainString(df)
    // every join in the plan is broadcast (probes, LUT, rescore) — the
    // corpus-sized side is never shuffled for a join
    assert(plan.contains("BroadcastExchange"), plan)
    assert(!plan.contains("SortMergeJoin") &&
      !plan.contains("ShuffledHashJoin"), plan)
  }
}
