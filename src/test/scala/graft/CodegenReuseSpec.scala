package graft

import org.apache.spark.metrics.source.CodegenMetrics

/** Generated-class reuse across query executions. The session's codegen
  * class cache (`GraftSession.builder`) holds the suite's working set, so
  * re-executing a query compiles nothing even after other queries have
  * compiled more classes than Spark's default cache (100 entries, LRU)
  * keeps. The queries are ones whose generated code is the same on every
  * execution: plans whose AQE stage order, count-distinct grouping or
  * LIMIT counter vary per run recompile a few classes on any cache size.
  */
class CodegenReuseSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"
  private val first = "q01_agg_pricing"
  // 303 distinct classes in a fresh JVM at this sf (measured), and still
  // ~200 after every registered query has run once as a count(), as the
  // smoke spec does: well over Spark's default 100-entry cache in any
  // suite order
  private val others = Seq("q85_window_family", "q203_mixture_weights",
    "q154_cross_source_dups", "q145_shuffle_shard", "q16_percentiles",
    "q86_group_topk", "q248_ab_permutation", "q159_incremental_dedup",
    "q250_deletion_audit", "q222_vocab_coverage", "q211_contribution_cap",
    "q202_zipf_profile", "q196_pseudonymize", "q214_tokenizer_fertility",
    "q91_sketches")

  private def compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private def run(name: String): Unit = {
    SparkEntry.queries(name)(spark, sf)
      .write.format("noop").mode("overwrite").save()
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
  }

  test("a warm re-execution compiles nothing after >100 other classes") {
    run(first)
    val c0 = compiles
    others.foreach(run)
    val between = compiles - c0
    info(s"$between classes compiled between the two executions")
    assert(between > 100, "too few classes in between to evict from a " +
      "100-entry cache")
    val c1 = compiles
    run(first)
    assert(compiles - c1 == 0, s"warm $first recompiled ${compiles - c1} classes")
  }
}
