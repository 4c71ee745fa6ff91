package graft

/** Empty-corpus robustness: every corpus-facing query must run (and
  * return an empty or degenerate-but-well-formed result) on zero-row
  * inputs with the production schemas — the first thing a new deployment
  * or an over-aggressive upstream filter feeds the engine. Guards against
  * head()/first()-style assumptions and divide-by-zero in fixed-point
  * arithmetic.
  */
class EmptyInputSpec extends SparkSpec {

  private lazy val emptyDir: String = {
    val dir = freshDir("graft-empty")
    Seq("documents", "embeddings", "events", "lineitem", "orders",
      "customer").foreach {
      t =>
        Tables.table(spark, "/root/testdata/sf0.001", t)
          .limit(0).write.mode("overwrite").parquet(s"$dir/$t.parquet")
    }
    dir
  }

  private val corpusQueries = Seq(
    "q142_bpe_vocab", "q143_cdc_chunks", "q144_pmi_colloc",
    "q145_shuffle_shard", "q147_corpus_report", "q148_bpe_encode",
    "q150_adaptive_filter", "q152_curriculum", "q153_engagement_select",
    "q154_cross_source_dups", "q151_hard_negatives", "q149_rrf_fusion",
    "q50_dedup_exact", "q95_tfidf", "q131_heavy_hitters",
    // round-11 session-2 ops: fixed-point ppm paths, BFS driver loop,
    // construction-time count()/collect() seeds — all must tolerate
    // zero rows
    "q240_kmv_overlap", "q241_triangles", "q242_burstiness",
    "q243_cusum_changepoint", "q244_lexical_complexity",
    "q245_char_diversity", "q246_batch_collision",
    "q247_matryoshka_recall", "q248_ab_permutation", "q249_attribution",
    "q250_deletion_audit", "q251_seasonality", "q252_centroid_drift",
    "q253_chain_depth", "q254_vocab_coverage", "q255_join_advisor",
    "q256_value_quantile_drift", "q257_sq_bits_sweep",
    "q258_norm_health")

  corpusQueries.foreach { name =>
    test(s"$name runs on an empty corpus") {
      val rows = SparkEntry.queries(name)(spark, emptyDir).collect()
      assert(rows != null) // no exception is the contract; row count varies
    }
  }
}
