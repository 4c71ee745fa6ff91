"""The benchmark's workloads.

A workload names registered queries, a number of stream feed files per
stream operator, or both. The JVM resolves every query name against
`SparkEntry.all` and aborts the run on any unknown name. `sf` sizes the
input tables (see gen.py); they are generated once with a fixed seed, so
`--seed` moves only the stream feed split and the kernel inputs.
`passes` is the number of timed passes at `--seconds 30`; other run
lengths scale it (at least two), so both commits of a comparison time
the same number of passes.
"""

# every 27th query of SparkEntry.all in name order, starting at the
# first: a systematic sample of the 243 registered queries (Relational,
# Nested, Dedup, Pipeline and Event queries; the Text queries are in
# corpus_10x), plus a Surface query that writes beside its reads: q178
# writes and reads back JSON, CSV, ORC and text
FIXED_PATH_SAMPLE = [
    "q01_agg_pricing", "q117_budget_select", "q141_ppjoin",
    "q166_mmr_rerank", "q190_temporal_split", "q215_ivf_recall",
    "q23_argsort", "q31_ravel_global", "q59_cosine_dups"]
SOURCE_WRITES = ["q178_source_roundtrip"]

WORKLOADS = {
    # the per-item fixed path on tiny data: session floor, Catalyst and
    # the plans Rules, codegen, job/stage scheduling, source writes beside
    # reads, and per-batch planning, state store and commit for the three
    # stateful stream operators of StreamSoak, drained closed-loop from
    # seeded feed files, one file per micro-batch
    "many_small": {
        "sf": 0.01, "passes": 2, "feed_files": 2,
        "queries": FIXED_PATH_SAMPLE + SOURCE_WRITES,
    },
    # per-row kernels, Aggregator buffers and shuffles: the dedup, text
    # and vector queries that use the plans kernels
    "corpus_10x": {
        "sf": 0.01, "passes": 3,
        "queries": [
            "q141_ppjoin", "q240_kmv_overlap", "q52_lsh_pairs", "q95_tfidf",
            "q131_heavy_hitters", "q148_bpe_encode", "q143_cdc_chunks",
            "q55_cosine_knn"],
    },
}

# the seed of the input tables, whatever the run's --seed
TABLE_SEED = 42
