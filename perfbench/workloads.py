"""The benchmark's workloads: fixture size, query list and shared artifacts.

Every workload runs on a fixture generated from the run's seed at scale
factor 0.01 (the oracle fixture's size); the seed also permutes the query
order of every pass. perfbench/README.md says why each query is there.
"""

# the paper's dataflow: generate -> noise -> shuffle into batches -> decompose
TS_PIPELINE = [
    "gen_sine",                  # Generators: spark.range-built series
    "diff_qsample",              # Diffusion: forward noising q(x_t | x_0)
    "pipeline_shuffle_batches",  # Pipeline: the global-window batch shuffle
    "ts_decompose",              # EventsOps: trend/season/residual of events
]

# the LLM training-data path: text statistics and dedup, then vector search
CURATION_ANN = [
    "text_tfidf",                # TextOps
    "dedup_minhash_pairs",       # Dedup: a consumer of the pinned shingles
    "ann_pq_topk",               # PqOps: PqCodes/PqDists kernels
    "ann_bq_topk",               # BqOps: BqPack kernel, Hamming scoring
]

WORKLOADS = {
    "ts_pipeline": {"scale": 0.01, "queries": TS_PIPELINE, "artifacts": []},
    "curation_ann": {"scale": 0.01, "queries": CURATION_ANN,
                     "artifacts": ["shingles", "pq_codebooks"]},
}
