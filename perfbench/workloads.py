"""The benchmark's workloads: inputs, operation mix and engine settings.

Every run of a workload attempts whole passes over the same ops, so the
share of failed ops does not depend on the seed or the run length.
`pass_s` is a warm pass's nominal time on the reference machine (4
cores); a run of `--seconds` makes round(seconds / pass_s) warm passes.
`setup_rounds` is how often a run sets the engine up; `setup_s` is the
median of the second half of the rounds.
"""
import os

CPUS = min(4, os.cpu_count() or 1)   # local[N]
HEAP = "2g"                         # fixed and pre-touched (engine build)
SETTLE_PASSES = 2                   # after the cold pass, before warm ones

# A systematic sample of SparkEntry.queries: every 20th runnable query
# by name. q195/q196 are not runnable here: they read the reference
# checkout.
SUITE_OPS = [
    "q01_pricing_summary", "q110_privacy_smallgroups",
    "q129_bloom_decontamination", "q147_contamination_radius",
    "q165_incremental_neardup", "q183_parameterized_sql", "q22_grep",
    "q42_csv_source", "q62_corpus_curation", "q82_kmeans",
]

# the repository's sf0.01 test fixture (TESTDATA.md), byte for byte
SF001 = {"dir": "fixture/sf0.01",
         "sha256": "5e9c8548805a0dbf1dede7b12bcab9bf470c365b11a2eabab7ca5ce36a6e06dd"}

WORKLOADS = {
    "suite_sf001": {
        "kind": "queries", "gen": "fixture", "shape": SF001, "ops": SUITE_OPS,
        "pass_s": 3.5, "setup_rounds": 8,
    },
    "mapreduce_text": {
        "kind": "jobs", "gen": "text",
        "shape": {"files": 8, "bytes": 4 << 20, "vocab": 20000},
        "ops": ["mr_wordcount", "mr_grep", "submit_wordcount", "submit_grep"],
        "reducers": 4, "mappers": 8, "pass_s": 3.0, "setup_rounds": 48,
    },
}
