"""The benchmark's workloads: which library paths each runs, and at
what input size.

``full`` is the size the benchmark measures; ``tiny`` is the smoke
test's (``smoke.py``). ``passes`` is the least number of passes a run
makes: the cold pass, then ``warmup`` warm-up passes, then the warm
passes whose median is ``warm_s``. In ``llm_curation`` each warm pass is
still faster than the last through the fifth (about 4.6, 4.1, 3.9, 3.7
and 3.6 s) as the JIT compiles, so its first two are warm-up: over ten
runs the median of the last three spread 0.04, that of all five 0.085.
The ETL pass is the longest, so it gets three warm passes and no
warm-up: leaving out its first warm pass made the median of the other
two spread more (0.06), not less (0.04).

``BENCHMARK.json`` lists ``etl_snapshot`` and ``llm_curation``.
``sql_analytics`` is left out of it: its warm passes are short and
still speeding up as the JIT compiles, so their time moved by 15-19 %
between runs, and a run long enough to steady it did not fit the time
budget next to the other two. It can still be run by hand
(``--workload sql_analytics``) as the JVM-only control.
"""

LLM_UNITS = [
    "pipeline_web_curation",
    "dedup_minhash_lsh",
    "sim_ivf_topk",
]

SQL_UNITS = [
    "tpch_q9_product_type_profit",
    "tpch_q18_large_volume_customer",
    "tpch_q21_waiting_supplier",
    "w1_row_number_topk_per_group",
    "snapshot_cdc_diff",
    "flagship_pr_snapshot",
]

ETL_REPOS = ("acme/widgets",)
ETL_UNITS = ("etl.cli", "streaming.landing", "sinks.compact", "sinks.readback")
ETL_DATE = "2026-04-01"

WORKLOADS = {
    "etl_snapshot": {
        "full": {"prs": 200, "passes": 4, "warmup": 0},
        "tiny": {"prs": 50, "passes": 3, "warmup": 0},
    },
    "llm_curation": {
        "full": {"sf": 0.01, "units": LLM_UNITS, "passes": 6, "warmup": 2},
        "tiny": {"sf": 0.001, "units": LLM_UNITS, "passes": 4, "warmup": 2},
    },
    "sql_analytics": {
        "full": {"sf": 0.01, "units": SQL_UNITS, "passes": 4, "warmup": 0},
        "tiny": {"sf": 0.001, "units": SQL_UNITS, "passes": 3, "warmup": 0},
    },
}
