"""The benchmark's workloads: the registered queries one pass runs, and
the data scale they run at (1.0 = the sf0.01 row counts, see ``gen.py``).

Why each workload exists, and the ones left out, are in ``README.md``.
"""

from __future__ import annotations

WORKLOADS: dict[str, dict] = {
    # user map -> hash shuffle -> per-key fold, mostly in Python workers;
    # scan_text_wordcount is the SQL twin of mr_pipeline_api
    "mapreduce": {
        "scale": 1.0,
        "queries": [
            "mr_pipeline_api",
            "udaf_fold",
            "udtf_flatmap_generator",
            "udtf_arrow_vectorized",
            "udaf_pandas_grouped_agg",
            "stream_stateful_running_total",
            "scan_text_wordcount",
        ],
    },
    # index stores built in set-up, only probed by the timed passes
    "ann_serve": {
        "scale": 1.0,
        "queries": [
            "sim_search_topk",
            "sim_search_hamming_rerank",
            "sim_search_matryoshka_funnel",
            "sim_search_ivfpq",
            "stream_dedup_near",
        ],
    },
    # the harness's self-test (test_smoke.py), not a benchmark workload:
    # one real query and one name that is not registered, so it raises
    "smoke": {
        "scale": 0.1,
        "queries": ["scan_text_wordcount", "no_such_query"],
    },
}
