#!/usr/bin/env python
"""Benchmark harness — times one lane of queries and prints ONE JSON line.

Usage:  python bench.py [headline|sf1|tpch]     (default: headline)
  SPARK_GRAFT_SF_DIR   parquet dir (default /root/testdata/sf0.1)
  SPARK_GRAFT_CPUS     local[] parallelism (default: os.cpu_count())
  BENCH_QUERIES        comma-separated subset override
  BENCH_REPS           reps per query (default 3)

The sf1 lane times the 10x fixture ``make_sf1`` derives from the
parquet dir.

Each query is executed to completion with the ``noop`` write sink so the
full plan runs (a bare ``count()`` would let Catalyst prune projections
and undercount the work).  Wall time excludes JVM/session startup; a
warmup query primes codegen and the parquet footer cache.  Reps run
round-robin over the lane, so a load window on the box lands on one rep
index of every row instead of on a block of adjacent rows.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
from typing import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import make_sf1  # noqa: E402
from mapreduceplusplus_spark import registry  # noqa: E402
from mapreduceplusplus_spark.session import get_spark  # noqa: E402
from mapreduceplusplus_spark.sources.index_store import ensure_store  # noqa: E402
from mapreduceplusplus_spark.sources.memo import release  # noqa: E402
from mapreduceplusplus_spark.sources.tables import (  # noqa: E402
    TABLES,
    dataset_fingerprint,
    path_fingerprint,
)

#: queries that represent every operator family at its heaviest
HEADLINE = [
    "agg_groupby",            # TPC-H Q1 flagship: scan+filter+hash-agg
    "scan_text_wordcount",    # the reference's flagship MR job
    "project_arith",          # narrow map-side projection throughput
    "join_multiway",          # TPC-H Q5-shape 6-table star join
    "join_inner_equi",        # shuffle join orders⋈customer
    "window_topk_per_group",  # partitioned window + filter
    "sort_limit_topk",        # TakeOrdered global top-k
    "set_except",             # shuffle-dedup set op
    "agg_distinct",           # multi-distinct EXPAND
    "scalar_json",            # JSON extraction over events
    "dedup_minhash_near",     # MinHash-LSH sketch + band join + verify
    "dedup_ngram_jaccard",    # lossless prefix-filtered exact Jaccard
    "dedup_containment_quotes",  # asymmetric containment (quote/subset dedup)
    "text_winnowing_matches",  # MOSS winnowing fingerprint matching
    "text_heavy_hitters",     # Misra-Gries candidates + exact verify
    "text_bm25_search",       # BM25 ranked retrieval, two map-side passes
    "stream_session_window",  # session-window stateful agg (batch form)
    "sim_search_topk",        # brute-force cosine top-k over embeddings
    "text_analysis_stats",    # narrow per-doc token statistics
    "multimodal_columns",     # struct/map/binary metadata join
    "stream_stateful_running_total",  # Arrow run-streaming stateful fold
    "pipeline_clean_corpus",  # composed cleaning pipeline (1 shuffle)
    "subquery_correlated",    # decorrelated Q17-shape scalar subquery
    "stream_stream_join",     # time-band attribution join (batch form)
    "text_repetition_filter", # sorted-run HOF quality gate, zero shuffle
    "sim_search_knn_join",    # broadcast probe-set k-NN (quadratic-ish)
    "dedup_decontaminate",    # bag-fingerprint broadcast anti-join
    "pipeline_corpus_end2end",  # clean→decontaminate→split, one plan
    "ts_resample_gapfill",    # generated-grid resample + window fills
    "window_decay_ema",       # frame collect + BIGINT Horner fold
    "join_interval_overlap",  # day-bucketed no-equi-key range join
    "window_sessionize",      # gap sessionization, 1 shuffle, 2 windows
    "join_market_basket",     # self-join pair co-occurrence + top-k
    "tpch_q10_returned_items",  # TPC-H Q10 4-table join, integer-exact revenue
    "graph_triangle_count",   # oriented triangle counting (5 joins, 2 aggs)
    "ml_kmeans_lloyd",        # 2 quantized Lloyd iterations (iterative ML)
    "graph_pagerank",         # 3 quantized power iterations (iterative graph)
    "tpch_q8_market_share",   # deepest TPC-H join tree (7 tables, AQE-converted joins)
    "pack_bins_nextfit",      # per-shard Arrow stateful fold (sequence packing)
    "events_power_users_pareto",  # two-pass bucketed Lorenz/Pareto rank
    "pipeline_dedup_end2end",  # clusters -> canonical -> scrub, one governed job
    "text_perplexity_bigram",  # corpus-trained bigram-LM quality filter
    "ml_naive_bayes",          # one-job relational NB train+apply
    "pipeline_perplexity_gate",  # NLL + two-pass decile rank + manifest
    "graph_sssp",              # frontier BFS, O(eccentricity) joined rounds
    "cdc_incremental_diff",    # log collapse + one-join incremental CDC
    "udtf_arrow_vectorized",   # vectorized Python UDTF word explosion
    "dedup_semdedup",          # kmeans gate + within-cluster cosine + CC
    "dedup_incremental_ingest_near",  # persisted band index probe + verify
    "sim_search_mmr_rerank",   # top-k pool + 5 unrolled greedy argmax picks
    "stream_stream_join_left",  # left-outer time-band attribution (batch)
    "dedup_semdedup_incremental",  # cid-partitioned member index probe + Arrow verify
    "sim_search_hybrid_rrf",   # BM25 ⊕ cosine reciprocal-rank fusion
    "stream_stream_join_full",  # full-outer attribution (both null sides)
    "graph_label_propagation",  # 3 synchronous LPA rounds (argmax aggs)
    "text_perplexity_kneser_ney",  # KN bigram LM, integer-ratio smoothing
    "dedup_threshold_curve",   # J>=1/2 prefix pass + 5-point integer sweep
    "dedup_url_canonical",     # URL canonicalize + domain dup governance
    "dedup_mirror_domains",    # cross-domain mirror clusters by content fp
    "dedup_boilerplate_lines",  # per-domain CCNet boilerplate df gate
    "sim_search_triplet_mining_lsh",  # ANN-gated hard-negative mining
    "sim_search_hamming_rerank",  # 1-bit binary-sketch pool + exact rerank
    "sim_search_recall_curve",  # cross-ladder recall/cost readout, 9 tiers
    "stream_dedup_near",  # continuous-ingest near-dedup, arrival-order semantic
    "dq_skew_report",  # shuffle-key skew audit: heaviest key + salt factor
    "sim_search_sq8_rerank",  # int8 scalar-quantization ANN tier + exact re-rank
    "sim_search_matryoshka_funnel",  # MRL 16-dim prefix funnel + exact re-rank
    "text_quality_classifier_hashed",  # fastText-shape hashed linear quality gate
    "sim_search_ivf_sq8",  # IVF,SQ8 composite: cell pruning x int8 codes
]

#: the queries whose cost grows with key cardinality (vocabulary, probe
#: sets, centroid and code occupancy), timed at 10x genuine cardinality
#: on the ``make_sf1`` fixture; append-only, so lane totals stay
#: comparable on the common prefix
SF1_QUERIES = [
    "pipeline_dedup_end2end",
    "dedup_semdedup",
    "graph_sssp",
    "dedup_incremental_ingest_near",
    "pipeline_perplexity_gate",
    "dedup_containment_quotes",
    "ml_naive_bayes",
    "dedup_ngram_jaccard",
    "text_winnowing_matches",
    "stream_stateful_running_total",
    "sim_search_mmr_rerank",
    "dedup_semdedup_incremental",
    "sim_search_hybrid_rrf",
    "stream_stream_join_full",
    "text_bpe_train",
    "text_token_count_bpe",
    "dedup_substring_spans",
    "sample_cluster_balanced",
    "text_perplexity_kneser_ney",
    "dedup_threshold_curve",
    "graph_label_propagation",
    "sim_search_triplet_mining",
    "sample_kcenter_coreset",
    "graph_modularity",
    "dedup_minhash_near",
    "sim_search_lsh_batch",
    "sim_search_triplet_mining_lsh",
    "dedup_boilerplate_lines",
    "dedup_boilerplate_scrub",
    "sim_search_hamming_rerank",
    "sim_search_ivf_kmeans",
    "sim_search_ivfpq",
    "stream_dedup_near",
    "dq_skew_report",
    "sim_search_sq8_rerank",
    "sim_search_matryoshka_funnel",
    "text_quality_classifier_hashed",
    "sim_search_ivf_sq8",
]

#: lane name -> the queries it times; ``tpch`` is Q1 and Q5 plus every
#: registered ``tpch_q*`` query
LANES = {
    "headline": HEADLINE,
    "sf1": SF1_QUERIES,
    "tpch": ["agg_groupby", "join_multiway"]
    + sorted(n for n in registry.queries() if n.startswith("tpch_q")),
}

#: frozen-plan query timed warm once per rep: its drift across reps
#: measures the box (CPU contention, page cache, GC), not the code
CALIBRATION = "scan_parquet"


def sf1_fixture(src: str) -> str:
    """The sf1 dataset ``make_sf1.build`` derives from ``src``, kept as
    an index store: a later run adopts it, and a rewritten source
    table or generator names a new one."""
    fp = (
        tuple(dataset_fingerprint(src, t) for t in TABLES),
        make_sf1.K,
        path_fingerprint(make_sf1.__file__),
    )
    return ensure_store("sf1", src, fp, lambda out: make_sf1.build(src, out))


def run_reps(
    names: list[str], reps: int, run: Callable[[str], float]
) -> dict[str, list[float]]:
    """``run(name)`` for every name, ``reps`` rounds round-robin; each
    name's readings in rep order."""
    times: dict[str, list[float]] = {n: [] for n in names}
    for _ in range(reps):
        for n in names:
            times[n].append(run(n))
    return times


def report(
    lane: str, raw: dict[str, list[float]], calib_reps: list[float], sf: float | None
) -> tuple[dict, str]:
    """The detail record and the printed line for one lane's readings
    (``run_reps`` output, calibration readings apart)."""
    times = {n: min(r) for n, r in raw.items()}
    head = {
        "metric": f"{lane}_total_wall",
        "value": round(sum(times.values()), 3),
        "unit": "sec",
    }
    detail = {
        **head,
        "queries": times,
        "queries_detail": {
            n: {
                "min": times[n],
                "median": round(statistics.median(r), 3),
                "reps_raw": r,
            }
            for n, r in raw.items()
        },
        "calibration_scan_parquet_sec": min(calib_reps),
        "calibration_reps_raw": calib_reps,
        "sf": sf,
        "reps": len(calib_reps),
    }
    # The line is read from a BOUNDED tail of the output, so it is
    # kept minimal while the detail file keeps full precision: seconds
    # at 2 decimals, and a per-query spread (max−min over the reps) only
    # where it exceeds 0.5 s — enough to tell noise from drift without
    # a re-run.  test_bench_line_diet_synthetic_80_query_line_is_bounded
    # pins the size budget.
    line = json.dumps(
        {
            **head,
            "queries": {n: round(t, 2) for n, t in times.items()},
            "qspread": {
                n: round(max(r) - min(r), 2)
                for n, r in raw.items()
                if max(r) - min(r) > 0.5
            },
            "calibration": min(calib_reps),
            "sf": sf,
            "reps": len(calib_reps),
        },
        separators=(",", ":"),
    )
    return detail, line


def run_one(spark, fn, sf_dir: str) -> float:
    t0 = time.perf_counter()
    df = fn(spark, sf_dir)
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def main() -> None:
    args = sys.argv[1:] or ["headline"]
    if len(args) != 1 or args[0] not in LANES:
        sys.exit(f"usage: python bench.py [{'|'.join(LANES)}]")
    lane = args[0]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).removeprefix("sf"))
    except ValueError:
        sf = None
    if lane == "sf1":
        sf_dir = sf1_fixture(sf_dir)
        sf = None if sf is None else sf * make_sf1.K
    spark = get_spark(app_name="bench")
    # Quiet `WindowExec: No Partition Defined` for THIS harness only:
    # every unpartitioned window in the suite is bounded by
    # construction (a rank column over a post-`limit(k)` frame or a
    # ≤|buckets| census; the unbounded-broadcast/collect gates live in
    # tests/test_broadcast_scale.py), so the warning is noise in the
    # output tail.  Data-path plans are untouched.
    jvm = spark.sparkContext._jvm
    jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
        "org.apache.spark.sql.execution.window.WindowExec",
        jvm.org.apache.logging.log4j.Level.ERROR,
    )
    qs = registry.queries()
    names = [n for n in os.environ.get("BENCH_QUERIES", "").split(",") if n] or [
        n for n in LANES[lane] if n in qs
    ]
    names = [n for n in dict.fromkeys(names) if n != CALIBRATION]
    reps = max(1, int(os.environ.get("BENCH_REPS", "3")))

    # warmup: prime codegen, Arrow, and every table's parquet footer —
    # the calibration query touches all 10 tables and is NOT timed as a
    # query, so no timed query gets a cache advantage over the others
    run_one(spark, qs[CALIBRATION], sf_dir)

    def timed_cold(name: str) -> float:
        t = round(run_one(spark, qs[name], sf_dir), 3)
        # queries memoize what they derive from a dataset (persisted
        # shingle/band frames, BPE state, IVF seed centroids and probe);
        # drop every memo so each timed run (including each rep) is
        # self-contained — no cross-query OR cross-rep cache help
        release()
        return t

    # best-of-N: single-run wall times on a shared box swing ±30% (GC,
    # compilation, page cache), so the minimum over the reps is the
    # headline number; the median and the raw readings in rep order
    # (beside the per-rep calibration) make a loaded-box artifact
    # self-diagnosing instead of a phantom regression
    raw = run_reps([CALIBRATION, *names], reps, timed_cold)
    calib_reps = raw.pop(CALIBRATION)
    detail, line = report(lane, raw, calib_reps, sf)
    suffix = "" if lane == "headline" else f"_{lane.upper()}"
    here = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(here, f"BENCH{suffix}_DETAIL.json"), "w") as f:
        json.dump(detail, f, indent=1)
    spark.stop()
    # the line is the FINAL stdout bytes, after spark.stop(), so
    # nothing can push it out of the tail buffer
    print(line)


if __name__ == "__main__":
    main()
