#!/usr/bin/env python
"""Standing sf1 bench lane (VERDICT r12 #5) — genuine-cardinality
perf tracked round-over-round instead of re-derived ad hoc.

Builds the sf1 fixture with ``make_sf1.py`` (10× REAL key cardinality
derived from the driver's sf0.1 — renamed vocabulary, disjoint
doc/vec/user/order ids; replication-artifact-free, see BASELINE.md
"Round-12 sf1 point") unless a complete one already exists, then runs
``bench.py`` over the standing heavy list and writes
``BENCH_SF1_r{N}.json``.

Usage:  python bench_sf1.py [round_number]   (default: $SPARK_GRAFT_ROUND)
  SPARK_GRAFT_SF1_DIR   fixture dir (default /tmp/sf1)
  SPARK_GRAFT_SF_DIR    source dir  (default /root/testdata/sf0.1)
"""

from __future__ import annotations

import os
import subprocess
import sys

#: the standing sf1 heavy list: the r12 sf1 table's heavies, the r12
#: additions, and each later round's new heavies appended (append-only
#: so round-over-round totals stay comparable on the common prefix)
SF1_QUERIES = [
    # r12 sf1 table (top-10 r11 heavies + MMR)
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
    # r12 additions
    "dedup_semdedup_incremental",
    "sim_search_hybrid_rrf",
    "stream_stream_join_full",
    # r13 additions
    "text_bpe_train",
    "text_token_count_bpe",
    "dedup_substring_spans",
    "sample_cluster_balanced",
    # r13 second-half additions
    "text_perplexity_kneser_ney",
    "dedup_threshold_curve",
    "graph_label_propagation",
    # r14 additions (VERDICT r13 #6: replication fixtures can't see
    # vocab/probe growth — these three carry probe-set / coreset /
    # partition-census costs that only genuine cardinality exposes)
    "sim_search_triplet_mining",
    "sample_kcenter_coreset",
    "graph_modularity",
    # r15 additions (VERDICT r14 #7: the r14 md5-family conversions
    # have new SQL oracles but no genuine-cardinality point —
    # replication fixtures can't see vocabulary/bucket-occupancy
    # growth; dedup_incremental_ingest_near is already above) + the
    # two r15 ops (the ANN-gated miner must show <= ~1/3 of the exact
    # miner's sf1 wall — VERDICT r14 #4's done-criterion)
    "dedup_minhash_near",
    "sim_search_lsh_batch",
    "sim_search_triplet_mining_lsh",
    "dedup_boilerplate_lines",
    # r15 late additions — first lane rows arrive with the r16 run
    # (BENCH_SF1_r15 was recorded before these landed)
    "dedup_boilerplate_scrub",
    "sim_search_hamming_rerank",
    # r16 additions (VERDICT r15 #7: the r15 □→○ conversions lacked a
    # genuine-cardinality point — replication fixtures can't grow
    # centroid/codebook occupancy, sf1's 10× corpus does)
    "sim_search_ivf_kmeans",
    "sim_search_ivfpq",
    # r16 late additions — the continuous-ingest near-dedup twin (its
    # candidate/verify volume tracks sf1's genuine 10× doc cardinality
    # and 10× vocabulary, which replication fixtures can't show) and
    # the skew audit (constant 4-row output at any scale)
    "stream_dedup_near",
    "dq_skew_report",
    # r16 second-half additions — the SQ8 and MRL-funnel ANN tiers
    # (store/code occupancy grows with sf1's genuine 10× corpus) and
    # the hashed quality classifier (10× vocabulary drives genuine
    # bigram-feature and bucket-collision growth replication can't)
    "sim_search_sq8_rerank",
    "sim_search_matryoshka_funnel",
    "text_quality_classifier_hashed",
    # IVF,SQ8 composite: genuine 10x corpus grows cell occupancy AND
    # code mass — the two pruning axes the composite multiplies
    "sim_search_ivf_sq8",
]


def ensure_sf1(src: str, out: str) -> None:
    """Build the fixture once; ``make_sf1.py`` is deterministic, so an
    existing COMPLETE build from the SAME source file versions is
    reused.  Completeness is a ``_COMPLETE`` stamp written AFTER the
    build (the rule ``sources/index_store.py`` follows) — a bare
    files-exist check would permanently adopt a crash-truncated last
    table and poison every future bench run."""
    import json
    import shutil

    from mapreduceplusplus_spark.sources.tables import TABLES

    stamp = json.dumps(
        {
            "src": os.path.abspath(src),
            "files": sorted(
                (
                    t,
                    os.stat(os.path.join(src, f"{t}.parquet")).st_mtime_ns,
                    os.stat(os.path.join(src, f"{t}.parquet")).st_size,
                )
                for t in TABLES
            ),
        }
    )
    marker = os.path.join(out, "_COMPLETE")
    try:
        with open(marker) as fh:
            if fh.read() == stamp:
                return
    except OSError:
        pass
    shutil.rmtree(out, ignore_errors=True)
    subprocess.run(
        [sys.executable, "make_sf1.py", "--src", src, "--out", out],
        check=True,
        cwd=os.path.dirname(os.path.abspath(__file__)),
    )
    with open(marker, "w") as fh:
        fh.write(stamp)


def main() -> None:
    here = os.path.dirname(os.path.abspath(__file__))
    sys.path.insert(0, here)
    rnd = (
        sys.argv[1]
        if len(sys.argv) > 1
        else os.environ.get("SPARK_GRAFT_ROUND", "13")
    )
    src = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out = os.environ.get("SPARK_GRAFT_SF1_DIR", "/tmp/sf1")
    ensure_sf1(src, out)

    env = dict(
        os.environ,
        SPARK_GRAFT_SF_DIR=out,
        BENCH_QUERIES=",".join(SF1_QUERIES),
        # keep the sf1 per-rep detail out of the headline lane's
        # BENCH_DETAIL.json (it clobbered the sf0.1 detail pre-r16)
        BENCH_DETAIL_PATH=os.path.join(here, "BENCH_SF1_DETAIL.json"),
    )
    proc = subprocess.run(
        [sys.executable, "bench.py"],
        env=env,
        cwd=here,
        capture_output=True,
        text=True,
    )
    if proc.returncode != 0:
        # surface bench.py's own traceback instead of an opaque
        # CalledProcessError with the diagnostics swallowed
        sys.stderr.write(proc.stdout)
        sys.stderr.write(proc.stderr)
        raise SystemExit(f"bench.py failed with exit code {proc.returncode}")
    line = proc.stdout.strip().split("\n")[-1]
    path = os.path.join(here, f"BENCH_SF1_r{rnd}.json")
    with open(path, "w") as f:
        f.write(line + "\n")
    print(line)
    print(f"wrote {path}", file=sys.stderr)


if __name__ == "__main__":
    main()
