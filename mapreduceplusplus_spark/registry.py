"""Central query registry — the driver-facing correctness contract.

Every operator declared in SURVEY.md §2.B registers here as a named query
(a ``(spark, sf_dir) -> DataFrame`` builder) plus, when SQL-expressible,
an equivalent ANSI-SQL oracle string that DuckDB runs on the same parquet
tables.  ``__spark_entry__.py`` re-exports this registry verbatim.

Conventions that keep the Spark/DuckDB differential check exact:
- every computed column aliased identically on both sides;
- doubles rounded (both sides) so accumulation-order noise cannot flip
  the value hash;
- timestamps rendered to strings (both sides) — no tz-object ambiguity;
- DuckDB ``sum(BIGINT)`` returns HUGEINT → always ``CAST(... AS BIGINT)``
  in oracles; Spark ``F.ceil``/``F.year`` etc. cast to match;
- top-k queries always carry a unique tiebreaker in the ORDER BY;
- SIGNED ZERO: DuckDB ``round()`` is C-style and keeps the sign of a
  tiny negative double (``round(-0.0001, 3)`` → ``-0.0``) while Spark
  ``F.round`` goes through BigDecimal HALF_UP (no signed zero) →
  ``+0.0``; the driver's value hash distinguishes them.  Wherever a
  rounded double can be negative-near-zero (embedding dims/sums,
  cosines, corr/covar), append ``+ 0`` to the oracle column AND
  ``+ F.lit(0.0)`` to the Spark column (IEEE ``-0.0 + 0 = +0.0``).
  Audited round-5 over all round() sites: fixed ``multimodal_columns``
  (head_sum, first_val), ``agg_stats`` (corr_pq, cov_pd),
  ``scalar_array`` (first_dim, head3_sum, max_scaled),
  ``sim_search_topk``/``sim_search_knn_join`` (cosine); all other
  rounded columns are provably non-negative (prices, quantities,
  ratios, counts) or exact 2-decimal differences that cannot land in
  (-0.005, 0).  The local harness (``tests/oracle_harness.py``) is
  deliberately STRICT about -0.0 so it fails exactly where the driver
  would.
"""

from __future__ import annotations

import functools
import importlib
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}

#: modules that register queries on import
_QUERY_MODULES = [
    "mapreduceplusplus_spark.operators.scans",
    "mapreduceplusplus_spark.operators.relational",
    "mapreduceplusplus_spark.operators.aggregates",
    "mapreduceplusplus_spark.operators.joins",
    "mapreduceplusplus_spark.operators.asof",
    "mapreduceplusplus_spark.operators.windows",
    "mapreduceplusplus_spark.operators.setops",
    "mapreduceplusplus_spark.operators.scalars",
    "mapreduceplusplus_spark.plans.queries",
    "mapreduceplusplus_spark.streaming.windows",
    "mapreduceplusplus_spark.streaming.stateful",
    "mapreduceplusplus_spark.llm.dedup",
    "mapreduceplusplus_spark.llm.similarity",
    "mapreduceplusplus_spark.llm.textstats",
    "mapreduceplusplus_spark.llm.multimodal",
    "mapreduceplusplus_spark.llm.pipeline",
    "mapreduceplusplus_spark.sources.custom",
    # new modules append at the END: anything registered here lands
    # outside the external harness's 50-entry window (locally
    # oracle-checked instead) and never displaces a contract row
    "mapreduceplusplus_spark.streaming.sjoin",
    "mapreduceplusplus_spark.operators.timeseries",
    "mapreduceplusplus_spark.operators.advanced",
    "mapreduceplusplus_spark.operators.maintenance",
    "mapreduceplusplus_spark.operators.graph",
    "mapreduceplusplus_spark.operators.ml",
    "mapreduceplusplus_spark.operators.tpch",
    "mapreduceplusplus_spark.llm.packing",
    "mapreduceplusplus_spark.llm.embeddings",
    "mapreduceplusplus_spark.llm.bpe",
    "mapreduceplusplus_spark.streaming.neardup",
]

#: Explicit ordering for the driver-facing dicts.  The external
#: correctness harness records only the FIRST 50 entries of
#: ``queries()`` (in dict order), so the 46 SURVEY §2.B contract
#: queries occupy the head of the dict whatever the module import
#: order.  Slots 47–50 rotate through oracle-bearing queries that have
#: no row yet in any committed ``CORRECTNESS_r*.json``.  Everything
#: else follows in registration order; each of those rows is
#: oracle-checked locally by the pytest differential harness.
_PRIORITY_ORDER = [
    # --- SURVEY §2.B contract (46 named queries) ---
    "scan_parquet",
    "scan_text_wordcount",
    "sink_roundtrip",
    "project_arith",
    "filter_pred",
    "filter_null_semantics",
    "agg_groupby",
    "agg_global",
    "agg_collect_list",
    "agg_distinct",
    "agg_approx_distinct",
    "agg_grouping_sets",
    "agg_having",
    "join_inner_equi",
    "join_broadcast",
    "join_multiway",
    "join_left_outer",
    "join_semi",
    "join_anti",
    "join_theta_range",
    "window_rank",
    "window_topk_per_group",
    "window_running_sum",
    "window_lag_lead",
    "sort_global",
    "sort_limit_topk",
    "set_union_all",
    "set_intersect",
    "set_except",
    "scalar_string",
    "scalar_date",
    "scalar_math",
    "scalar_case_when",
    "scalar_array",
    "scalar_json",
    "udtf_flatmap_generator",
    "udaf_fold",
    "mr_pipeline_api",
    "stream_tumbling_count",
    "stream_sliding_agg",
    "stream_session_window",
    "dedup_exact",
    "dedup_minhash_near",
    "sim_search_topk",
    "text_analysis_stats",
    "multimodal_columns",
    # --- slots 47–50: oracle-bearing rows with no committed driver row
    # (tests/test_oracle_differential.py::
    # test_rotation_slots_are_fresh_oracle_bearing).  Which rows each
    # round rotated is in the committed CORRECTNESS_r*.json files.
    #
    # Remaining never-checked oracle-bearing candidates (r19+): the
    # late-r16 additions stream_dedup_near (the streaming
    # family's only near-dup row), dq_skew_report, and
    # sim_search_sq8_rerank (the int8 ANN tier),
    # sim_search_matryoshka_funnel (the MRL prefix-funnel tier),
    # text_quality_classifier_hashed (the fastText-shape gate),
    # text_encoding_quality (the ftfy-shape mojibake gate),
    # sim_search_ivf_sq8 (the IVF×int8 composite, then its
    # partitioned on-disk twin sim_search_ivf_sq8_partitioned), then
    # sim_search_ivf_kmeans, sim_search_hamming_rerank (then
    # dedup_boilerplate_scrub, sim_search_ivfpq,
    # sim_search_ivfpq_dot, sim_search_ivfpq_l2) — then the standing
    # tail: sim_search_lsh, sim_search_lsh_multiprobe, sim_search_ivf,
    # dedup_url_canonical, dedup_mirror_domains,
    # stream_stream_join_full, text_winnowing_matches,
    # mixture_sample_apply, text_bm25_search, text_heavy_hitters,
    # graph_pagerank, agg_weighted_median, agg_trimmed_mean,
    # sql_passthrough_q1, pack_concat_chunks, scd2_build_validity,
    # window_gaps_islands, text_char_entropy,
    # agg_listagg_within_group.
    "agg_count_min_sketch",
    "dedup_boilerplate_lines",
    "sim_search_triplet_mining_lsh",
    "sim_search_recall_curve",
]

_loaded = False


def _ordered(d: dict) -> dict:
    """Return ``d`` reordered: priority names first (in priority
    order), then the remainder in registration order."""
    head = {k: d[k] for k in _PRIORITY_ORDER if k in d}
    tail = {k: v for k, v in d.items() if k not in head}
    return {**head, **tail}


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Decorator: register a named query and (optionally) its SQL oracle.

    The registered function, which is also what the decorated name
    binds to, pins ``spark.sql.session.timeZone`` to UTC on the session
    it is given before building: timestamp renderings then match the
    UTC-naive DuckDB oracle whatever session the caller built."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name: {name}")

        @functools.wraps(fn)
        def in_utc(spark: SparkSession, *args, **kwargs) -> DataFrame:
            spark.conf.set("spark.sql.session.timeZone", "UTC")
            return fn(spark, *args, **kwargs)

        QUERIES[name] = in_utc
        if oracle is not None:
            ORACLES[name] = oracle
        return in_utc

    return deco


def load_all() -> None:
    """Import every query module exactly once (idempotent).  A listed
    module that fails to import raises: a query family never goes
    missing quietly."""
    global _loaded
    if _loaded:
        return
    for mod in _QUERY_MODULES:
        importlib.import_module(mod)
    _loaded = True


def queries() -> dict[str, QueryFn]:
    load_all()
    return _ordered(QUERIES)


def oracles() -> dict[str, str]:
    load_all()
    return _ordered(ORACLES)
