"""Aggregation operators (reference heritage: A7 group-by-key +
A8 fold-reduce, ``src/worker.cc:208-243``).

The reference groups by materializing every value into a per-key
``std::vector`` inside a single-threaded ordered map — no combiner, no
spill (``src/worker.cc:173-182`` ships every (k,v) pair across the
shuffle).  Here every aggregate is a Catalyst hash-aggregate with
map-side partial aggregation, codegen, and sort-based spill fallback —
the shuffle carries one partial row per (task, key), not one per record,
which is the difference between 623k shuffled pairs and 22k at the
reference's own demo scale, and between feasible and impossible at 100 TB.

``agg_collect_list`` reproduces the reference's literal grouped-list
model (sorted value list per key) where list semantics are genuinely
wanted; everything else folds to scalar aggregates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduceplusplus_spark.registry import query
from mapreduceplusplus_spark.sources.tables import load_table


def tpch_q1(lineitem: DataFrame, cutoff: str = "1998-09-02") -> DataFrame:
    """Flagship query: TPC-H Q1 shape — the reference's whole pipeline
    shape (scan → filter → project → hash-agg → sort) on one fact table.

    Scale: filter + column pruning push into the parquet scan; the
    group-by has 6 groups so the shuffle after partial aggregation is
    tiny regardless of input size.  This plan is flat-scan-bound at any
    scale factor.
    """
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        lineitem.where(F.col("l_shipdate") <= F.lit(cutoff).cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(charge), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


#: the flagship Q1 text, written in the Spark-SQL ∩ DuckDB dialect
#: intersection.  ONE constant, two consumers: the oracle here and the
#: ``sql_passthrough_q1`` query (``plans/queries.py``), which executes
#: it verbatim through ``spark.sql`` — shared so the two registered Q1
#: semantics can never drift apart.
TPCH_Q1_SQL = """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2)                                        AS sum_qty,
           round(sum(l_extendedprice), 2)                                   AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2)                AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)  AS sum_charge,
           round(avg(l_quantity), 6)                                        AS avg_qty,
           round(avg(l_extendedprice), 6)                                   AS avg_price,
           round(avg(l_discount), 6)                                        AS avg_disc,
           count(*)                                                         AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """


@query("agg_groupby", oracle=TPCH_Q1_SQL)
def agg_groupby(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tpch_q1(load_table(spark, sf_dir, "lineitem"))


@query(
    "agg_global",
    oracle="""
    SELECT count(*)                               AS n_rows,
           CAST(count(l_orderkey) AS BIGINT)      AS n_orderkeys,
           round(sum(l_quantity), 2)              AS sum_qty,
           round(avg(l_extendedprice), 6)         AS avg_price,
           round(min(l_extendedprice), 2)         AS min_price,
           round(max(l_extendedprice), 2)         AS max_price,
           strftime(min(l_shipdate), '%Y-%m-%d')  AS min_shipdate,
           strftime(max(l_shipdate), '%Y-%m-%d')  AS max_shipdate
    FROM lineitem
    """,
)
def agg_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ungrouped aggregates (reference A8 fold with a single global key)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.agg(
        F.count("*").alias("n_rows"),
        F.count("l_orderkey").alias("n_orderkeys"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
        F.round(F.min("l_extendedprice"), 2).alias("min_price"),
        F.round(F.max("l_extendedprice"), 2).alias("max_price"),
        F.date_format(F.min("l_shipdate"), "yyyy-MM-dd").alias("min_shipdate"),
        F.date_format(F.max("l_shipdate"), "yyyy-MM-dd").alias("max_shipdate"),
    )


@query(
    "agg_collect_list",
    oracle="""
    SELECT l_orderkey,
           array_to_string(list_sort(list(l_linenumber)), ',') AS linenumbers,
           CAST(count(*) AS BIGINT)                            AS n_lines
    FROM lineitem
    GROUP BY l_orderkey
    """,
)
def agg_collect_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's literal reduce-side data model: all values of a key
    gathered into a sorted list (``std::map<K, vector<V>>``,
    ``src/worker.cc:208``).  Rendered as a CSV string so the value hash is
    representation-stable across engines.

    Scale: collect_list is the one aggregate whose state is O(group size);
    acceptable here because group = lines-per-order (bounded ≤ 7 by the
    generator); for unbounded groups prefer scalar folds.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_orderkey").agg(
        F.array_join(
            F.transform(F.sort_array(F.collect_list("l_linenumber")), lambda x: x.cast("string")),
            ",",
        ).alias("linenumbers"),
        F.count("*").alias("n_lines"),
    )


@query(
    "agg_distinct",
    oracle="""
    SELECT l_returnflag,
           CAST(count(DISTINCT l_partkey) AS BIGINT)  AS n_parts,
           CAST(count(DISTINCT l_suppkey) AS BIGINT)  AS n_supps,
           round(sum(DISTINCT l_quantity), 2)         AS sum_distinct_qty
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT/SUM(DISTINCT).  Spark expands multi-distinct via EXPAND —
    each distinct column multiplies the pre-shuffle row count; at 100 TB
    prefer approx_count_distinct (see agg_approx_distinct) when exactness
    is not required."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
        F.round(F.sum_distinct(F.col("l_quantity")), 2).alias("sum_distinct_qty"),
    )


@query(
    "agg_approx_distinct",
    oracle="""
    SELECT l_returnflag,
           CAST(count(DISTINCT l_partkey) AS BIGINT)  AS exact_parts,
           CAST(count(DISTINCT l_orderkey) AS BIGINT) AS exact_orders,
           TRUE AS parts_within_tol,
           TRUE AS orders_within_tol
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct estimate — the scale path for cardinality:
    constant memory per group, single shuffle of sketch buffers, no EXPAND.

    Hash-checkable contract (r14, VERDICT r13 #3 — this row was the
    driver window's permanent ``no_oracle`` err): the result carries
    the DETERMINISTIC columns (group key, exact distinct counts) plus
    ``*_within_tol`` booleans asserting the HLL estimate sits within
    5× its configured 1% rsd of the exact count (``|approx−exact|·100
    ≤ 5·exact``); the oracle states the exact counts and literal TRUE.
    The HLL path is still exercised end-to-end — a broken sketch flips
    a boolean and hash-mismatches — while the comparison is exact.
    The exact countDistincts exist here only as the audit yardstick
    (they re-introduce EXPAND); the production 100 TB form is the
    HLL-only aggregate in the first two agg expressions."""
    li = load_table(spark, sf_dir, "lineitem")
    est = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey", 0.01).alias("ap"),
        F.approx_count_distinct("l_orderkey", 0.01).alias("ao"),
        F.countDistinct("l_partkey").alias("exact_parts"),
        F.countDistinct("l_orderkey").alias("exact_orders"),
    )
    return est.select(
        "l_returnflag",
        "exact_parts",
        "exact_orders",
        (
            F.abs(F.col("ap") - F.col("exact_parts")) * 100
            <= 5 * F.col("exact_parts")
        ).alias("parts_within_tol"),
        (
            F.abs(F.col("ao") - F.col("exact_orders")) * 100
            <= 5 * F.col("exact_orders")
        ).alias("orders_within_tol"),
    )


@query(
    "agg_grouping_sets",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT) AS grp,
           round(sum(l_quantity), 2) AS sum_qty,
           count(*)                  AS n
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy totals (grouping-sets family).  Spark plans this
    as a single EXPAND + hash aggregate — one pass over the fact table."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.grouping_id().cast("bigint").alias("grp"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.count("*").alias("n"),
    )


@query(
    "agg_cube",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_extendedprice), 2) AS sum_price,
           count(*)                       AS n
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
        F.count("*").alias("n"),
    )


@query(
    "agg_having",
    oracle="""
    SELECT o_custkey,
           count(*)                   AS n_orders,
           round(sum(o_totalprice), 2) AS total_spent
    FROM orders
    GROUP BY o_custkey
    HAVING count(*) > 12
    """,
)
def agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-aggregation filter (HAVING).  The predicate applies after the
    hash-agg; Catalyst cannot push it into the scan, but the agg output is
    |customers|-sized, so the filter is cheap at any scale."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_custkey")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_spent"),
        )
        .where(F.col("n_orders") > 12)
    )


@query(
    "agg_pivot",
    oracle="""
    SELECT l_returnflag,
           round(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END), 2) AS qty_O,
           round(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END), 2) AS qty_F
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot with an explicit value list (no second distinct-values pass)."""
    li = load_table(spark, sf_dir, "lineitem")
    piv = (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.round(F.sum("l_quantity"), 2))
    )
    return piv.select(
        "l_returnflag",
        F.col("O").alias("qty_O"),
        F.col("F").alias("qty_F"),
    )


@query(
    "agg_median",
    oracle="""
    SELECT l_returnflag,
           round(quantile_cont(l_extendedprice, 0.5), 6)  AS median_price,
           round(quantile_cont(l_quantity, 0.9), 6)       AS p90_qty
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (Spark ``percentile`` == DuckDB
    ``quantile_cont``).  Exact percentile sorts per group; the 100 TB path
    is ``percentile_approx`` (KLL-sketch-like, mergeable, fixed memory)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.expr("percentile(l_extendedprice, 0.5)"), 6).alias("median_price"),
        F.round(F.expr("percentile(l_quantity, 0.9)"), 6).alias("p90_qty"),
    )


@query(
    "agg_stats",
    oracle="""
    SELECT l_returnflag,
           round(stddev_samp(l_extendedprice), 2)              AS sd_price,
           round(var_samp(l_quantity), 2)                      AS var_qty,
           round(corr(l_extendedprice, l_quantity), 4) + 0     AS corr_pq,
           round(covar_samp(l_extendedprice, l_discount), 2) + 0 AS cov_pd
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates — sample stddev/variance, Pearson
    correlation, sample covariance per return flag.  All implemented by
    Spark as single-pass moment accumulators with map-side partials
    (no second pass over the data), so the shuffle carries one small
    state row per (flag, metric) — the ideal distributed-statistics
    shape."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.stddev_samp("l_extendedprice"), 2).alias("sd_price"),
        F.round(F.var_samp("l_quantity"), 2).alias("var_qty"),
        (F.round(F.corr("l_extendedprice", "l_quantity"), 4) + F.lit(0.0)).alias(
            "corr_pq"
        ),
        (F.round(F.covar_samp("l_extendedprice", "l_discount"), 2) + F.lit(0.0)).alias(
            "cov_pd"
        ),
    )


@query(
    "agg_hll_sketch_merge",
    oracle="""
    WITH monthly AS (
      SELECT strftime(ts, '%Y-%m') AS month,
             count(DISTINCT user_id) AS exact_users
      FROM events GROUP BY month
    ),
    tot AS (SELECT count(DISTINCT user_id) AS exact_total FROM events)
    SELECT CAST(t.exact_total AS BIGINT)      AS exact_total_users,
           CAST(sum(m.exact_users) AS BIGINT) AS sum_monthly_exact,
           CAST(count(*) AS BIGINT)           AS n_months,
           TRUE                               AS est_within_tol
    FROM monthly m CROSS JOIN tot t
    GROUP BY t.exact_total
    """,
)
def agg_hll_sketch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGEABLE distinct-count sketches — the pattern that makes
    count-distinct tractable at 100 TB: build one HLL sketch per
    (group, partition) map-side, merge sketches instead of shuffling
    raw values, estimate at the end.  Demonstrated two-level: per-month
    sketches of distinct users over events, then a UNION of the monthly
    sketches re-estimated as the global count — the roll-up a
    pre-aggregated cube serves without ever rescanning raw data
    (sketches are the only aggregate state that supports this for
    count-distinct; exact counts don't compose across overlapping
    sets).

    Hash-checkable contract (r14, the ``agg_approx_distinct`` device —
    VERDICT r13 #3 applied to the whole sketch family): deterministic
    columns (exact total distinct, sum of per-month exacts, month
    count) plus ``est_within_tol`` asserting the UNIONED-sketch
    estimate sits within 5× the sketch's ~1.6% rsd of the exact total;
    the oracle states the exact values and literal TRUE.  The
    build-merge-estimate path still runs end-to-end — a broken union
    flips the boolean and hash-mismatches.  The n_months > 0 guard
    makes both engines emit zero rows over an empty corpus (Spark's
    global aggregate would otherwise emit its 1 NULL-estimate row
    where the oracle's join-through-months emits none)."""
    ev = load_table(spark, sf_dir, "events")
    monthly = ev.groupBy(F.date_format("ts", "yyyy-MM").alias("month")).agg(
        F.hll_sketch_agg("user_id").alias("sk"),
        F.count_distinct("user_id").cast("bigint").alias("exact_users"),
    )
    wide = monthly.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).cast("bigint").alias(
            "est"
        ),
        F.sum("exact_users").cast("bigint").alias("sum_monthly_exact"),
        F.count("*").cast("bigint").alias("n_months"),
    )
    tot = ev.agg(F.count_distinct("user_id").cast("bigint").alias("exact_total"))
    # broadcast-safe: tot is a 1-row global aggregate
    return (
        wide.crossJoin(F.broadcast(tot))
        .where(F.col("n_months") > 0)
        .select(
            F.col("exact_total").alias("exact_total_users"),
            "sum_monthly_exact",
            "n_months",
            (
                F.abs(F.col("est") - F.col("exact_total")) * 100
                <= 8 * F.col("exact_total")
            ).alias("est_within_tol"),
        )
    )


@query(
    "agg_unpivot",
    oracle="""
    SELECT l_orderkey, l_linenumber, metric, round(val, 2) AS val
    FROM (
      SELECT l_orderkey, l_linenumber, 'quantity' AS metric,
             CAST(l_quantity AS DOUBLE) AS val FROM lineitem
      UNION ALL
      SELECT l_orderkey, l_linenumber, 'extendedprice', l_extendedprice FROM lineitem
      UNION ALL
      SELECT l_orderkey, l_linenumber, 'discount', l_discount FROM lineitem
      UNION ALL
      SELECT l_orderkey, l_linenumber, 'tax', l_tax FROM lineitem
    )
    """,
)
def agg_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (melt): wide → long, the inverse of ``agg_pivot`` —
    ``DataFrame.unpivot`` emits one (key, metric, value) row per
    measure column.  Narrow 1→N row generation inside the scan pass
    (the oracle spells it as the classic UNION ALL over 4 scans, which
    Spark's unpivot plans instead as a single-scan Expand node — same
    relation, a quarter of the reads)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.select(
            "l_orderkey",
            "l_linenumber",
            F.col("l_quantity").cast("double").alias("quantity"),
            F.col("l_extendedprice").cast("double").alias("extendedprice"),
            F.col("l_discount").cast("double").alias("discount"),
            F.col("l_tax").cast("double").alias("tax"),
        )
        .unpivot(
            ["l_orderkey", "l_linenumber"],
            ["quantity", "extendedprice", "discount", "tax"],
            "metric",
            "val_raw",
        )
        .select(
            "l_orderkey", "l_linenumber", "metric", F.round("val_raw", 2).alias("val")
        )
    )


@query(
    "agg_approx_quantile",
    oracle="""
    SELECT l_returnflag,
           CAST(count(*) AS BIGINT) AS n,
           TRUE AS p50_rank_ok, TRUE AS p95_rank_ok, TRUE AS p99_rank_ok
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_approx_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate quantiles per group — ``percentile_approx`` runs the
    Greenwald-Khanna sketch as a single-pass mergeable aggregate: at
    100 TB each partition keeps an ε-summary (size O(1/ε log εn), NOT
    O(n)) and summaries merge associatively — same scale contract as
    the HLL sketch, for order statistics.  accuracy=10000 ⇒ ε=1e-4.

    Hash-checkable contract (r14, the ``agg_approx_distinct`` device;
    Spark's GK and DuckDB's t-digest are different sketches, so the
    VALUES can never hash-match): the output asserts the GK RANK
    guarantee instead — for each percentile p, the returned element's
    rank interval ``[count(<v)+1, count(≤v)]`` must intersect
    ``⌈p·n⌉ ± (⌊n·ε⌋+1)`` — as per-group booleans next to the exact
    group count; the oracle states the counts and literal TRUE.  The
    target rank is computed in INTEGER arithmetic ((p_num·n + 99) div
    100), never ``ceil(0.95·n)`` (the float product exceeds the exact
    integer for multiples and would shift the ceiling).  The sketch
    path still runs end-to-end; a broken summary merge lands outside
    the rank window and flips a boolean."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice"
    )
    pcts = [("p50", 0.5, 50), ("p95", 0.95, 95), ("p99", 0.99, 99)]
    est = li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        *[
            F.percentile_approx("l_extendedprice", p, 10000).alias(f"e{num}")
            for _, p, num in pcts
        ],
    )
    # broadcast-safe: est is |returnflag groups| rows (3)
    j = li.join(F.broadcast(est), "l_returnflag")
    ranks = j.groupBy("l_returnflag").agg(
        F.max("n").alias("n"),
        *[
            c
            for _, _, num in pcts
            for c in (
                F.count(
                    F.when(F.col("l_extendedprice") < F.col(f"e{num}"), 1)
                ).alias(f"lt{num}"),
                F.count(
                    F.when(F.col("l_extendedprice") <= F.col(f"e{num}"), 1)
                ).alias(f"le{num}"),
            )
        ],
    )
    slack = F.expr("n div 10000") + 1
    target = lambda num: F.expr(f"({num} * n + 99) div 100")  # noqa: E731
    return ranks.select(
        "l_returnflag",
        F.col("n").cast("bigint").alias("n"),
        *[
            (
                (F.col(f"lt{num}") + 1 <= target(num) + slack)
                & (F.col(f"le{num}") >= target(num) - slack)
            ).alias(f"{name}_rank_ok")
            for name, _, num in pcts
        ],
    )


@query(
    "agg_rollup",
    oracle="""
    SELECT o_orderpriority, o_orderstatus,
           CAST(count(*) AS BIGINT)     AS n,
           round(sum(o_totalprice), 2)  AS sum_price
    FROM orders
    GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
    """,
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP — the hierarchical prefix of the grouping lattice
    (completes the trio with ``agg_cube`` and ``agg_grouping_sets``):
    (priority, status) → (priority) → ().  Spark plans all rollup
    levels in ONE Expand + hash-agg pass — levels+1 output rows per
    input row before partial aggregation, never one scan per level."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.rollup("o_orderpriority", "o_orderstatus").agg(
        F.count("*").cast("bigint").alias("n"),
        F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
    )


@query(
    "agg_filtered",
    oracle="""
    SELECT user_id,
           CAST(count(*) AS BIGINT)  AS n_events,
           CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT)
                                     AS n_purchases,
           round(sum(value) FILTER (WHERE event_type = 'purchase'), 2) + 0
                                     AS purchase_value,
           CAST(count(*) FILTER (WHERE event_type = 'click') AS BIGINT)
                                     AS n_clicks
    FROM events
    WHERE user_id < 300
    GROUP BY user_id
    """,
)
def agg_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered aggregation (the SQL ``FILTER (WHERE ...)`` clause) —
    several differently-conditioned aggregates from ONE scan and ONE
    hash aggregation, instead of N self-joined subqueries.  Spark
    expresses the same thing with conditional aggregates
    (``sum(when(...))``); the plan is a single partial+final hash agg,
    so at 100 TB the fact table is read and shuffled once no matter
    how many conditions are added."""
    ev = load_table(spark, sf_dir, "events").where(F.col("user_id") < 300)
    is_p = F.col("event_type") == "purchase"
    return ev.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.count(F.when(is_p, 1)).cast("bigint").alias("n_purchases"),
        (F.round(F.sum(F.when(is_p, F.col("value"))), 2) + F.lit(0)).alias(
            "purchase_value"
        ),
        F.count(F.when(F.col("event_type") == "click", 1))
        .cast("bigint")
        .alias("n_clicks"),
    )


@query(
    "agg_histogram",
    oracle="""
    SELECT CAST(floor(o_totalprice / 25000.0) AS BIGINT) AS bucket,
           round(CAST(floor(o_totalprice / 25000.0) AS BIGINT) * 25000.0, 1)
                                                         AS bucket_lo,
           CAST(count(*) AS BIGINT)                      AS n,
           round(min(o_totalprice), 2)                   AS bucket_min,
           round(max(o_totalprice), 2)                   AS bucket_max
    FROM orders
    GROUP BY 1, 2
    """,
)
def agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of order totals (25k buckets) — the
    profiling aggregation every column-stats / data-exploration pass
    runs.  Bucket id is ``floor(x / width)`` — a pure projection, so
    the whole histogram is ONE hash aggregation with map-side partial
    combine: at 100 TB the shuffle carries |buckets| rows per task,
    not data.  (Equi-width is the scan-friendly choice; equi-DEPTH
    needs quantiles first — see ``agg_approx_quantile``.)"""
    orders = load_table(spark, sf_dir, "orders")
    bucket = F.floor(F.col("o_totalprice") / 25000.0).cast("bigint")
    return (
        orders.groupBy(bucket.alias("bucket"))
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.round(F.min("o_totalprice"), 2).alias("bucket_min"),
            F.round(F.max("o_totalprice"), 2).alias("bucket_max"),
        )
        .select(
            "bucket",
            F.round(F.col("bucket") * 25000.0, 1).alias("bucket_lo"),
            "n",
            "bucket_min",
            "bucket_max",
        )
    )


@query(
    "agg_bitmap_segments",
    oracle="""
    WITH flags AS (
      SELECT user_id,
             bit_or(CASE event_type WHEN 'view' THEN 1 WHEN 'click' THEN 2
                    WHEN 'purchase' THEN 4 ELSE 8 END) AS segment_bits
      FROM events WHERE ts < TIMESTAMP '2024-01-03'
      GROUP BY user_id
    )
    SELECT CAST(segment_bits AS INT)     AS segment_bits,
           CAST(count(*) AS BIGINT)      AS n_users,
           (segment_bits & 4) <> 0       AS has_purchase
    FROM flags GROUP BY segment_bits
    """,
)
def agg_bitmap_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral segmentation via BITWISE AGGREGATION: fold each
    user's event types into one bitmap with ``bit_or`` (view=1,
    click=2, purchase=4, other=8), then count users per bitmap — the
    compact "which behavior combinations exist" rollup that would
    otherwise take K boolean max() columns and 2^K CASE rows.

    Two map-side-combinable integer hash aggs (bit_or is commutative/
    associative/idempotent — the ideal combiner), so at 100 TB the
    event scan shuffles one int per user and the second agg is
    |bitmaps| ≤ 2^K rows.  All integer — engine-exact."""
    # first-two-days slice: over the full year every user hits every
    # event type and all bitmaps collapse to one; the early window
    # keeps 15 distinct behavior combinations at sf0.01
    ev = load_table(spark, sf_dir, "events").where(
        F.col("ts") < F.lit("2024-01-03").cast("timestamp")
    )
    flag = (
        F.when(F.col("event_type") == "view", 1)
        .when(F.col("event_type") == "click", 2)
        .when(F.col("event_type") == "purchase", 4)
        .otherwise(8)
    )
    flags = ev.groupBy("user_id").agg(F.bit_or(flag).alias("segment_bits"))
    return flags.groupBy(F.col("segment_bits").cast("int").alias("segment_bits")).agg(
        F.count("*").cast("bigint").alias("n_users"),
        F.first(F.col("segment_bits").bitwiseAND(F.lit(4)) != 0).alias("has_purchase"),
    )


@query(
    "agg_argmax",
    oracle="""
    SELECT c_nationkey,
           CAST(count(*) AS BIGINT) AS n_customers,
           arg_max(c_name, CAST(round(c_acctbal * 100) AS BIGINT) * 10000000
                           + c_custkey)  AS richest,
           arg_min(c_name, CAST(round(c_acctbal * 100) AS BIGINT) * 10000000
                           + c_custkey)  AS poorest,
           round(max(c_acctbal), 2)      AS max_bal,
           round(min(c_acctbal), 2)      AS min_bal
    FROM customer GROUP BY c_nationkey
    """,
)
def agg_argmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """argmax/argmin aggregation (``max_by`` / ``min_by``): per
    nation, WHICH customer holds the extreme balance — the "value of
    one column at another column's extreme" aggregate that otherwise
    costs a window + filter pass.

    Determinism: raw ``max_by(x, bal)`` is engine-arbitrary on ties,
    so the ordering key is a composite encoded into ONE bigint
    (``cents·10⁷ + custkey`` — exact: cents < 10⁸, custkey < 10⁷),
    making the winner unique and identical everywhere; the same trick
    is what DuckDB's scalar-only ``arg_max`` needs anyway.  One
    map-side-combinable hash agg (max_by's combiner keeps a single
    (key, value) pair), one shuffle of |groups| rows."""
    cust = load_table(spark, sf_dir, "customer")
    key = (
        F.round(F.col("c_acctbal") * 100).cast("bigint") * 10000000
        + F.col("c_custkey")
    )
    return cust.groupBy("c_nationkey").agg(
        F.count("*").cast("bigint").alias("n_customers"),
        F.max_by("c_name", key).alias("richest"),
        F.min_by("c_name", key).alias("poorest"),
        F.round(F.max("c_acctbal"), 2).alias("max_bal"),
        F.round(F.min("c_acctbal"), 2).alias("min_bal"),
    )


@query(
    "agg_mode",
    oracle="""
    SELECT lang, source AS modal_source, CAST(n AS BIGINT) AS n_docs
    FROM (
      SELECT lang, source, count(*) AS n,
             row_number() OVER (PARTITION BY lang
                                ORDER BY count(*) DESC, source) AS rn
      FROM documents
      GROUP BY lang, source
    )
    WHERE rn = 1
    """,
)
def agg_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group MODE (most frequent value) with a deterministic
    tiebreak — the categorical summary SQL lacks a direct aggregate
    for.  Two-level shape: count per (group, value), then one
    row_number window ordered by (count DESC, value) picks the winner —
    ties always resolve to the lexicographically smallest value, so
    the result is partitioning-independent (a bare ``mode()`` aggregate
    is not, which is why Spark doesn't ship one pre-3.4 and DuckDB's
    breaks ties arbitrarily).

    At 100 TB: the (group, value) count is a map-side-combined hash
    aggregation (cardinality = |groups|·|domain|, tiny for categorical
    domains); the window then runs on that REDUCED table — the heavy
    input is touched once, no second full-data shuffle."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("lang", "source").agg(F.count("*").alias("n"))
    w = Window.partitionBy("lang").orderBy(F.col("n").desc(), F.col("source"))
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "lang",
            F.col("source").alias("modal_source"),
            F.col("n").cast("bigint").alias("n_docs"),
        )
    )


@query(
    "agg_string_agg",
    oracle="""
    SELECT r_name AS region,
           string_agg(n_name, ',' ORDER BY n_name) AS nations,
           CAST(count(*) AS BIGINT) AS n_nations
    FROM nation JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name
    """,
)
def agg_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered LISTAGG / string_agg — the report-friendly "concatenate
    the group's values" aggregate, in the pre-4.0 DataFrame idiom:
    ``array_join(sort_array(collect_list(...)))`` — sorting AFTER
    collection makes the result independent of partition arrival order
    (a bare collect_list concat is nondeterministic, the same trap as
    ``agg_collect_list``).  Spark 4.0 added the native ordered-set
    form — ``agg_listagg_within_group`` is that modernization; this
    row keeps the workaround pinned because every pre-4.0 pipeline
    still runs it.

    At 100 TB: one broadcast join (region is a dim) + one hash
    aggregation; per-group state is the value list — fine for bounded
    groups like dims, the wrong aggregate for unbounded ones (cap the
    list first or use a top-k window)."""
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    return (
        # broadcast-safe: region is a constant-cardinality dim (5 rows)
        nation.join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy(F.col("r_name").alias("region"))
        .agg(
            F.array_join(F.sort_array(F.collect_list("n_name")), ",").alias("nations"),
            F.count("*").cast("bigint").alias("n_nations"),
        )
    )


@query(
    "agg_decimal_exact",
    oracle="""
    SELECT l_returnflag,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR)
             AS sum_price_exact,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR)
             AS sum_qty_exact,
           CAST(count(*) AS BIGINT) AS n_lines
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_decimal_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT money aggregation on DecimalType — the type-system surface
    the engine adds over the reference (SURVEY §1.3: the reference has
    no types beyond streamable text).  Casting to DECIMAL(18,2) BEFORE
    summing makes the aggregate exact fixed-point arithmetic: the
    result is identical on any partitioning, any accumulation order,
    and any engine — the property float sums structurally lack (they
    are merely *rounded* to agreement elsewhere in this repo).  Output
    rendered as canonical decimal STRINGS so the two engines' internal
    precisions (Spark DECIMAL(28,2) vs DuckDB DECIMAL(38,2)) cannot
    leak into the comparison.

    At 100 TB: decimal hash aggregation is map-side combined like any
    sum; Spark keeps Decimal(≤18+10 digits) in compact unscaled-long
    form, so the exactness is ~free until precision 28."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
        .cast("string")
        .alias("sum_price_exact"),
        F.sum(F.col("l_quantity").cast("decimal(18,2)"))
        .cast("string")
        .alias("sum_qty_exact"),
        F.count("*").cast("bigint").alias("n_lines"),
    )


@query(
    "agg_higher_moments",
    oracle="""
    -- independent formulation: Spark's skewness/kurtosis definitions
    -- (POPULATION moments; kurtosis is EXCESS, i.e. normal = 0)
    -- recomputed from raw power sums
    WITH s AS (
      SELECT l_returnflag, count(*) AS n, sum(l_quantity) AS s1,
             sum(l_quantity*l_quantity) AS s2,
             sum(l_quantity*l_quantity*l_quantity) AS s3,
             sum(l_quantity*l_quantity*l_quantity*l_quantity) AS s4
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag,
           round((s3/n - 3*(s1/n)*(s2/n) + 2*(s1/n)*(s1/n)*(s1/n))
                 / pow(s2/n - (s1/n)*(s1/n), 1.5), 6) AS skew,
           round((s4/n - 4*(s1/n)*(s3/n) + 6*(s1/n)*(s1/n)*(s2/n)
                  - 3*pow(s1/n, 4))
                 / pow(s2/n - (s1/n)*(s1/n), 2) - 3, 6) AS kurt
    FROM s
    """,
)
def agg_higher_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-moment aggregates: ``F.skewness`` / ``F.kurtosis`` per
    group — distribution-shape profiling (completes the moment ladder
    over ``agg_stats``'s mean/var/corr).  The oracle is a genuinely
    INDEPENDENT formulation: raw power sums S₁..S₄ plugged into the
    population-moment definitions Spark implements (skew = m₃/m₂^1.5,
    kurt = m₄/m₂² − 3, i.e. EXCESS kurtosis) — so the row differentials
    the built-in's definition AND its one-pass moment updates against
    textbook arithmetic, agreeing to 6 decimals on every group.

    At 100 TB: a single map-side-combined hash aggregation (Spark's
    implementation carries 5 running moments per group)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.skewness("l_quantity"), 6).alias("skew"),
        F.round(F.kurtosis("l_quantity"), 6).alias("kurt"),
    )


@query(
    "agg_boolean_family",
    oracle="""
    SELECT o_orderstatus,
           count_if(o_totalprice > 100000) AS n_large,
           bool_and(o_totalprice > 0) AS all_positive,
           bool_or(o_orderpriority = '1-URGENT') AS any_urgent,
           CAST(count(*) AS BIGINT) AS n_orders
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def agg_boolean_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The boolean-aggregate surface: ``count_if`` (conditional count
    without the CASE-sum circumlocution), ``bool_and``/``bool_or``
    (universal/existential quantifiers over a group) — identical names
    and three-valued-logic semantics in Spark 4 and DuckDB, one shared
    behavior pinned differentially.  ``bool_and`` short-circuit
    semantics matter for DQ assertions ("every order in this status
    has a positive total") where a CASE-sum would silently coerce
    NULLs.

    Scale: plain map-side-combined hash aggregate — booleans fold to
    one byte of state per group per function."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderstatus").agg(
        F.count_if(F.col("o_totalprice") > 100000).alias("n_large"),
        F.bool_and(F.col("o_totalprice") > 0).alias("all_positive"),
        F.bool_or(F.col("o_orderpriority") == "1-URGENT").alias("any_urgent"),
        F.count("*").cast("bigint").alias("n_orders"),
    )


#: shared dialect-intersection text — Spark 4 and DuckDB implement the
#: ANSI ordered-set aggregate syntax identically
_ORDERED_SET_SQL = """
    SELECT l_returnflag,
           CAST(percentile_disc(0.3) WITHIN GROUP (ORDER BY l_quantity)
                AS BIGINT) AS p30_disc_qty,
           round(percentile_cont(0.3) WITHIN GROUP (ORDER BY l_quantity), 6)
               AS p30_cont_qty,
           CAST(percentile_disc(0.95)
                WITHIN GROUP (ORDER BY round(l_extendedprice * 100))
                AS BIGINT) AS p95_disc_price_cents
    FROM lineitem
    GROUP BY l_returnflag
"""


@query("agg_ordered_set_percentile", oracle=_ORDERED_SET_SQL)
def agg_ordered_set_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI ordered-set aggregates — ``PERCENTILE_DISC`` /
    ``PERCENTILE_CONT ... WITHIN GROUP (ORDER BY ...)`` — the standard
    syntax surface over the percentile machinery ``agg_median`` pins
    through Spark's native ``percentile()``.  DISC returns an actual
    data value (the p95 price is a price somebody paid — what SLO and
    pricing analyses need), CONT interpolates between neighbors; at
    fraction 0.3 over integer quantities the two visibly differ, which
    is exactly why both exist.  One shared text runs verbatim on both
    engines.

    Scale: exact percentiles sort within each group — fine at
    #groups ≪ #rows with bounded group width; the mergeable 100 TB
    path is ``percentile_approx`` (KLL-style sketch), same as
    ``agg_median`` documents."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(_ORDERED_SET_SQL)


#: shared dialect-intersection text — GROUPING() disambiguation over a
#: ROLLUP whose grouping column genuinely contains... no NULLs in this
#: schema, so one is INJECTED (priority '5-LOW' mapped to NULL) to make
#: the ambiguity real
_GROUPING_ID_SQL = """
    SELECT CASE WHEN o_orderpriority = '5-LOW' THEN NULL
                ELSE o_orderpriority END     AS prio,
           grouping(CASE WHEN o_orderpriority = '5-LOW' THEN NULL
                         ELSE o_orderpriority END)     AS is_subtotal,
           count(*)                          AS n_orders
    FROM orders
    GROUP BY ROLLUP (CASE WHEN o_orderpriority = '5-LOW' THEN NULL
                          ELSE o_orderpriority END)
"""


@query("agg_grouping_id", oracle=_GROUPING_ID_SQL)
def agg_grouping_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``GROUPING()`` — the only correct way to tell a subtotal row
    from a genuine NULL group in ROLLUP/CUBE output.  The grouping
    column here is engineered to CONTAIN a real NULL group ('5-LOW'
    mapped to NULL), so the rollup emits two rows with ``prio = NULL``
    that differ ONLY in ``grouping()`` (0 = the real NULL group's
    count, 1 = the grand total) — the ambiguity every BI layer that
    filters ``WHERE prio IS NULL`` gets silently wrong without this
    function.  One shared text runs verbatim on both engines (both
    return 0/1 integers).

    Scale: same Expand + map-side-combined hash aggregate as
    ``agg_rollup`` — grouping() is a zero-cost bit of the synthetic
    grouping-id column the Expand already carries."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(_GROUPING_ID_SQL)


_CORR_PAIRS = [
    ("l_quantity", "l_extendedprice", "qty_price"),
    ("l_quantity", "l_discount", "qty_disc"),
    ("l_quantity", "l_tax", "qty_tax"),
    ("l_extendedprice", "l_discount", "price_disc"),
    ("l_extendedprice", "l_tax", "price_tax"),
    ("l_discount", "l_tax", "disc_tax"),
]


@query(
    "agg_corr_matrix",
    oracle="""
    SELECT round(corr(l_quantity, l_extendedprice), 4) + 0 AS qty_price,
           round(corr(l_quantity, l_discount), 4) + 0      AS qty_disc,
           round(corr(l_quantity, l_tax), 4) + 0           AS qty_tax,
           round(corr(l_extendedprice, l_discount), 4) + 0 AS price_disc,
           round(corr(l_extendedprice, l_tax), 4) + 0      AS price_tax,
           round(corr(l_discount, l_tax), 4) + 0           AS disc_tax,
           count(*) AS n_rows
    FROM lineitem
    """,
)
def agg_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full pairwise Pearson correlation matrix over lineitem's
    numeric measures in ONE aggregation pass — feature-selection /
    collinearity screening without six separate jobs (each corr is an
    independent single-pass moment accumulator; Spark fuses all six
    into one map-side-combined aggregate, so the scan happens once).
    Rounded to 4 places with the repo's ``+ 0`` signed-zero guard on
    every cell: near-zero correlations (qty↔discount is designed
    noise) can round to -0.0 on one engine and +0.0 on the other.

    Scale: one scan, one 1-row reduction — the matrix state is
    6 × (5 doubles) regardless of data size."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.agg(
        *[
            (F.round(F.corr(a, b), 4) + F.lit(0.0)).alias(name)
            for a, b, name in _CORR_PAIRS
        ],
        F.count("*").alias("n_rows"),
    )


@query(
    "agg_linear_trend",
    oracle="""
    WITH pts AS (
      SELECT o_orderpriority AS priority,
             CAST(datediff('day', DATE '1995-01-01', o_orderdate) AS BIGINT) AS x,
             CAST(round(o_totalprice) AS BIGINT) AS y
      FROM orders
    ),
    sums AS (
      SELECT priority,
             count(*)    AS n,
             sum(x)      AS sx,
             sum(y)      AS sy,
             sum(x * y)  AS sxy,
             sum(x * x)  AS sxx,
             sum(y * y)  AS syy
      FROM pts GROUP BY priority
    )
    SELECT priority,
           CAST(n AS BIGINT) AS n,
           CASE WHEN n * sxx - sx * sx = 0 THEN NULL
                ELSE CAST(n * sxy - sx * sy AS DOUBLE)
                     / CAST(n * sxx - sx * sx AS DOUBLE)
           END AS slope_dollars_per_day,
           CASE WHEN n * sxx - sx * sx = 0 THEN NULL
                ELSE (CAST(sy AS DOUBLE)
                      - (CAST(n * sxy - sx * sy AS DOUBLE)
                         / CAST(n * sxx - sx * sx AS DOUBLE))
                        * CAST(sx AS DOUBLE))
                     / CAST(n AS DOUBLE)
           END AS intercept_dollars,
           CASE WHEN n * sxx - sx * sx = 0 OR n * syy - sy * sy = 0 THEN NULL
                ELSE (CAST(n * sxy - sx * sy AS DOUBLE)
                      * CAST(n * sxy - sx * sy AS DOUBLE))
                     / (CAST(n * sxx - sx * sx AS DOUBLE)
                        * CAST(n * syy - sy * sy AS DOUBLE))
           END AS r2
    FROM sums
    """,
)
def agg_linear_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group ordinary-least-squares trend line (the ANSI
    ``REGR_SLOPE``/``REGR_INTERCEPT``/``REGR_R2`` surface) — revenue
    drift in dollars/day per order priority — computed the
    ENGINE-EXACT way: the five moment sums accumulate as BIGINTs of
    integer (day-offset, whole-dollar) points, and slope / intercept / r²
    each come out of the closed form with the SAME fixed expression
    tree on both engines, so the doubles match bit-for-bit.  The
    built-in ``regr_*`` aggregates were deliberately rejected: they
    accumulate doubles, so their last-ulp output depends on partition
    count and merge order — fine for dashboards, unverifiable for a
    differential harness (same reason ``embedding_label_centroids``
    sums micro-units, not floats).

    Degenerate groups (n=1 or constant x → zero variance) yield NULL
    slope/r² via an explicit guard — under ANSI mode an unguarded
    zero denominator is a runtime error, not a NULL.

    Scale: one map-side-combined rollup to |priorities| rows; no second
    pass, no join.  The BIGINT moments overflow quadratically — (Σy)²
    with cents blows int64 at sf0.01 and even whole dollars blow it at
    sf0.1 (both caught live by ANSI mode; DuckDB's HUGEINT sums would
    have masked each oracle-side) — so the d-term algebra runs in
    DECIMAL(38,0) exactly as ``bp_ratio_halfup`` does
    (``operators/tpch.py``), good to ~1e38 ≈ sf 10⁹.  Each d-term is
    then cast to double ONCE (correctly-rounded on both engines)
    before the single division.  Reference heritage: none (SURVEY §2
    charter extension, agg family)."""
    orders = load_table(spark, sf_dir, "orders")
    pts = orders.select(
        F.col("o_orderpriority").alias("priority"),
        F.datediff(
            F.col("o_orderdate"), F.lit("1995-01-01").cast("timestamp")
        )
        .cast("bigint")
        .alias("x"),
        F.round(F.col("o_totalprice")).cast("bigint").alias("y"),
    )
    sums = pts.groupBy("priority").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    # DECIMAL(38,0) moment algebra (the bp_ratio_halfup precedent):
    # (Σy)² already exceeds int64 at sf0.1 group sizes and DuckDB's
    # HUGEINT sums would mask it oracle-side — the same failure class
    # the 5× harness caught in the basis-point ratios (SURVEY §6 r6s3)
    dec = lambda c: F.col(c).cast("decimal(38,0)")
    dxx = dec("n") * dec("sxx") - dec("sx") * dec("sx")
    dyy = dec("n") * dec("syy") - dec("sy") * dec("sy")
    num = dec("n") * dec("sxy") - dec("sx") * dec("sy")
    slope = F.when(dxx != 0, num.cast("double") / dxx.cast("double"))
    intercept = F.when(
        dxx != 0,
        (
            F.col("sy").cast("double")
            - (num.cast("double") / dxx.cast("double"))
            * F.col("sx").cast("double")
        )
        / F.col("n").cast("double"),
    )
    r2 = F.when(
        (dxx != 0) & (dyy != 0),
        (num.cast("double") * num.cast("double"))
        / (dxx.cast("double") * dyy.cast("double")),
    )
    return sums.select(
        "priority",
        F.col("n").cast("bigint").alias("n"),
        slope.alias("slope_dollars_per_day"),
        intercept.alias("intercept_dollars"),
        r2.alias("r2"),
    )


def range_bucket_expr(
    spark: SparkSession,
    sample_df: DataFrame,
    col: str,
    descending: bool = False,
    relative_error: float = 0.05,
):
    """Range-bucket expression — step 1-2 of the two-pass bucketed
    rank, THE shared definition for every rank-sensitive operator
    (``sort_global``, ``agg_weighted_median``, ``agg_trimmed_mean``):
    boundaries from ONE approxQuantile sampling job come back as
    literals, the per-row bucket id is a pure DATA-derived expression
    (#boundaries strictly on the first-sorted side of the value), so
    equal values always share a bucket and no cross-job exchange
    agreement is needed (an exchange-id formulation breaks when AQE
    declines to reuse a stage — see ``sort_global``'s history).
    Parallelism for a downstream (group, bucket)-partitioned window
    becomes |groups|·|buckets| instead of |groups| — the fix for
    low-cardinality group keys capping a per-group sort at |groups|
    tasks (measured 2.4-2.7× WORSE at 5× rows before this; flat
    after).

    ``relative_error`` is deliberately loose by default: boundary
    PLACEMENT only balances buckets, never affects correctness.
    Sample from the PRE-``_spread`` scan — boundaries don't depend on
    partitioning, so paying a repartition shuffle inside the sampling
    job is pure waste."""
    n_b = int(spark.conf.get("spark.sql.shuffle.partitions"))
    probs = [i / n_b for i in range(1, n_b)]
    bounds = sorted(
        set(sample_df.stat.approxQuantile(col, probs, relative_error))
        if probs
        else []
    )
    if not bounds:  # empty input or constant column: one bucket
        return F.lit(0)
    cmp = (lambda b: b > F.col(col)) if descending else (lambda b: b < F.col(col))
    return F.size(F.filter(F.array(*[F.lit(float(b)) for b in bounds]), cmp))


def census_offsets_literal(
    spark: SparkSession,
    census: DataFrame,
    key_col: str,
    sum_cols: list[str],
    off_names: list[str],
) -> DataFrame:
    """Cumulative offsets over a BOUNDED census, computed as DRIVER
    LITERALS — THE shared step-4 of the two-pass bucketed rank for
    ungrouped consumers (``sort_global``, ``events_power_users_pareto``;
    the flag-grouped sibling is ``_bucketed_group_offsets`` below,
    which keeps the census distributed because its window has a real
    partition key).  The census is ≤ #buckets rows by construction
    (config-bounded — the same driver-side-literal pattern as
    ``range_bucket_expr``'s quantile boundaries), so collecting it is
    bounded work, the cumulative sums are exact Python ints, and —
    unlike a census self-join or unpartitioned window — the census
    subtree is evaluated EXACTLY ONCE (review r8: the triangular
    self-join form evaluated the full upstream scan twice, once per
    join side).  Returns a literal DataFrame [key_col, *off_names]
    ready to broadcast-join back."""
    rows = sorted(
        (r[key_col], *[int(r[c] or 0) for c in sum_cols])
        for r in census.collect()
    )
    offsets, running = [], [0] * len(sum_cols)
    for key, *vals in rows:
        offsets.append((key, *running))
        running = [a + b for a, b in zip(running, vals)]
    schema = ", ".join(
        [f"{key_col} int"] + [f"{n} bigint" for n in off_names]
    )
    return spark.createDataFrame(offsets, schema)


def _bucketed_group_offsets(loc: DataFrame, weight):
    """Steps 3-4 of the two-pass rank, shared by the rank-statistic
    aggregates: per-(flag, bucket) weight census, per-flag cumulative
    offsets over the TINY census (a window over ≤ |flags|·|buckets|
    rows, never the data), and per-flag totals.  Returns (offsets
    [flag, _bkt, _off], totals [flag, _tot]) — both broadcast-sized."""
    from pyspark.sql import Window

    census = loc.groupBy("flag", "_bkt").agg(weight.alias("_w"))
    w_off = (
        Window.partitionBy("flag").orderBy("_bkt").rowsBetween(
            Window.unboundedPreceding, -1
        )
    )
    offsets = census.select(
        "flag",
        "_bkt",
        F.coalesce(F.sum("_w").over(w_off), F.lit(0)).alias("_off"),
    )
    totals = census.groupBy("flag").agg(F.sum("_w").alias("_tot"))
    return offsets, totals


@query(
    "agg_weighted_median",
    oracle="""
    WITH w AS (
      SELECT l_returnflag AS flag,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
             CAST(round(l_quantity) AS BIGINT)            AS qty,
             l_orderkey, l_linenumber
      FROM lineitem
    ),
    c AS (
      SELECT flag, cents, qty,
             sum(qty) OVER (PARTITION BY flag
                            ORDER BY cents, l_orderkey, l_linenumber
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum,
             sum(qty) OVER (PARTITION BY flag) AS total
      FROM w
    )
    SELECT flag,
           CAST(min(cents) AS BIGINT) AS wmedian_cents,
           CAST(min(total) AS BIGINT) AS total_weight
    FROM c
    WHERE 2 * cum >= total AND 2 * (cum - qty) < total
    GROUP BY flag
    """,
)
def agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHTED median — the 50%-of-total-WEIGHT order statistic
    (median unit price by quantity sold, not by line count), the
    quantity-aware reading ``agg_median``'s unweighted percentile
    cannot give.  Lower-median convention: the first element (in
    (cents, orderkey, linenumber) total order, so ties are
    deterministic) whose cumulative weight reaches half the total —
    selected by the crossing predicate ``2·cum ≥ W AND
    2·(cum − w) < W``, which identifies EXACTLY ONE row per group by
    construction (the min() re-aggregate is belt-and-braces for the
    harness, not a chooser).  All-integer: cents values, BIGINT
    weights, cross-multiplied halves — no interpolation, no floats.

    Scale: the group key has CARDINALITY 3, so a plain
    ``Window.partitionBy(flag)`` caps the sort at 3 tasks — measured
    2.4× WORSE at 5× rows.  Instead the cumulative weight is computed
    with the ``sort_global`` two-pass bucketed rank
    (``range_bucket_expr``): per-(flag, bucket) local running
    weights (|flags|·|buckets| parallel tasks), bucket weight census →
    per-flag cumulative offsets (a window over the TINY census, not
    the data), broadcast back and added.  Equal cents always share a
    bucket and the in-bucket order is the same total order, so
    offset + local cum reproduces the single-sort cumulative weight
    EXACTLY — the oracle keeps the one-window spec form.  Reference
    heritage: none (SURVEY §2 charter extension, agg family)."""
    from pyspark.sql import Window

    from mapreduceplusplus_spark.llm.dedup import _spread

    raw = load_table(spark, sf_dir, "lineitem")
    cents_sample = raw.select(
        (F.round(F.col("l_extendedprice") * 100)).cast("double").alias("cents")
    )
    bkt = range_bucket_expr(spark, cents_sample, "cents")
    li = _spread(spark, raw).select(
        F.col("l_returnflag").alias("flag"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("cents"),
        F.round(F.col("l_quantity")).cast("bigint").alias("qty"),
        "l_orderkey",
        "l_linenumber",
    )
    loc = li.withColumn("_bkt", bkt)
    offsets, totals = _bucketed_group_offsets(loc, F.sum("qty"))
    w_run = (
        Window.partitionBy("flag", "_bkt")
        .orderBy("cents", "l_orderkey", "l_linenumber")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # broadcast-safe: offsets ≤ |flags|·|buckets| rows, totals |flags|
    c = (
        loc.withColumn("_lcum", F.sum("qty").over(w_run))
        .join(F.broadcast(offsets), ["flag", "_bkt"])
        .join(F.broadcast(totals), "flag")
        .select(
            "flag",
            "cents",
            "qty",
            (F.col("_off") + F.col("_lcum")).alias("cum"),
            F.col("_tot").alias("total"),
        )
    )
    return (
        c.where(
            (2 * F.col("cum") >= F.col("total"))
            & (2 * (F.col("cum") - F.col("qty")) < F.col("total"))
        )
        .groupBy("flag")
        .agg(
            F.min("cents").cast("bigint").alias("wmedian_cents"),
            F.min("total").cast("bigint").alias("total_weight"),
        )
    )


@query(
    "agg_trimmed_mean",
    oracle="""
    WITH w AS (
      SELECT l_returnflag AS flag,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
             row_number() OVER (PARTITION BY l_returnflag
                                ORDER BY CAST(round(l_extendedprice * 100)
                                              AS BIGINT),
                                         l_orderkey, l_linenumber) AS rn,
             count(*) OVER (PARTITION BY l_returnflag) AS n
      FROM lineitem
    )
    SELECT flag,
           CAST(count(*) AS BIGINT)  AS n_kept,
           CAST(sum(cents) AS BIGINT) AS kept_cents,
           CAST(sum(cents) // count(*) AS BIGINT) AS trimmed_mean_cents
    FROM w
    WHERE rn > n // 10 AND rn <= n - n // 10
    GROUP BY flag
    """,
)
def agg_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10%-trimmed mean per group — the robust-center statistic that
    ignores the top and bottom decile BY RANK (outlier-resistant where
    ``agg_stats``'s plain mean is not, cheaper and more intuitive than
    ``agg_median`` when a magnitude matters): drop the ``n div 10``
    smallest and largest cent values in (value, orderkey, linenumber)
    total order, then the floor-divided integer mean of the kept band.
    Exactly ``n − 2·(n div 10)`` rows survive per group by
    construction — the rank bounds are integers, so there is no
    interpolation and no float anywhere before the output (and the
    floor quotient is of NONNEGATIVE sums, where ``div`` and ``//``
    agree).

    Scale: like ``agg_weighted_median``, a plain per-flag window would
    cap the sort at |flags| = 3 tasks (measured 2.7× worse at 5× rows),
    so the global rank is the ``sort_global`` two-pass: per-(flag,
    bucket) local row_number (|flags|·|buckets| tasks), bucket count
    census → per-flag cumulative offsets over the tiny census,
    broadcast back — offset + local rank IS the per-flag rank because
    equal cents share a bucket and the in-bucket order is the same
    total order.  Then the band filter + a map-side-combined rollup.
    Reference heritage: none (SURVEY §2 charter extension, agg family
    — robust statistics)."""
    from pyspark.sql import Window

    from mapreduceplusplus_spark.llm.dedup import _spread

    raw = load_table(spark, sf_dir, "lineitem")
    cents_sample = raw.select(
        (F.round(F.col("l_extendedprice") * 100)).cast("double").alias("cents")
    )
    bkt = range_bucket_expr(spark, cents_sample, "cents")
    li = _spread(spark, raw).select(
        F.col("l_returnflag").alias("flag"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("cents"),
        "l_orderkey",
        "l_linenumber",
    )
    loc = li.withColumn("_bkt", bkt)
    offsets, totals = _bucketed_group_offsets(loc, F.count("*"))
    w_rank = Window.partitionBy("flag", "_bkt").orderBy(
        "cents", "l_orderkey", "l_linenumber"
    )
    # broadcast-safe: offsets ≤ |flags|·|buckets| rows, totals |flags|
    ranked = (
        loc.withColumn("_lrn", F.row_number().over(w_rank))
        .join(F.broadcast(offsets), ["flag", "_bkt"])
        .join(F.broadcast(totals), "flag")
        .select(
            "flag",
            "cents",
            (F.col("_off") + F.col("_lrn")).alias("rn"),
            F.col("_tot").alias("n"),
        )
    )
    kept = ranked.where(
        (F.col("rn") > F.expr("n div 10"))
        & (F.col("rn") <= F.col("n") - F.expr("n div 10"))
    )
    return kept.groupBy("flag").agg(
        F.count("*").cast("bigint").alias("n_kept"),
        F.sum("cents").cast("bigint").alias("kept_cents"),
        F.expr("sum(cents) div count(*)").cast("bigint").alias(
            "trimmed_mean_cents"
        ),
    )


@query(
    "agg_transpose",
    oracle="""
    WITH raw AS (
      SELECT l_returnflag AS flag,
             CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty,
             CAST(count(*) AS BIGINT)                               AS n_rows
      FROM lineitem GROUP BY l_returnflag
    ),
    a AS (
      SELECT s.flag,
             coalesce(r.sum_qty, 0) AS sum_qty,
             coalesce(r.n_rows, 0)  AS n_rows
      FROM (VALUES ('A'), ('N'), ('R')) s(flag)
      LEFT JOIN raw r ON r.flag = s.flag
    )
    SELECT 'n_rows' AS key,
           CAST(max(CASE WHEN flag = 'A' THEN n_rows END) AS BIGINT) AS A,
           CAST(max(CASE WHEN flag = 'N' THEN n_rows END) AS BIGINT) AS N,
           CAST(max(CASE WHEN flag = 'R' THEN n_rows END) AS BIGINT) AS R
    FROM a
    UNION ALL
    SELECT 'sum_qty',
           CAST(max(CASE WHEN flag = 'A' THEN sum_qty END) AS BIGINT),
           CAST(max(CASE WHEN flag = 'N' THEN sum_qty END) AS BIGINT),
           CAST(max(CASE WHEN flag = 'R' THEN sum_qty END) AS BIGINT)
    FROM a
    """,
)
def agg_transpose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``DataFrame.transpose`` (Spark 4.0) — rows↔columns flip of a
    small aggregate (metrics become rows keyed ``key``, the former
    index column's values become columns, SORTED ascending — so the
    output schema is (key, A, N, R) deterministically), the
    report-shaping surface that previously took a manual
    unpivot+pivot round trip.  Transpose is only defined for frames
    whose width/height both fit a report (the index values become
    COLUMN NAMES — a driver-side schema), so the input here is the
    3-row flag rollup, never raw data; the oracle reproduces the flip
    with conditional aggregation.  The index domain is SCAFFOLDED with
    the declared returnflag values (A/N/R) on both sides — transpose's
    output COLUMNS are data-dependent (an empty frame transposes to
    just ``key``), and a schema that varies with data would break any
    downstream consumer; the scaffold makes it a fixed contract.
    Reference heritage: none (SURVEY §2 charter extension, agg
    family)."""
    li = load_table(spark, sf_dir, "lineitem")
    raw = li.groupBy(F.col("l_returnflag").alias("flag")).agg(
        F.sum(F.round("l_quantity").cast("bigint")).cast("bigint").alias("sum_qty"),
        F.count("*").cast("bigint").alias("n_rows"),
    )
    scaffold = spark.createDataFrame([("A",), ("N",), ("R",)], "flag string")
    agg = (
        # broadcast-safe: scaffold is the 3-value declared flag domain
        scaffold.join(raw, "flag", "left")
        .select(
            "flag",
            F.coalesce("sum_qty", F.lit(0)).cast("bigint").alias("sum_qty"),
            F.coalesce("n_rows", F.lit(0)).cast("bigint").alias("n_rows"),
        )
    )
    return agg.transpose()


@query(
    "agg_listagg_within_group",
    oracle="""
    SELECT r.r_name AS region,
           string_agg(n.n_name, ',' ORDER BY n.n_name DESC) AS nations_desc,
           count(*) AS n_nations
    FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name
    """,
)
def agg_listagg_within_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NATIVE ordered ``listagg`` (Spark 4.0's `LISTAGG ... WITHIN
    GROUP (ORDER BY ...)`, the ISO/ANSI ordered-set string aggregate)
    — the modernization of ``agg_string_agg``'s pre-4.0
    `array_join(sort_array(collect_list(...)))` workaround: the ORDER
    BY now lives INSIDE the aggregate, so the concatenation order is a
    declared part of the aggregate's semantics rather than a
    post-collection sort, and a DESCENDING order (which the sort_array
    form needs an extra reverse for) is just syntax.  DuckDB's
    ``string_agg(x, ',' ORDER BY ...)`` is the same ordered-set form —
    the differential pins that both engines implement the ordering
    contract identically.  Physically unchanged from the workaround:
    one broadcast dim join + one hash aggregate with per-group list
    state.  Reference heritage: the reference's sorted-group output
    model (``mr/word_count.h:24-31``) — its declarative face."""
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    nation.createOrReplaceTempView("listagg_nation")
    region.createOrReplaceTempView("listagg_region")
    return spark.sql(
        """
        SELECT r.r_name AS region,
               listagg(n.n_name, ',')
                 WITHIN GROUP (ORDER BY n.n_name DESC) AS nations_desc,
               count(*) AS n_nations
        FROM listagg_nation n JOIN listagg_region r
          ON n.n_regionkey = r.r_regionkey
        GROUP BY r.r_name
        """
    )


#: CMS geometry: eps -> width ceil(2/eps), confidence -> depth; seed
#: fixed so the sketch (and thus every estimate) is bit-deterministic
CMS_EPS = 0.001
CMS_CONF = 0.99
CMS_SEED = 42
CMS_PROBE_KEYS = list(range(1, 9))


@query(
    "agg_count_min_sketch",
    oracle=f"""
    WITH probes AS (SELECT unnest({CMS_PROBE_KEYS}) AS l_suppkey),
    exact AS (
      SELECT l_suppkey, count(*) AS exact_raw
      FROM lineitem GROUP BY l_suppkey
    ),
    tot AS (SELECT count(*) AS n FROM lineitem)
    SELECT CAST(p.l_suppkey AS BIGINT)             AS l_suppkey,
           CAST(coalesce(e.exact_raw, 0) AS BIGINT) AS exact_cnt,
           CAST(t.n AS BIGINT)                      AS n_total,
           TRUE                                     AS within_bound
    FROM probes p
    LEFT JOIN exact e ON e.l_suppkey = p.l_suppkey
    CROSS JOIN tot t
    WHERE t.n > 0
    """,
)
def agg_count_min_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-frequency estimation via Count-Min Sketch (Cormode &
    Muthukrishnan '05) — the last corner of the mergeable-sketch
    quartet (``agg_hll_sketch_merge`` = distinct, ``agg_approx_quantile``
    = order statistics, ``agg_approx_top_k`` = heavy hitters; this =
    "how often does key k occur" in O(1/eps) memory).  Spark's
    ``count_min_sketch`` aggregate builds per-partition sketches and
    MERGES them (cellwise BIGINT adds — associative, shuffle-free
    partial aggregation), so at 100 TB the full frequency table is
    never materialized: the coordinator receives one ~kB array no
    matter how many executors contributed.

    The sketch guarantees ``exact ≤ est ≤ exact + eps·N`` with
    probability ≥ confidence (one-sided error: hash collisions only
    ever ADD counts); with a FIXED seed the estimate is deterministic,
    so the returned rows are stable and the bound columns are
    themselves assertions.  Probe keys are read back driver-side
    through the JVM sketch API (the sketch is the driver-sized
    artifact by design) and joined against exact per-key counts from
    the same scan.  Reference heritage: none (SURVEY §2 charter
    extension, sketch family).

    Hash-checkable contract (r14, the ``agg_approx_distinct`` device):
    the output carries the probe key, its EXACT count, the corpus
    total, and the one-sided CMS bound as a boolean
    (``exact ≤ est ≤ exact + eps·N``) — the oracle states the exact
    columns and literal TRUE.  The raw estimate column is dropped from
    the result (deterministic under the fixed seed but not
    DuckDB-computable); a broken sketch or merge flips the boolean and
    hash-mismatches.  Empty corpus: both engines emit zero rows (the
    oracle's ``t.n > 0`` guard ≡ the Spark side's early return)."""
    li = load_table(spark, sf_dir, "lineitem").select("l_suppkey")
    row = li.agg(
        F.count_min_sketch(
            "l_suppkey", F.lit(CMS_EPS), F.lit(CMS_CONF), F.lit(CMS_SEED)
        ).alias("sk"),
        F.count("*").alias("n"),
    ).collect()[0]
    n_total = int(row.n)
    if row.sk is None or n_total == 0:  # empty corpus: nothing to probe
        return spark.createDataFrame(
            [],
            "l_suppkey bigint, exact_cnt bigint, "
            "n_total bigint, within_bound boolean",
        )
    jvm = spark.sparkContext._jvm
    cms = jvm.org.apache.spark.util.sketch.CountMinSketch.readFrom(
        jvm.java.io.ByteArrayInputStream(bytes(row.sk))
    )
    est = {k: int(cms.estimateCount(k)) for k in CMS_PROBE_KEYS}
    est_df = spark.createDataFrame(
        [(k, est[k]) for k in CMS_PROBE_KEYS], "l_suppkey bigint, est_cnt bigint"
    )
    exact = (
        li.where(F.col("l_suppkey").isin(CMS_PROBE_KEYS))
        .groupBy("l_suppkey")
        .agg(F.count("*").alias("exact_raw"))
    )
    bound = int(CMS_EPS * n_total)
    # LEFT join FROM the probe set: a probe key absent from the corpus
    # must surface as exact_cnt = 0 (the point-query case a CMS
    # answers), never be silently dropped (review r9).
    # broadcast-safe: exact is ≤ |CMS_PROBE_KEYS| rows after the isin
    # filter + group (the build side of a left-outer BHJ must be the
    # right side)
    return (
        est_df
        .join(F.broadcast(exact), "l_suppkey", "left")
        .select(
            "l_suppkey",
            F.coalesce("exact_raw", F.lit(0))
            .cast("bigint")
            .alias("exact_cnt"),
            F.lit(n_total).cast("bigint").alias("n_total"),
            (
                (F.col("est_cnt") >= F.coalesce("exact_raw", F.lit(0)))
                & (
                    F.col("est_cnt")
                    <= F.coalesce("exact_raw", F.lit(0)) + F.lit(bound)
                )
            ).alias("within_bound"),
        )
    )
