"""Sorts / limits / set operations (SURVEY.md §2.B rows ``sort_global``,
``sort_limit_topk``, ``set_union_all``, ``set_intersect``, ``set_except``).

Reference heritage: A10 — the demo's post-processing line
``sort reduce_out_*.mr | grep .`` (reference ``run_demo.sh:16``) is a
merge + global byte-order sort; multi-file input is an implicit UNION ALL
(``src/master.cc:129-130``).  Spark's ``orderBy`` is the distributed
version: sample → range-partition → per-partition sort, no single-node
merge.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mapreduceplusplus_spark.registry import query
from mapreduceplusplus_spark.sources.tables import load_table


@query(
    "sort_global",
    oracle="""
    SELECT o_orderkey,
           round(o_totalprice, 2) AS totalprice,
           o_orderpriority,
           CAST(row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT)
               AS sort_rank
    FROM orders
    """,
)
def sort_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-column global ORDER BY (reference A10), made hash-checkable.

    The driver's value-hash is order-insensitive, so the *achieved order*
    is materialized as ``sort_rank`` — computed SCALABLY with the
    classic two-pass global-rank pattern (no single-partition window
    over the full table):

    1. bucket boundaries on the leading sort key from ``approxQuantile``
       — ONE sampling job, boundaries come back to the driver (≤
       #shuffle-partitions doubles) and are embedded as LITERALS;
    2. per-row bucket id = #boundaries above the row's key — a pure
       DATA-derived expression, so every plan branch computes the
       identical bucket for a row no matter how the physical exchanges
       shake out (an earlier formulation used ``spark_partition_id()``
       after ``repartitionByRange``, which is only consistent across
       the offsets job and the output job if AQE happens to reuse the
       exchange — stage reuse is best-effort under concurrent job
       submission, and Spark's range sampler is seeded per RDD id, so
       a non-reused exchange re-samples DIFFERENT boundaries → wrong
       offsets.  Data-derived buckets need no cross-job agreement);
    3. per-bucket local ``row_number`` — a window hash-partitioned on
       the bucket id, each task ranks only its own slice;
    4. per-bucket row counts → cumulative offsets, collected as DRIVER
       LITERALS over the ≤ #buckets census (a few thousand rows at
       cluster scale, not the table — the same bounded pattern as the
       quantile boundaries; no unpartitioned window anywhere, and the
       census subtree is evaluated exactly once), broadcast back;
    5. ``sort_rank = offset + local_rank``.

    The result is invariant to where the quantile boundaries fall: the
    (totalprice DESC, orderkey) key is total and unique, and equal
    prices always land in the same bucket (the bucket is a function of
    the price alone), so bucket offsets + in-bucket rank reproduce the
    exact global row_number."""
    # lazy import: keeps the query-module registration order intact
    from mapreduceplusplus_spark.operators.aggregates import range_bucket_expr

    orders = load_table(spark, sf_dir, "orders")
    keys = [F.col("o_totalprice").desc(), F.col("o_orderkey")]
    n_b = int(spark.conf.get("spark.sql.shuffle.partitions"))
    # bucket 0 = highest prices (descending sort order ⇒ ascending id);
    # shared two-pass bucketing helper (also used by the rank-statistic
    # aggregates); original tight relativeError preserved
    bkt = range_bucket_expr(
        spark,
        orders,
        "o_totalprice",
        descending=True,
        relative_error=1.0 / (4 * n_b),
    )
    local = orders.withColumn("_bkt", bkt).withColumn(
        "_lrn", F.row_number().over(Window.partitionBy("_bkt").orderBy(*keys))
    )
    counts = local.groupBy("_bkt").agg(F.count("*").alias("_cnt"))
    # cumulative offsets as driver literals over the ≤ #buckets census
    # (shared helper; exact ints, census subtree evaluated once —
    # review r8 found the earlier triangular self-join paid the
    # upstream scan twice, once per join side)
    from mapreduceplusplus_spark.operators.aggregates import (
        census_offsets_literal,
    )

    offsets = census_offsets_literal(spark, counts, "_bkt", ["_cnt"], ["_off"])
    # broadcast-safe: offsets has one row per range bucket (constant,
    # config-bounded)
    return local.join(F.broadcast(offsets), "_bkt").select(
        "o_orderkey",
        F.round("o_totalprice", 2).alias("totalprice"),
        "o_orderpriority",
        (F.col("_off") + F.col("_lrn")).cast("bigint").alias("sort_rank"),
    )


@query(
    "sort_limit_topk",
    oracle="""
    SELECT o_orderkey,
           round(o_totalprice, 2)               AS totalprice,
           strftime(o_orderdate, '%Y-%m-%d')    AS orderdate
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 10
    """,
)
def sort_limit_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDER BY … LIMIT k → Spark plans TakeOrderedAndProject: each task
    keeps a k-row heap, the driver merges #tasks×k rows — no global sort,
    no full shuffle.  This IS the scale path for top-k (vs sort_global).
    o_orderkey tiebreaker keeps the result deterministic under ties.
    """
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(10)
        .select(
            "o_orderkey",
            F.round("o_totalprice", 2).alias("totalprice"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
        )
    )


@query(
    "set_union_all",
    oracle="""
    SELECT 'customer' AS kind, c_custkey AS entity_key, round(c_acctbal, 2) AS acctbal
    FROM customer
    UNION ALL
    SELECT 'supplier' AS kind, s_suppkey AS entity_key, round(s_acctbal, 2) AS acctbal
    FROM supplier
    """,
)
def set_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL of schema-aligned projections (``unionByName`` — by
    column name, not position, so projection reordering can't silently
    mispair columns).  Narrow op: no shuffle, partitions concatenate.
    """
    customer = load_table(spark, sf_dir, "customer").select(
        F.lit("customer").alias("kind"),
        F.col("c_custkey").alias("entity_key"),
        F.round("c_acctbal", 2).alias("acctbal"),
    )
    supplier = load_table(spark, sf_dir, "supplier").select(
        F.lit("supplier").alias("kind"),
        F.col("s_suppkey").alias("entity_key"),
        F.round("s_acctbal", 2).alias("acctbal"),
    )
    return customer.unionByName(supplier)


@query(
    "set_intersect",
    oracle="""
    SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
    INTERSECT
    SELECT c_custkey AS custkey FROM customer WHERE c_acctbal > 0
    """,
)
def set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT (distinct): customers that both placed an 'F' order and
    have positive balance.  Plans as an aggregate + join on all columns;
    distinct semantics mean the output is key-unique."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    left = orders.where(F.col("o_orderstatus") == "F").select(
        F.col("o_custkey").alias("custkey")
    )
    right = customer.where(F.col("c_acctbal") > 0).select(
        F.col("c_custkey").alias("custkey")
    )
    return left.intersect(right)


@query(
    "set_except",
    oracle="""
    SELECT c_custkey FROM customer
    EXCEPT
    SELECT o_custkey AS c_custkey FROM orders WHERE o_orderstatus = 'F'
    """,
)
def set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT (distinct): customers who never placed an 'F'-status order
    — the set-op mirror of an anti join (same rows, different plan:
    aggregate + anti-join under the hood).  The status filter keeps the
    result non-empty: every synthetic custkey has ≥1 order overall."""
    customer = load_table(spark, sf_dir, "customer").select("c_custkey")
    orders = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_orderstatus") == "F")
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return customer.subtract(orders)


@query(
    "set_except_all",
    oracle="""
    SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus <> 'F'
    EXCEPT ALL
    SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
    """,
)
def set_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT ALL — MULTISET difference (each row survives max(l−r, 0)
    times), the bag semantics ``EXCEPT``'s implicit distinct throws
    away: here a customer with 5 non-F and 2 F orders keeps 3 rows.
    Spark plans ``exceptAll`` as a per-row ±1 count aggregation +
    generate — one shuffle on the row value, no join.

    At 100 TB that plan is exactly right: hash-partition by row,
    map-side-combine the signed counts, re-expand — skew follows the
    value distribution and AQE splits hot values."""
    orders = load_table(spark, sf_dir, "orders")
    left = orders.where(F.col("o_orderstatus") != "F").select(
        F.col("o_custkey").alias("custkey")
    )
    right = orders.where(F.col("o_orderstatus") == "F").select(
        F.col("o_custkey").alias("custkey")
    )
    return left.exceptAll(right)


@query(
    "set_intersect_all",
    oracle="""
    SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O'
    INTERSECT ALL
    SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
    """,
)
def set_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT ALL — multiset intersection (min(l, r) copies per
    value): customers counted once per matched pair of O- and F-status
    orders.  Same aggregate-and-regenerate physical shape as
    ``set_except_all`` — one value-keyed shuffle, no join."""
    orders = load_table(spark, sf_dir, "orders")
    left = orders.where(F.col("o_orderstatus") == "O").select(
        F.col("o_custkey").alias("custkey")
    )
    right = orders.where(F.col("o_orderstatus") == "F").select(
        F.col("o_custkey").alias("custkey")
    )
    return left.intersectAll(right)


@query(
    "set_union_by_name",
    oracle="""
    SELECT o_orderkey AS k, CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
           'orders' AS src
    FROM orders WHERE o_orderkey < 500
    UNION ALL
    SELECT l_orderkey AS k, CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
           'lineitem' AS src
    FROM lineitem WHERE l_orderkey < 500
    """,
)
def set_union_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``unionByName`` — union resolved BY COLUMN NAME, not position:
    the two inputs here project the same columns in DIFFERENT orders,
    which positional ``UNION ALL`` would silently mis-map (key into
    cents, string into bigint → corrupt data or a late cast error);
    by-name resolution is the only safe union across independently-
    authored subqueries or evolved schemas.  The oracle states the
    intended mapping with explicitly aligned projections — equality
    proves the by-name resolution mapped every column correctly.

    Same zero-shuffle concatenation physics as ``set_union_all``."""
    a = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") < 500)
        .select(
            F.col("o_orderkey").alias("k"),
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
            F.lit("orders").alias("src"),
        )
    )
    # deliberately reversed column order on the second input
    b = (
        load_table(spark, sf_dir, "lineitem")
        .where(F.col("l_orderkey") < 500)
        .select(
            F.lit("lineitem").alias("src"),
            F.round(F.col("l_extendedprice") * 100)
            .cast("bigint")
            .alias("cents"),
            F.col("l_orderkey").alias("k"),
        )
    )
    return a.unionByName(b)


@query(
    "sort_nulls_ordering",
    oracle="""
    WITH sparse AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 7 = 0 THEN NULL
                  ELSE CAST(round(o_totalprice * 100) AS BIGINT) END AS v
      FROM orders WHERE o_orderkey < 2000
    )
    SELECT o_orderkey, v,
           CAST(row_number() OVER (ORDER BY v ASC NULLS FIRST, o_orderkey)
                AS BIGINT) AS rk_nulls_first,
           CAST(row_number() OVER (ORDER BY v DESC NULLS LAST, o_orderkey)
                AS BIGINT) AS rk_nulls_last
    FROM sparse
    """,
)
def sort_nulls_ordering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL placement in ordering — ``NULLS FIRST`` / ``NULLS LAST``
    pinned as ranks (the engines' DEFAULTS differ: Spark sorts NULLs
    first on ASC, DuckDB sorts them last, so any cross-engine ORDER
    BY comparison that doesn't state placement explicitly is silently
    different — the exact portability trap this row nails down).
    Both rank columns state placement explicitly on both sides;
    ``o_orderkey`` tiebreaks make the ranks total.

    One hash-free ordering per window at test scale; at 100 TB both
    windows are single-partition and the production form would use the
    two-pass ``sort_global`` bucket rank — the semantics pinned here
    carry over unchanged."""
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderkey") < 2000
    )
    v = F.when(
        F.col("o_orderkey") % 7 == 0, None
    ).otherwise(F.round(F.col("o_totalprice") * 100).cast("bigint"))
    base = orders.select("o_orderkey", v.alias("v"))
    w1 = Window.orderBy(F.col("v").asc_nulls_first(), "o_orderkey")
    w2 = Window.orderBy(F.col("v").desc_nulls_last(), "o_orderkey")
    return base.select(
        "o_orderkey",
        "v",
        F.row_number().over(w1).cast("bigint").alias("rk_nulls_first"),
        F.row_number().over(w2).cast("bigint").alias("rk_nulls_last"),
    )
