"""TPC-H decision-support query shapes, completing the classic suite.

Round 6 already carried Q1 (``agg_groupby``), Q3 (``tpch_q3_shipping``),
Q4, Q5 (``join_multiway``), Q10, and Q14; this module adds the rest of
the TPC-H shapes expressible over the driver's slim schema (no
``partsupp``, no commit/receipt dates, no comment columns), adapted
where a missing column forces a stand-in predicate but always keeping
the *plan shape* the benchmark exercises: disjunctive pushdown (Q19),
correlated scalar-min (Q2), aggregate-of-aggregate max (Q15),
per-group-average correlation (Q17), grouped-having fan-in (Q18),
left-join count histograms (Q13), EXISTS/NOT-EXISTS pairs on the same
fact (Q21), and anti-join + scalar-subquery screening (Q22).

Reference heritage: the reference engine (C++ map/fold over text
files, ``src/worker.cc:127-243``) has none of these — they extend the
engine per SURVEY.md §2's "beyond the reference" charter: a user of a
modern OLAP engine expects the full TPC-H surface to run.

Determinism contract (repo-wide): money rides as integer cents /
1e-4 units in BIGINT, ratios use the half-up basis-point integer
division from ``tpch_q14_promo_effect``, years cast to BIGINT on both
engines — no float accumulation ever reaches the value hash.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduceplusplus_spark.operators._money import bp_ratio_halfup
from mapreduceplusplus_spark.registry import query
from mapreduceplusplus_spark.sources.tables import load_table

__all__ = ["bp_ratio_halfup"]


def _cents(col: str):
    return F.round(F.col(col) * 100).cast("bigint")


#: revenue in 1e-4 units: cents * (100 - discount%) — exact BIGINT
def _rev_e4():
    return _cents("l_extendedprice") * (
        100 - F.round(F.col("l_discount") * 100).cast("bigint")
    )


_REV_E4_SQL = (
    "CAST(round(l_extendedprice * 100) AS BIGINT)"
    " * (100 - CAST(round(l_discount * 100) AS BIGINT))"
)


#: exact integer quantity: fixtures carry integer-valued DOUBLE
#: quantities, and a bare double→BIGINT cast ROUNDS in DuckDB but
#: TRUNCATES in Spark — round() first on BOTH engine sides so any
#: future non-integral quantity keeps the engines in agreement
#: (ADVICE r6) instead of diverging silently at .5 boundaries.
def _qty():
    return F.round(F.col("l_quantity")).cast("bigint")


def _qty_sql(p: str = "") -> str:
    """The oracle-side twin of ``_qty`` (``p`` = table alias prefix) —
    interpolated into every oracle so the coercion can never drift
    per-site again."""
    return f"CAST(round({p}l_quantity) AS BIGINT)"


@query(
    "tpch_q6_forecast_revenue",
    oracle=f"""
    SELECT CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                    * CAST(round(l_discount * 100) AS BIGINT)) AS BIGINT)
               AS revenue_e4,
           count(*) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
      AND l_discount >= 0.05 AND l_discount <= 0.07
      AND l_quantity < 24
    """,
)
def tpch_q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 (forecasting revenue change): the pure filter-aggregate
    — one year of lineitem, a discount band, a quantity cap, and a
    single global sum of ``extendedprice * discount``.  The benchmark's
    canonical scan-efficiency probe: every predicate is
    parquet-pushable (shown in ``PushedFilters``), no join, no group —
    the whole query is a scan + partial/final agg pair.

    Scale: at 100 TB this is THE query where pushdown decides
    everything — with ship-date partitioning the scan prunes to ~1/7th
    of the table before a row is read, and the discount/quantity
    filters evaluate inside the codegen'd scan stage.  Revenue
    accumulates in integer 1e-4 units (cents × discount%), exact under
    any accumulation order."""
    li = load_table(spark, sf_dir, "lineitem")
    disc_pct = F.round(F.col("l_discount") * 100).cast("bigint")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(_cents("l_extendedprice") * disc_pct)
            .cast("bigint")
            .alias("revenue_e4"),
            F.count("*").alias("n_lines"),
        )
    )


@query(
    "tpch_q7_volume_shipping",
    oracle=f"""
    SELECT sn.n_name AS supp_nation,
           cn.n_name AS cust_nation,
           CAST(year(l.l_shipdate) AS BIGINT) AS l_year,
           CAST(sum({_REV_E4_SQL}) AS BIGINT) AS revenue_e4
    FROM lineitem l
    JOIN orders o    ON l.l_orderkey = o.o_orderkey
    JOIN customer c  ON o.o_custkey = c.c_custkey
    JOIN supplier s  ON l.l_suppkey = s.s_suppkey
    JOIN nation sn   ON s.s_nationkey = sn.n_nationkey
    JOIN nation cn   ON c.c_nationkey = cn.n_nationkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
      AND l.l_shipdate <  TIMESTAMP '1998-01-01'
      AND ((sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
        OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1'))
    GROUP BY sn.n_name, cn.n_name, CAST(year(l.l_shipdate) AS BIGINT)
    """,
)
def tpch_q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 (volume shipping): bilateral trade volume between two
    nations by year — the self-referencing-dimension join (nation
    joined twice under different roles) with a symmetric pair
    disjunction that must be evaluated AFTER both role joins.

    Scale: only the constant-size nation legs carry broadcast hints.
    ``customer`` and ``supplier`` grow linearly with SF (customer is
    ~1/4 of orders), so forcing them into a broadcast would be a
    driver OOM at the 100 TB charter — they join UNHINTED: at test SF
    AQE's runtime broadcast conversion recovers the same plan, at
    cluster SF they shuffle on their keys like ``tpch_q10`` does.
    The remaining shuffles are lineitem⋈orders on orderkey and the
    2×2×years-row final rollup.  The nation-pair predicate prunes
    ~(2/25)² of the traffic but can only apply post-join — Catalyst
    still pushes the two-year ship-date window into the scan."""
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = load_table(spark, sf_dir, "nation")
    sn = nation.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    cn = nation.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    j = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        # broadcast-safe: nation is a constant-cardinality dim (≤25
        # rows at any SF) — hinting it is free forever
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key"))
        .where(
            (
                (F.col("supp_nation") == "NATION_1")
                & (F.col("cust_nation") == "NATION_2")
            )
            | (
                (F.col("supp_nation") == "NATION_2")
                & (F.col("cust_nation") == "NATION_1")
            )
        )
    )
    return j.groupBy(
        "supp_nation",
        "cust_nation",
        F.year("l_shipdate").cast("bigint").alias("l_year"),
    ).agg(F.sum(_rev_e4()).cast("bigint").alias("revenue_e4"))


@query(
    "tpch_q8_market_share",
    oracle=f"""
    WITH all_rev AS (
      SELECT CAST(year(l.l_shipdate) AS BIGINT) AS o_year,
             {_REV_E4_SQL} AS rev_e4,
             (sn.n_name = 'NATION_3') AS from_target
      FROM lineitem l
      JOIN part p      ON l.l_partkey = p.p_partkey
      JOIN orders o    ON l.l_orderkey = o.o_orderkey
      JOIN customer c  ON o.o_custkey = c.c_custkey
      JOIN nation cn   ON c.c_nationkey = cn.n_nationkey
      JOIN region r    ON cn.n_regionkey = r.r_regionkey
      JOIN supplier s  ON l.l_suppkey = s.s_suppkey
      JOIN nation sn   ON s.s_nationkey = sn.n_nationkey
      WHERE r.r_name = 'ASIA'
        AND p.p_type = 'PROMO'
        AND l.l_shipdate >= TIMESTAMP '1996-01-01'
        AND l.l_shipdate <  TIMESTAMP '1998-01-01'
    )
    SELECT o_year,
           CAST((20000 * sum(CASE WHEN from_target THEN rev_e4 ELSE 0 END)
                 + sum(rev_e4)) // (2 * sum(rev_e4)) AS BIGINT)
               AS mkt_share_bp,
           CAST(sum(rev_e4) AS BIGINT) AS total_rev_e4
    FROM all_rev
    GROUP BY o_year
    """,
)
def tpch_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 (national market share): of PROMO-part revenue sold
    into ASIA, the share supplied by NATION_3, by year — the
    conditional-share-of-group pattern (Q14's CASE-ratio, but grouped)
    over the deepest join tree in the suite (7 tables, nation twice).

    Scale: only region/nation (constant ≤25 rows) carry broadcast
    hints.  ``part``/``customer``/``supplier`` grow linearly with SF
    — even PROMO-filtered part is a constant FRACTION, not a constant
    SIZE — so they join unhinted: AQE converts them to broadcasts at
    test SF and lets them shuffle at cluster SF instead of OOMing the
    driver.  The fact shuffles once on orderkey.  The share is the
    repo's half-up basis-point integer division — engine-exact, no
    float ratio."""
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    part = (
        load_table(spark, sf_dir, "part")
        .where(F.col("p_type") == "PROMO")
        .select("p_partkey")
    )
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    # broadcast-safe: region is a constant-cardinality dim (5 rows)
    cn = nation.join(
        F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey")
    ).select(F.col("n_nationkey").alias("cn_key"))
    sn = nation.select(
        F.col("n_nationkey").alias("sn_key"),
        (F.col("n_name") == "NATION_3").alias("from_target"),
    )
    j = (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        # broadcast-safe: cn/sn derive from nation (≤25 rows at any SF)
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
        .select(
            F.year("l_shipdate").cast("bigint").alias("o_year"),
            _rev_e4().alias("rev_e4"),
            "from_target",
        )
    )
    agg = j.groupBy("o_year").agg(
        F.sum(F.when(F.col("from_target"), F.col("rev_e4")).otherwise(0)).alias(
            "tgt"
        ),
        F.sum("rev_e4").alias("total"),
    )
    return agg.select(
        "o_year",
        bp_ratio_halfup("tgt", "total").alias("mkt_share_bp"),
        F.col("total").cast("bigint").alias("total_rev_e4"),
    )


@query(
    "tpch_q9_product_profit",
    oracle=f"""
    SELECT n.n_name AS nation,
           CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
           CAST(sum({_REV_E4_SQL}
                    - CAST(round(p.p_retailprice * 100) AS BIGINT)
                      * {_qty_sql("l.")} * 20) AS BIGINT)
               AS profit_e4
    FROM lineitem l
    JOIN part p     ON l.l_partkey = p.p_partkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    WHERE p.p_name LIKE '%widget%'
    GROUP BY n.n_name, CAST(year(o.o_orderdate) AS BIGINT)
    """,
)
def tpch_q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 (product-type profit): profit by supplier nation and
    order year for parts matching a substring — the schema has no
    ``partsupp.ps_supplycost``, so cost is proxied as 20% of retail
    price per unit (``retail_cents * qty * 20`` in 1e-4 units), which
    preserves Q9's plan exactly: an un-pushable LIKE on the part dim,
    a 5-table join, and a (nation × year) rollup where profit can go
    negative (discount exceeding the margin proxy).

    Scale: the LIKE prunes the part dim before its join, but a LIKE
    keeps a constant FRACTION of a linearly-growing table — so
    neither part nor supplier carries a broadcast hint (AQE converts
    at test SF; at 100 TB they shuffle instead of OOMing the driver).
    Only constant-size nation is hinted; lineitem shuffles once on
    orderkey for the orders leg."""
    li = load_table(spark, sf_dir, "lineitem")
    part = (
        load_table(spark, sf_dir, "part")
        .where(F.col("p_name").like("%widget%"))
        .select("p_partkey", "p_retailprice")
    )
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", F.col("n_name").alias("nation")
    )
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    profit_e4 = _rev_e4() - _cents("p_retailprice") * _qty() * 20
    return (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        # broadcast-safe: nation is constant-cardinality (≤25 rows)
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("nation", F.year("o_orderdate").cast("bigint").alias("o_year"))
        .agg(F.sum(profit_e4).cast("bigint").alias("profit_e4"))
    )


@query(
    "tpch_q12_late_line_priority",
    oracle="""
    SELECT l.l_linestatus,
           CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
      AND l.l_shipdate >= TIMESTAMP '1996-01-01'
      AND l.l_shipdate <  TIMESTAMP '1997-01-01'
    GROUP BY l.l_linestatus
    """,
)
def tpch_q12_late_line_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (shipping modes / order priority): for lines
    shipped late (>60 days after order — the schema's stand-in for
    receipt-after-commit), count high- vs low-priority orders per line
    status.  The signature Q12 move is both CASE branches in ONE pass
    — a single join feeding two conditional counts, not two queries.

    Scale: one year of lineitem after pruning joins orders on the
    orderkey (the one shuffle); the cross-table lateness predicate
    evaluates post-join inside codegen; output is a 2-row rollup."""
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .where(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAY"))
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("bigint").alias(
                "high_line_count"
            ),
            F.sum(F.when(~high, 1).otherwise(0)).cast("bigint").alias(
                "low_line_count"
            ),
        )
    )


@query(
    "tpch_q13_customer_orders_hist",
    oracle="""
    SELECT c_count, count(*) AS custdist
    FROM (SELECT c.c_custkey,
                 count(o.o_orderkey) AS c_count
          FROM customer c
          LEFT JOIN orders o
            ON c.c_custkey = o.o_custkey
           AND o.o_orderpriority <> '4-NOT SPECIFIED'
          GROUP BY c.c_custkey)
    GROUP BY c_count
    """,
)
def tpch_q13_customer_orders_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 (customer distribution): the histogram of order
    counts per customer — a LEFT join whose filter lives in the ON
    clause (moving it to WHERE would silently drop zero-order
    customers, the exact bucket Q13 exists to count), then two stacked
    aggregations (count per customer → count per count).

    Scale: customers without orders must survive, so this is the one
    shape where the fact side cannot pre-filter the dim; the first
    rollup shuffles on custkey, the second is a ~20-row histogram.
    ``count(o_orderkey)`` (not ``count(*)``) makes the no-match
    left-join row count as 0."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderpriority"
    )
    per_cust = (
        cust.join(
            orders,
            (F.col("c_custkey") == F.col("o_custkey"))
            & (F.col("o_orderpriority") != "4-NOT SPECIFIED"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


@query(
    "tpch_q15_top_supplier",
    oracle=f"""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             CAST(sum({_REV_E4_SQL}) AS BIGINT) AS total_revenue_e4
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate <  TIMESTAMP '1996-04-01'
      GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, r.total_revenue_e4
    FROM supplier s
    JOIN revenue r ON s.s_suppkey = r.supplier_no
    WHERE r.total_revenue_e4 = (SELECT max(total_revenue_e4) FROM revenue)
    """,
)
def tpch_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 (top supplier): the supplier(s) with maximum quarterly
    revenue — the aggregate-of-aggregate pattern (a grouped rollup
    consumed twice: once for the max, once for the equality filter).
    Ties all surface, which is why the filter is ``= max`` rather than
    a LIMIT 1 (the benchmark's stated semantics); revenue in integer
    1e-4 units makes the tie comparison exact.

    Scale: the revenue CTE shuffles one quarter of lineitem on
    suppkey (~#suppliers rows out); the scalar max is a 1-row
    broadcast back over that same tiny rollup — the fact table is
    scanned ONCE (Spark reuses the shuffled rollup for both legs).
    The name lookup broadcasts the ``= max`` WINNERS (ties-kept, ~1
    row at any SF) into the supplier dim — NOT the full supplier
    table, which grows linearly and must never be hint-broadcast."""
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
        # explicit NOT NULL on the grouping key: the join leg infers it
        # from the equi-join condition, so stating it here makes BOTH
        # consumers' exchange subtrees canonically identical and lets
        # AQE's stage reuse compute the rollup once (without it the two
        # legs differ by exactly this inferred filter and the quarter
        # of lineitem is scanned+shuffled twice)
        & F.col("l_suppkey").isNotNull()
    )
    revenue = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum(_rev_e4()).cast("bigint").alias("total_revenue_e4")
    )
    mx = revenue.agg(F.max("total_revenue_e4").alias("mx"))
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    # broadcast-safe: mx is a 1-row scalar aggregate at any SF
    winners = revenue.join(
        F.broadcast(mx), F.col("total_revenue_e4") == F.col("mx")
    )
    # broadcast-safe: winners is the ``= max`` tie set (~1 row at any
    # SF) — the tiny side here is the filtered LEFT leg, not the
    # linearly-growing supplier dim
    return (
        F.broadcast(winners)
        .join(supp, F.col("supplier_no") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue_e4")
    )


@query(
    "tpch_q16_supplier_variety",
    oracle="""
    SELECT p.p_brand, p.p_type, p.p_size,
           count(DISTINCT l.l_suppkey) AS supplier_cnt
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    WHERE p.p_brand <> 'Brand#1'
      AND p.p_type <> 'PROMO'
      AND p.p_size IN (1, 4, 9, 16, 25, 36, 49)
      AND l.l_suppkey NOT IN
          (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p.p_brand, p.p_type, p.p_size
    """,
)
def tpch_q16_supplier_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 (parts/supplier relationship): how many distinct
    suppliers can provide each (brand, type, size) combination,
    excluding a supplier blacklist — the schema has no ``partsupp``,
    so the supplies-relation is derived from lineitem (a supplier
    supplies a part iff it ever shipped it), and the "complaints"
    blacklist is negative account balance.  The shape survives intact:
    negated dim predicates + an IN-list, a NOT IN sub-select on the
    supplier key (safe on the subquery side: ``s_suppkey`` is never
    NULL, so the NOT IN null-trap pinned by
    ``subquery_not_in_null_trap`` cannot fire; the probe side filters
    NULL keys explicitly because NOT IN drops them while a bare
    left-anti keeps them), and a COUNT DISTINCT over a many-to-many
    bridge.

    Scale: the blacklist is a constant FRACTION of the linearly-
    growing supplier table and filtered part likewise grows with SF,
    so neither side carries a broadcast hint — AQE converts both to
    broadcasts at test SF and lets them shuffle at cluster SF.  The
    distinct-count shuffles (brand,type,size,suppkey) once then folds
    — no row explosion."""
    # NOT IN also drops NULL probe keys (NULL NOT IN (...) is NULL);
    # left_anti would KEEP them — the explicit isNotNull makes the
    # anti-join exactly NOT IN even if the key column ever gains NULLs
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey")
        .where(F.col("l_suppkey").isNotNull())
    )
    part = load_table(spark, sf_dir, "part").where(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 4, 9, 16, 25, 36, 49)
    )
    bad = (
        load_table(spark, sf_dir, "supplier")
        .where(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    return (
        li.join(bad, F.col("l_suppkey") == F.col("s_suppkey"), "left_anti")
        .join(part, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
    )


@query(
    "tpch_q17_small_qty_revenue",
    oracle=f"""
    WITH stats AS (
      SELECT l_partkey,
             CAST(sum({_qty_sql()}) AS BIGINT) AS sum_qty,
             count(*) AS cnt
      FROM lineitem
      GROUP BY l_partkey
    )
    SELECT CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT))
                AS BIGINT) AS lost_rev_cents,
           count(*) AS n_lines
    FROM lineitem l
    JOIN part p  ON l.l_partkey = p.p_partkey
    JOIN stats t ON l.l_partkey = t.l_partkey
    WHERE p.p_brand = 'Brand#1'
      AND p.p_type = 'SMALL'
      AND 5 * {_qty_sql("l.")} * t.cnt < t.sum_qty
    """,
)
def tpch_q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 (small-quantity-order revenue): revenue from lines
    whose quantity is below 20% of that part's average order quantity
    — the correlated-average pattern.  The float comparison
    ``qty < 0.2 * avg(qty)`` is rewritten as the exact integer
    cross-multiplication ``5·qty·cnt < sum_qty`` (quantities are
    integer-valued), so both engines agree on every boundary case —
    a float avg could flip rows sitting exactly at the 20% line.

    Scale: the per-part stats rollup is the big shuffle (partkey);
    Spark's decorrelation produces the same aggregate-then-join plan
    written out explicitly here.  The brand/type filter applies on the
    probe side only — the stats must cover ALL lines of each part
    (filtering before the stats join would change the average), which
    is exactly the subtlety Q17 tests."""
    li = load_table(spark, sf_dir, "lineitem")
    stats = li.groupBy(F.col("l_partkey").alias("t_partkey")).agg(
        F.sum(_qty()).cast("bigint").alias("sum_qty"),
        F.count("*").alias("cnt"),
    )
    # no broadcast hint: brand+type-filtered part is a constant
    # FRACTION of a linearly-growing table — AQE converts at test SF
    part = (
        load_table(spark, sf_dir, "part")
        .where((F.col("p_brand") == "Brand#1") & (F.col("p_type") == "SMALL"))
        .select("p_partkey")
    )
    return (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .join(stats, F.col("l_partkey") == F.col("t_partkey"))
        .where(5 * _qty() * F.col("cnt") < F.col("sum_qty"))
        .agg(
            F.sum(_cents("l_extendedprice")).cast("bigint").alias("lost_rev_cents"),
            F.count("*").alias("n_lines"),
        )
    )


@query(
    "tpch_q18_large_volume_customers",
    oracle=f"""
    SELECT c.c_name, o.o_orderkey,
           CAST(sum({_qty_sql("l.")}) AS BIGINT) AS total_qty
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderkey IN
          (SELECT l_orderkey FROM lineitem
           GROUP BY l_orderkey
           HAVING sum({_qty_sql()}) > 300)
    GROUP BY c.c_name, o.o_orderkey
    """,
)
def tpch_q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 (large-volume customer): orders whose total quantity
    exceeds 300 units, with the customer who placed them — the
    IN-on-grouped-HAVING pattern: an aggregate subquery drives a semi
    join back onto the SAME fact table, then the surviving orders
    re-aggregate for display.

    Scale: the qualifying-orders rollup shuffles lineitem once on
    orderkey and emits only the rare heavy orders (HAVING > 300 is a
    ~1e-3 selectivity at any SF — quantity sums concentrate near
    #lines×25); that key set still GROWS with SF though, so it joins
    back unhinted — AQE broadcasts it while it fits and degrades to a
    co-partitioned shuffle join (same orderkey both sides) beyond.
    ``customer`` likewise grows linearly and joins unhinted.
    Quantities sum as BIGINT — exact."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    heavy = (
        li.groupBy("l_orderkey")
        .agg(F.sum(_qty()).alias("sq"))
        .where(F.col("sq") > 300)
        .select(F.col("l_orderkey").alias("h_orderkey"))
    )
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        li.join(heavy, F.col("l_orderkey") == F.col("h_orderkey"), "inner")
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_name", "o_orderkey")
        .agg(F.sum(_qty()).cast("bigint").alias("total_qty"))
    )


@query(
    "tpch_q19_disjunctive_revenue",
    oracle=f"""
    SELECT CAST(sum({_REV_E4_SQL}) AS BIGINT) AS revenue_e4,
           count(*) AS n_lines
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 5
           AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 1 AND 10
           AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 20 AND 30)
    """,
)
def tpch_q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 (discounted revenue, OR-of-ANDs): three brand/size/
    quantity conjunctions OR'd together across the join — the
    benchmark's disjunctive-predicate-pushdown probe.  Catalyst
    factors the common structure: the part side gets
    ``brand IN (1,2,3) AND size <= 15`` pushed below the join (each
    disjunct implies it), the lineitem side gets the quantity hull
    ``BETWEEN 1 AND 30``, and only the residual OR evaluates
    post-join.  A naive engine evaluates the whole OR after a full
    join — the pushdown is the entire query at scale.

    Scale: the factored part-side predicate prunes to ~3/25 of brands
    before the join — still a constant fraction of a linearly-growing
    table, so part joins UNHINTED (AQE broadcast-converts at test SF,
    shuffles at 100 TB); the OR residual runs in codegen over the
    joined stream; single-row integer-exact aggregate out."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_brand", "p_size"
    )
    cond = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 5)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(1, 10)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .where(cond)
        .agg(
            F.sum(_rev_e4()).cast("bigint").alias("revenue_e4"),
            F.count("*").alias("n_lines"),
        )
    )


@query(
    "tpch_q21_waiting_suppliers",
    oracle="""
    SELECT s.s_name,
           count(*) AS numwait
    FROM supplier s
    JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
    JOIN orders o    ON o.o_orderkey = l1.l_orderkey
    WHERE o.o_orderstatus = 'F'
      AND l1.l_shipdate > o.o_orderdate + INTERVAL 120 DAY
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      JOIN orders o3 ON o3.o_orderkey = l3.l_orderkey
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_shipdate > o3.o_orderdate + INTERVAL 120 DAY)
    GROUP BY s.s_name
    """,
)
def tpch_q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 (suppliers who kept orders waiting): per supplier,
    the number of late line items (ship >120 days after order — the
    stand-in for receipt-after-commit) in finished multi-supplier
    orders where NO other supplier was also late — i.e. the orders
    this supplier alone delayed.  The triple-correlation shape:
    EXISTS (another supplier participated) AND NOT EXISTS (another
    supplier was late) against the same fact under different aliases.

    The Spark side decorrelates by hand into per-order supplier
    rollups — total distinct suppliers vs late distinct suppliers per
    order — then keeps late lines where ``n_supp > 1 AND n_late_supp
    = 1``: one extra small aggregate instead of two correlated
    re-scans, the classic manual rewrite for this query (both EXISTS
    legs collapse into one grouped pass).

    Scale: the per-order supplier census shuffles lineitem once on
    orderkey (already the join key for orders — co-partitioned); its
    output is #orders-sized and joins back on the same key with no
    new exchange under AQE; the supplier dim grows linearly with SF
    so it joins unhinted (AQE broadcast-converts while it fits)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    orders = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderstatus") == "F"
    ).select("o_orderkey", "o_orderdate")
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 120 DAY")
    lo = li.join(orders, F.col("l_orderkey") == F.col("o_orderkey")).select(
        "l_orderkey", "l_suppkey", late.alias("is_late")
    )
    census = lo.groupBy(F.col("l_orderkey").alias("c_orderkey")).agg(
        F.count_distinct("l_suppkey").alias("n_supp"),
        F.count_distinct(F.when(F.col("is_late"), F.col("l_suppkey"))).alias(
            "n_late_supp"
        ),
    )
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        lo.where(F.col("is_late"))
        .join(census, F.col("l_orderkey") == F.col("c_orderkey"))
        .where((F.col("n_supp") > 1) & (F.col("n_late_supp") == 1))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
    )


@query(
    "tpch_q22_idle_customers",
    oracle="""
    WITH pool AS (
      SELECT c_custkey, c_nationkey,
             CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents
      FROM customer
      WHERE c_nationkey IN (1, 3, 5, 7, 9)
    ),
    floor_bal AS (
      SELECT CAST(sum(bal_cents) // count(*) AS BIGINT) AS avg_floor
      FROM pool WHERE bal_cents > 0
    )
    SELECT p.c_nationkey,
           count(*) AS numcust,
           CAST(sum(p.bal_cents) AS BIGINT) AS totacctbal_cents
    FROM pool p, floor_bal f
    WHERE p.bal_cents > f.avg_floor
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = p.c_custkey
                        AND o.o_orderdate >= TIMESTAMP '2000-01-01')
    GROUP BY p.c_nationkey
    """,
)
def tpch_q22_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 (global sales opportunity): customers in a set of
    target nations (the schema has no phone country codes — nationkey
    stands in) holding above-average positive balances with no order
    since 2000 (the generated data gives every customer SOME order,
    so "idle" means lapsed) — the anti-join +
    scalar-aggregate-subquery combo.
    The average is the FLOOR of mean positive balance in integer
    cents (``sum // count``), replacing the float avg so the boundary
    rows agree exactly across engines.

    Scale: the pool is dim-sized; the scalar avg is a 1-row broadcast;
    the NOT EXISTS decorrelates to a LEFT ANTI against the orders
    custkey projection — at 100 TB that anti join is the only shuffle,
    or zero shuffles if orders' custkey index is bucketed."""
    pool = (
        load_table(spark, sf_dir, "customer")
        .where(F.col("c_nationkey").isin(1, 3, 5, 7, 9))
        .select(
            "c_custkey", "c_nationkey", _cents("c_acctbal").alias("bal_cents")
        )
    )
    # integer floor average, computed exactly: sum div count
    avg_floor = (
        pool.where(F.col("bal_cents") > 0)
        .agg(
            F.sum("bal_cents").alias("s"), F.count("*").alias("n")
        )
        .select(F.expr("s div n").cast("bigint").alias("avg_floor"))
    )
    orders = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp"))
        .select("o_custkey")
    )
    return (
        # broadcast-safe: avg_floor is a 1-row scalar aggregate
        pool.join(F.broadcast(avg_floor))
        .where(F.col("bal_cents") > F.col("avg_floor"))
        .join(orders, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count("*").alias("numcust"),
            F.sum("bal_cents").cast("bigint").alias("totacctbal_cents"),
        )
    )


@query(
    "tpch_q2_min_cost_supplier",
    oracle="""
    WITH supplies AS (
      SELECT DISTINCT l.l_partkey, l.l_suppkey
      FROM lineitem l
    ),
    europe AS (
      SELECT s.s_suppkey, s.s_name,
             CAST(round(s.s_acctbal * 100) AS BIGINT) AS bal_cents
      FROM supplier s
      JOIN nation n ON s.s_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
      WHERE r.r_name = 'EUROPE'
    )
    SELECT p.p_partkey, e.s_name, e.bal_cents
    FROM part p
    JOIN supplies sp ON sp.l_partkey = p.p_partkey
    JOIN europe e    ON e.s_suppkey = sp.l_suppkey
    WHERE p.p_size = 15 AND p.p_type = 'LARGE'
      AND e.bal_cents = (SELECT min(e2.bal_cents)
                         FROM supplies sp2
                         JOIN europe e2 ON e2.s_suppkey = sp2.l_suppkey
                         WHERE sp2.l_partkey = p.p_partkey)
    """,
)
def tpch_q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 (minimum-cost supplier): for each qualifying part, the
    EUROPE supplier with the minimum cost — the correlated scalar-min
    subquery over the same join the outer query runs.  The schema has
    no ``partsupp.ps_supplycost``, so the supplies relation derives
    from lineitem (DISTINCT part⋈supplier pairs) and cost is proxied
    by account balance in exact cents; the plan shape — join, then
    keep only rows matching a per-group min computed over an identical
    join — is Q2's.

    The Spark side decorrelates with a grouped-min + join-back (the
    rewrite Catalyst itself applies to the correlated form), keeping
    ties like the benchmark does.

    Scale: the DISTINCT pair census is the one lineitem shuffle
    (partkey,suppkey — map-side combined).  europe (a supplier
    fraction), filtered part, and the per-part mins rollup all GROW
    with SF, so none carries a broadcast hint — AQE converts them at
    test SF; at 100 TB the min-join-back becomes a co-partitioned
    shuffle join.  Only constant-size nation/region are hinted."""
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_regionkey"
    )
    region = load_table(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE")
    europe = (
        load_table(spark, sf_dir, "supplier")
        # broadcast-safe: nation (≤25 rows) / region (5 rows)
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey", "s_name", _cents("s_acctbal").alias("bal_cents"))
    )
    part = (
        load_table(spark, sf_dir, "part")
        .where((F.col("p_size") == 15) & (F.col("p_type") == "LARGE"))
        .select("p_partkey")
    )
    # the part filter pushes BELOW the distinct: only qualifying parts'
    # (part, supplier) pairs are ever consumed, so the census
    # deduplicates ~|parts-selectivity| of lineitem instead of all of
    # it (measured 1.38 s → the suite's midfield at sf0.1; at 100 TB
    # this is the difference between shuffling the full pair census
    # and a few percent of it)
    supplies = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey")
        .join(part, F.col("l_partkey") == F.col("p_partkey"))
        .select("p_partkey", "l_suppkey")
        .distinct()
    )
    cand = supplies.join(
        europe, F.col("l_suppkey") == F.col("s_suppkey")
    ).select("p_partkey", "s_name", "bal_cents")
    mins = cand.groupBy(F.col("p_partkey").alias("m_partkey")).agg(
        F.min("bal_cents").alias("min_cents")
    )
    return (
        cand.join(
            mins,
            (F.col("p_partkey") == F.col("m_partkey"))
            & (F.col("bal_cents") == F.col("min_cents")),
        )
        .select("p_partkey", "s_name", "bal_cents")
    )


@query(
    "tpch_q11_important_stock",
    oracle=f"""
    WITH v AS (
      SELECT l.l_partkey,
             CAST(sum({_qty_sql("l.")}
                      * CAST(round(p.p_retailprice * 100) AS BIGINT))
                  AS BIGINT) AS value_cents
      FROM lineitem l
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN part p     ON l.l_partkey = p.p_partkey
      WHERE s.s_nationkey IN (2, 4)
      GROUP BY l.l_partkey
    )
    SELECT l_partkey, value_cents
    FROM v
    WHERE value_cents * 1000 > (SELECT CAST(sum(value_cents) AS BIGINT) FROM v)
    """,
)
def tpch_q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 (important stock identification): parts whose held
    value within a nation group exceeds a fraction (1/1000) of the
    group's total — the grouped-aggregate-vs-global-scalar-of-the-
    SAME-aggregate pattern.  No ``partsupp`` in the schema, so held
    value derives from shipped volume × retail cents (exact BIGINT);
    the plan shape — one rollup consumed by both the filter and the
    scalar total — is Q11's.

    The threshold comparison is cross-multiplied (``value·1000 >
    total``) instead of dividing the total: exact integers, no
    fraction-epsilon ambiguity across engines.

    Scale: the nation-cut supplier and full part are both linear-
    growth tables, so they join UNHINTED (AQE broadcast-converts at
    test SF, shuffles at 100 TB); one shuffle to the per-part rollup;
    the scalar total re-aggregates the #parts-row rollup and
    broadcasts back 1 row — with AQE exchange reuse the rollup
    computes once (same structure the Q15 pin enforces)."""
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_partkey").isNotNull()
    )
    supp = (
        load_table(spark, sf_dir, "supplier")
        .where(F.col("s_nationkey").isin(2, 4))
        .select("s_suppkey")
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_retailprice")
    v = (
        li.join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(part, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_partkey")
        .agg(
            F.sum(_qty() * _cents("p_retailprice"))
            .cast("bigint")
            .alias("value_cents")
        )
    )
    total = v.agg(F.sum("value_cents").cast("bigint").alias("tot"))
    return (
        # broadcast-safe: total is a 1-row scalar aggregate
        v.join(F.broadcast(total))
        .where(F.col("value_cents") * 1000 > F.col("tot"))
        .select("l_partkey", "value_cents")
    )


@query(
    "tpch_q20_dominant_suppliers",
    oracle=f"""
    WITH red96 AS (
      SELECT l.l_suppkey, l.l_partkey,
             CAST(sum({_qty_sql("l.")}) AS BIGINT) AS q
      FROM lineitem l
      JOIN part p ON l.l_partkey = p.p_partkey
      WHERE p.p_name LIKE 'red%'
        AND l.l_shipdate >= TIMESTAMP '1996-01-01'
        AND l.l_shipdate <  TIMESTAMP '1997-01-01'
      GROUP BY l.l_suppkey, l.l_partkey
    ),
    tot AS (
      SELECT l_partkey AS pk, CAST(sum(q) AS BIGINT) AS tq
      FROM red96 GROUP BY l_partkey
    )
    SELECT s.s_name,
           count(*) AS n_dominant_parts
    FROM red96 r
    JOIN tot ON r.l_partkey = tot.pk
    JOIN supplier s ON r.l_suppkey = s.s_suppkey
    WHERE 4 * r.q > tot.tq
    GROUP BY s.s_name
    """,
)
def tpch_q20_dominant_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (potential part promotion): suppliers holding a
    DOMINANT position (>25% of one year's shipped quantity) in any
    'red' part — the two-granularity aggregate comparison (per
    supplier-part vs per part) followed by a join back to the supplier
    dim.  The original compares ``ps_availqty`` to half the year's
    shipments; without ``partsupp`` the same plan shape compares the
    supplier's share of the part's demand, cross-multiplied
    (``4·q > total``) for integer exactness.

    Scale: the (supplier, part) rollup is the one fact shuffle; the
    per-part total re-aggregates that rollup (micro-shuffle on
    partkey, #pairs rows); the dominance filter joins the two on
    partkey — co-partitioned, no new exchange under AQE.  The 'red'
    part cut and the supplier name lookup are constant FRACTIONS of
    linear-growth tables, so neither is hint-broadcast — AQE converts
    while they fit."""
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    red = (
        load_table(spark, sf_dir, "part")
        .where(F.col("p_name").like("red%"))
        .select("p_partkey")
    )
    red96 = (
        li.join(red, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum(_qty()).cast("bigint").alias("q"))
    )
    tot = red96.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.sum("q").cast("bigint").alias("tq")
    )
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        red96.join(tot, F.col("l_partkey") == F.col("pk"))
        .where(4 * F.col("q") > F.col("tq"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count("*").alias("n_dominant_parts"))
    )
