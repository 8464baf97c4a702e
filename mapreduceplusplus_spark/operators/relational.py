"""Projection / filter / predicate operators (SURVEY.md §2.B rows
``project_arith``, ``filter_pred``, ``filter_null_semantics``).

Reference heritage: projections and predicates live *inside* the user's
map coroutine (reference ``mr/word_count.h:16-32`` — the map body is the
only place a record can be transformed or dropped).  Here they are
declarative Catalyst expressions, which buys pushdown: a `where` on a
parquet scan column becomes a row-group/page skip (`PushedFilters` in
the formatted plan) and a narrow `select` prunes the read schema — the
reference re-reads and re-tokenizes every byte per job (§4.1: no
optimizer).

Null semantics are new surface relative to the reference: its text
shuffle format cannot express NULL at all (``src/worker.cc:179``), so we
define them here the ANSI way (3-valued logic + null-safe equality) and
differential-test them — this is exactly where Spark and DuckDB dialects
could diverge, hence the dedicated query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduceplusplus_spark.registry import query
from mapreduceplusplus_spark.sources.tables import load_table


@query(
    "project_arith",
    oracle="""
    SELECT l_orderkey,
           l_linenumber,
           CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)
                                                                      AS revenue_cents,
           CAST(floor(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 100 + 0.5)
                AS BIGINT)                                            AS charge_cents,
           CAST(floor(l_extendedprice / l_quantity * 10000) AS BIGINT) AS unit_price_e4,
           l_orderkey % 7                                             AS okey_mod7
    FROM lineitem
    """,
)
def project_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level arithmetic projection (the TPC-H discount/charge exprs).

    Monetary results are emitted as integer cents via the deterministic
    IEEE-754 expression ``floor(x*100 + 0.5)`` — engine-native
    ``round(double, 2)`` differs between Spark (exact BigDecimal
    HALF_UP) and DuckDB (scaled-float) at .xx5 boundaries, whereas this
    expression is the same double-op sequence on both engines.

    Scale: pure map-side narrow transformation — no shuffle, whole-stage
    codegen over exactly the 6 read columns (column pruning reaches the
    parquet scan).
    """
    li = load_table(spark, sf_dir, "lineitem")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = revenue * (1 + F.col("l_tax"))
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.floor(revenue * 100 + 0.5).cast("bigint").alias("revenue_cents"),
        F.floor(charge * 100 + 0.5).cast("bigint").alias("charge_cents"),
        F.floor(F.col("l_extendedprice") / F.col("l_quantity") * 10000)
        .cast("bigint")
        .alias("unit_price_e4"),
        (F.col("l_orderkey") % 7).alias("okey_mod7"),
    )


@query(
    "filter_pred",
    oracle="""
    SELECT p_partkey, p_name, p_brand, p_type, p_size
    FROM part
    WHERE (p_size BETWEEN 5 AND 15
           AND p_type IN ('ECONOMY', 'SMALL')
           AND p_name LIKE '%ring%')
       OR (p_brand = 'Brand#1' AND p_size > 40)
    """,
)
def filter_pred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conjunctive/disjunctive predicates + IN-list + BETWEEN + LIKE.

    Scale: every conjunct is a parquet-pushable filter (`PushedFilters`:
    In, GreaterThan, StringContains...); the OR of two pushable branches
    is itself pushable, so row groups failing both branches are skipped
    at the scan.
    """
    part = load_table(spark, sf_dir, "part")
    branch_a = (
        F.col("p_size").between(5, 15)
        & F.col("p_type").isin("ECONOMY", "SMALL")
        & F.col("p_name").like("%ring%")
    )
    branch_b = (F.col("p_brand") == "Brand#1") & (F.col("p_size") > 40)
    return part.where(branch_a | branch_b).select(
        "p_partkey", "p_name", "p_brand", "p_type", "p_size"
    )


@query(
    "filter_null_semantics",
    oracle="""
    WITH t AS (
        SELECT nullif(l_returnflag, 'N')  AS a,   -- NULL for 'N' rows
               nullif(l_returnflag, 'R')  AS a2,  -- NULL for 'R' rows
               nullif(l_linestatus, 'F')  AS b    -- NULL for 'F' rows
        FROM lineitem
    )
    SELECT count(*)                                            AS n_rows,
           CAST(count(a) AS BIGINT)                            AS cnt_a_skips_nulls,
           count(*) FILTER (WHERE a IS NULL)                   AS n_a_null,
           count(*) FILTER (WHERE a IS NOT NULL)               AS n_a_notnull,
           count(*) FILTER (WHERE a IS NULL AND b IS NULL)     AS n_both_null,
           count(*) FILTER (WHERE a = a2)                      AS n_eq_3vl,
           count(*) FILTER (WHERE a IS NOT DISTINCT FROM a)    AS n_nullsafe_self
    FROM t
    """,
)
def filter_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IS NULL / IS NOT NULL / 3-valued `=` / null-safe equality.

    The fixtures carry no physical NULLs, so nullable columns are derived
    with ``nullif`` — same derivation on both engines.  ``n_eq_3vl``
    counts only rows where plain `=` evaluates TRUE (NULL operands drop);
    ``n_nullsafe_self`` uses Spark ``eqNullSafe`` / DuckDB
    ``IS NOT DISTINCT FROM`` and counts every row (NULL <=> NULL is TRUE).
    """
    li = load_table(spark, sf_dir, "lineitem")
    a = F.nullif(F.col("l_returnflag"), F.lit("N"))
    a2 = F.nullif(F.col("l_returnflag"), F.lit("R"))
    b = F.nullif(F.col("l_linestatus"), F.lit("F"))
    t = li.select(a.alias("a"), a2.alias("a2"), b.alias("b"))
    cnt = lambda c: F.count(F.when(c, 1))  # noqa: E731
    return t.agg(
        F.count("*").alias("n_rows"),
        F.count("a").alias("cnt_a_skips_nulls"),
        cnt(F.col("a").isNull()).alias("n_a_null"),
        cnt(F.col("a").isNotNull()).alias("n_a_notnull"),
        cnt(F.col("a").isNull() & F.col("b").isNull()).alias("n_both_null"),
        cnt(F.col("a") == F.col("a2")).alias("n_eq_3vl"),
        cnt(F.col("a").eqNullSafe(F.col("a"))).alias("n_nullsafe_self"),
    )


@query(
    "subquery_correlated",
    oracle="""
    SELECT p_brand,
           CAST(count(*) AS BIGINT)           AS n_small_qty,
           round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
    FROM lineitem, part
    WHERE p_partkey = l_partkey
      AND l_quantity < (SELECT 0.5 * avg(l_quantity)
                        FROM lineitem l2
                        WHERE l2.l_partkey = p_partkey)
    GROUP BY p_brand
    """,
)
def subquery_correlated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery (TPC-H Q17 shape): lineitems whose
    quantity is below half their part's average quantity, rolled up per
    brand.  Declared via ``spark.sql`` with the subquery written
    naturally — Catalyst DECORRELATES it into a per-part aggregate
    joined back on ``l_partkey`` (one extra scan + one equi-join), never
    the naive per-row re-execution a tuple-at-a-time engine would do.

    Scale: the decorrelated plan is two scans of lineitem (one
    pre-aggregated to |parts| rows) plus broadcast-able part — the same
    cost envelope as a hand-written self-join, with the optimizer doing
    the rewrite.  At 100 TB that rewrite is the difference between a
    linear plan and |lineitem| subquery executions.
    """
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("sq_lineitem")
    load_table(spark, sf_dir, "part").createOrReplaceTempView("sq_part")
    return spark.sql(
        """
        SELECT p_brand,
               CAST(count(*) AS BIGINT)             AS n_small_qty,
               round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
        FROM sq_lineitem JOIN sq_part ON p_partkey = l_partkey
        WHERE l_quantity < (SELECT 0.5 * avg(l_quantity)
                            FROM sq_lineitem l2
                            WHERE l2.l_partkey = p_partkey)
        GROUP BY p_brand
        """
    )


@query(
    "merge_upsert",
    oracle="""
    WITH src AS (
      -- simulated change set, derived deterministically from the
      -- target: every 3rd customer gets a balance update, and a
      -- shifted key range arrives as brand-new rows
      SELECT c_custkey                        AS k,
             round(c_acctbal + 100.0, 2)      AS new_bal,
             c_mktsegment                     AS new_seg
      FROM customer WHERE c_custkey % 3 = 0
      UNION ALL
      SELECT c_custkey + 1000000, round(c_acctbal, 2), 'NEWSEG'
      FROM customer WHERE c_custkey % 5 = 0
    )
    SELECT coalesce(s.k, t.c_custkey)  AS c_custkey,
           CASE WHEN s.k IS NOT NULL AND t.c_custkey IS NOT NULL THEN 'update'
                WHEN s.k IS NOT NULL THEN 'insert'
                ELSE 'keep' END        AS merge_action,
           coalesce(s.new_bal, round(t.c_acctbal, 2)) AS acctbal,
           coalesce(s.new_seg, t.c_mktsegment)        AS mktsegment
    FROM customer t FULL OUTER JOIN src s ON s.k = t.c_custkey
    """,
)
def merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO / upsert as a pure DataFrame plan — the lakehouse
    write pattern (update matched rows, insert new ones, keep the
    rest) expressed engine-agnostically: one FULL OUTER equi-join of
    target and change set on the key, then per-column ``coalesce``
    picks source-over-target.  The change set here is derived
    deterministically from the target (every 3rd key updated, a
    shifted key range inserted) so the query is self-contained and
    oracle-checkable.

    Scale: ONE hash shuffle on the merge key for each side — exactly
    what Delta/Iceberg MERGE compiles to before file rewriting; with
    a small change set Spark broadcasts it and the target never
    shuffles (AQE decides — the common CDC case).  The
    ``merge_action`` column is the audit trail a real pipeline writes
    to its commit log."""
    cust = load_table(spark, sf_dir, "customer")
    src = (
        cust.where(F.col("c_custkey") % 3 == 0)
        .select(
            F.col("c_custkey").alias("k"),
            F.round(F.col("c_acctbal") + 100.0, 2).alias("new_bal"),
            F.col("c_mktsegment").alias("new_seg"),
        )
        .unionByName(
            cust.where(F.col("c_custkey") % 5 == 0).select(
                (F.col("c_custkey") + 1000000).alias("k"),
                F.round("c_acctbal", 2).alias("new_bal"),
                F.lit("NEWSEG").alias("new_seg"),
            )
        )
    )
    t = cust.alias("t")
    s = src.alias("s")
    joined = t.join(s, F.col("s.k") == F.col("t.c_custkey"), "full_outer")
    matched = F.col("s.k").isNotNull() & F.col("t.c_custkey").isNotNull()
    return joined.select(
        F.coalesce(F.col("s.k"), F.col("t.c_custkey")).alias("c_custkey"),
        F.when(matched, "update")
        .when(F.col("s.k").isNotNull(), "insert")
        .otherwise("keep")
        .alias("merge_action"),
        F.coalesce(F.col("s.new_bal"), F.round(F.col("t.c_acctbal"), 2)).alias(
            "acctbal"
        ),
        F.coalesce(F.col("s.new_seg"), F.col("t.c_mktsegment")).alias("mktsegment"),
    )


@query(
    "dq_constraint_check",
    oracle="""
    SELECT 'customer_key_unique' AS check_name,
           CAST((SELECT count(*) FROM customer) AS BIGINT)  AS n_checked,
           CAST((SELECT count(*) - count(DISTINCT c_custkey) FROM customer)
                AS BIGINT)                                  AS n_violations
    UNION ALL
    SELECT 'customer_name_not_null',
           (SELECT count(*) FROM customer),
           (SELECT count(*) FROM customer WHERE c_name IS NULL)
    UNION ALL
    SELECT 'orders_fk_customer',
           (SELECT count(*) FROM orders),
           (SELECT count(*) FROM orders o
            WHERE NOT EXISTS (SELECT 1 FROM customer c
                              WHERE c.c_custkey = o.o_custkey))
    UNION ALL
    SELECT 'orders_price_nonnegative',
           (SELECT count(*) FROM orders),
           (SELECT count(*) FROM orders WHERE o_totalprice < 0)
    UNION ALL
    SELECT 'lineitem_discount_in_range',
           (SELECT count(*) FROM lineitem),
           (SELECT count(*) FROM lineitem
            WHERE l_discount < 0 OR l_discount > 1)
    """,
)
def dq_constraint_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality audit (the Deequ/dbt-test shape): uniqueness,
    not-null, referential-integrity, and range constraints evaluated
    as ONE DataFrame whose rows are the check results — what a
    production pipeline runs before publishing a table version.

    Plan shape: each check is an aggregation over one scan; the
    referential check is a LEFT ANTI join (broadcast when the parent
    key set is small).  Catalyst collapses the per-table checks into
    shared scans; all counters are exact integers, so the audit is
    deterministic and engine-portable.  At 100 TB every check is a
    map-side count except the FK anti-join — one shuffle (or none,
    broadcast) — and adding more checks adds no new scans."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")

    def row(name: str, checked, violations):
        return checked.crossJoin(violations).select(
            F.lit(name).alias("check_name"),
            F.col("n_checked").cast("bigint"),
            F.col("n_violations").cast("bigint"),
        )

    uniq = row(
        "customer_key_unique",
        cust.agg(F.count("*").alias("n_checked")),
        cust.agg(
            (F.count("*") - F.countDistinct("c_custkey")).alias("n_violations")
        ),
    )
    nn = row(
        "customer_name_not_null",
        cust.agg(F.count("*").alias("n_checked")),
        cust.agg(
            F.count(F.when(F.col("c_name").isNull(), 1)).alias("n_violations")
        ),
    )
    fk = row(
        "orders_fk_customer",
        orders.agg(F.count("*").alias("n_checked")),
        orders.join(
            cust.select("c_custkey"),
            orders.o_custkey == F.col("c_custkey"),
            "left_anti",
        ).agg(F.count("*").alias("n_violations")),
    )
    rng = row(
        "orders_price_nonnegative",
        orders.agg(F.count("*").alias("n_checked")),
        orders.agg(
            F.count(F.when(F.col("o_totalprice") < 0, 1)).alias("n_violations")
        ),
    )
    disc = row(
        "lineitem_discount_in_range",
        li.agg(F.count("*").alias("n_checked")),
        li.agg(
            F.count(
                F.when((F.col("l_discount") < 0) | (F.col("l_discount") > 1), 1)
            ).alias("n_violations")
        ),
    )
    return uniq.unionByName(nn).unionByName(fk).unionByName(rng).unionByName(disc)


@query(
    "cdc_snapshot_diff",
    oracle="""
    WITH new_snap AS (
      SELECT c_custkey,
             CASE WHEN c_custkey % 7 = 0 THEN round(c_acctbal + 50.0, 2)
                  ELSE round(c_acctbal, 2) END AS bal
      FROM customer WHERE c_custkey % 11 <> 0
      UNION ALL
      SELECT c_custkey + 1000000, round(c_acctbal, 2)
      FROM customer WHERE c_custkey % 13 = 0
    ),
    old_snap AS (SELECT c_custkey, round(c_acctbal, 2) AS bal FROM customer)
    SELECT coalesce(n.c_custkey, o.c_custkey) AS c_custkey,
           CASE WHEN o.c_custkey IS NULL THEN 'added'
                WHEN n.c_custkey IS NULL THEN 'removed'
                ELSE 'changed' END            AS change_type,
           o.bal                              AS old_bal,
           n.bal                              AS new_bal
    FROM old_snap o FULL OUTER JOIN new_snap n ON n.c_custkey = o.c_custkey
    WHERE o.c_custkey IS NULL OR n.c_custkey IS NULL OR o.bal <> n.bal
    """,
)
def cdc_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-capture by snapshot diffing — the detect side of
    the ``merge_upsert`` apply side: given two table versions, emit
    added / removed / changed rows (and nothing for unchanged).  The
    "new" snapshot is derived deterministically from the fixture
    (every 7th balance changed, every 11th key deleted, a shifted
    range inserted) so the query is self-contained.

    One FULL OUTER hash join on the key + a change predicate — at
    100 TB both snapshots shuffle once on the key (or co-located
    bucketed snapshots join with no shuffle at all); the change
    predicate prunes unchanged rows BEFORE anything downstream, so
    the emitted delta is |changes|, not |table|."""
    cust = load_table(spark, sf_dir, "customer")
    old_snap = cust.select(
        "c_custkey", F.round("c_acctbal", 2).alias("bal")
    )
    new_snap = (
        cust.where(F.col("c_custkey") % 11 != 0)
        .select(
            "c_custkey",
            F.when(
                F.col("c_custkey") % 7 == 0, F.round(F.col("c_acctbal") + 50.0, 2)
            )
            .otherwise(F.round("c_acctbal", 2))
            .alias("bal"),
        )
        .unionByName(
            cust.where(F.col("c_custkey") % 13 == 0).select(
                (F.col("c_custkey") + 1000000).alias("c_custkey"),
                F.round("c_acctbal", 2).alias("bal"),
            )
        )
    )
    o = old_snap.alias("o")
    n = new_snap.alias("n")
    joined = o.join(n, F.col("n.c_custkey") == F.col("o.c_custkey"), "full_outer")
    return joined.where(
        F.col("o.c_custkey").isNull()
        | F.col("n.c_custkey").isNull()
        | (F.col("o.bal") != F.col("n.bal"))
    ).select(
        F.coalesce(F.col("n.c_custkey"), F.col("o.c_custkey")).alias("c_custkey"),
        F.when(F.col("o.c_custkey").isNull(), "added")
        .when(F.col("n.c_custkey").isNull(), "removed")
        .otherwise("changed")
        .alias("change_type"),
        F.col("o.bal").alias("old_bal"),
        F.col("n.bal").alias("new_bal"),
    )


@query(
    "cdc_incremental_diff",
    oracle="""
    WITH chg AS (
      SELECT 1 AS seq, 'upsert' AS op, c_custkey AS k,
             round(c_acctbal + 50.0, 2) AS bal
      FROM customer WHERE c_custkey % 7 = 0
      UNION ALL
      SELECT 2, 'upsert', c_custkey, round(c_acctbal, 2)
      FROM customer WHERE c_custkey % 9 = 0
      UNION ALL
      SELECT 3, 'delete', c_custkey, CAST(NULL AS DOUBLE)
      FROM customer WHERE c_custkey % 11 = 0
      UNION ALL
      SELECT 4, 'upsert', c_custkey + 1000000, round(c_acctbal, 2)
      FROM customer WHERE c_custkey % 13 = 0
    ),
    old_snap AS (SELECT c_custkey AS k, round(c_acctbal, 2) AS bal
                 FROM customer),
    latest AS (
      SELECT k, op, bal FROM (
        SELECT k, op, bal,
               row_number() OVER (PARTITION BY k ORDER BY seq DESC) AS rn
        FROM chg
      ) WHERE rn = 1
    ),
    new_snap AS (
      SELECT o.k, o.bal FROM old_snap o
      WHERE NOT EXISTS (SELECT 1 FROM latest l WHERE l.k = o.k)
      UNION ALL
      SELECT k, bal FROM latest WHERE op = 'upsert'
    )
    SELECT coalesce(n.k, o.k)               AS c_custkey,
           CASE WHEN o.k IS NULL THEN 'added'
                WHEN n.k IS NULL THEN 'removed'
                ELSE 'changed' END          AS change_type,
           o.bal                            AS old_bal,
           n.bal                            AS new_bal
    FROM old_snap o FULL OUTER JOIN new_snap n ON n.k = o.k
    WHERE o.k IS NULL OR n.k IS NULL OR o.bal <> n.bal
    """,
)
def cdc_incremental_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL change-data-capture: old snapshot + APPEND-ONLY
    change log → the identical diff a full snapshot recompute would
    produce, without ever materializing the new snapshot (VERDICT r9
    item 2 — ``etl_incremental_agg``'s partial-state idea applied to
    CDC, and the read-side shape of the reference's atomic-commit
    heritage: SURVEY §2.A A5, ``src/worker.cc:184-200``).

    The log is derived deterministically from the fixture — four
    sequenced batches: (seq 1) +50 balance upserts for every 7th key,
    (seq 2) upserts REWRITING THE OLD VALUE for every 9th key (a
    net no-op that must be suppressed — and for keys divisible by 63
    it also overrides the seq-1 change back to the old value),
    (seq 3) deletes for every 11th key (overriding any earlier
    upsert — keys divisible by 77), (seq 4) inserts at key+1M for
    every 13th key.

    Plan: (a) collapse the log to its LAST entry per key — one hash
    aggregate over |log| rows (``max(struct(seq, …))``, seq unique per
    (key, batch)); (b) ONE left equi-join of the collapsed log against
    the old snapshot; (c) a pure map-side classifier: delete+present →
    removed, upsert+absent → added, upsert+present+different → changed,
    upsert+present+equal → suppressed.  Keys the log never touched are
    never joined, never emitted.

    The ORACLE is deliberately the expensive algorithm this query
    avoids: apply the log to build the full new snapshot, then
    full-outer-join both complete snapshots (the ``cdc_snapshot_diff``
    shape) — O(|table|) state vs the incremental form's O(|log|).
    At 100 TB the incremental join shuffles |log| + the old-snapshot
    partitions it touches (with a bucketed/partitioned snapshot, only
    the touched buckets are read); the full recompute shuffles the
    whole table twice."""
    cust = load_table(spark, sf_dir, "customer")
    old_snap = cust.select(
        F.col("c_custkey").alias("k"), F.round("c_acctbal", 2).alias("old_bal")
    )
    nul = F.lit(None).cast("double")
    log = (
        cust.where(F.col("c_custkey") % 7 == 0)
        .select(
            F.lit(1).alias("seq"),
            F.lit("upsert").alias("op"),
            F.col("c_custkey").alias("k"),
            F.round(F.col("c_acctbal") + 50.0, 2).alias("bal"),
        )
        .unionByName(
            cust.where(F.col("c_custkey") % 9 == 0).select(
                F.lit(2).alias("seq"),
                F.lit("upsert").alias("op"),
                F.col("c_custkey").alias("k"),
                F.round("c_acctbal", 2).alias("bal"),
            )
        )
        .unionByName(
            cust.where(F.col("c_custkey") % 11 == 0).select(
                F.lit(3).alias("seq"),
                F.lit("delete").alias("op"),
                F.col("c_custkey").alias("k"),
                nul.alias("bal"),
            )
        )
        .unionByName(
            cust.where(F.col("c_custkey") % 13 == 0).select(
                F.lit(4).alias("seq"),
                F.lit("upsert").alias("op"),
                (F.col("c_custkey") + 1000000).alias("k"),
                F.round("c_acctbal", 2).alias("bal"),
            )
        )
    )
    return incremental_diff(old_snap, log).withColumnRenamed("k", "c_custkey")


def incremental_diff(old_snap: DataFrame, log: DataFrame) -> DataFrame:
    """The incremental-CDC core, factored for reuse and property
    testing (random logs vs a full-recompute model in
    tests/test_properties.py): ``old_snap(k, old_bal)`` +
    ``log(seq, op ∈ upsert|delete, k, bal)`` → the added / removed /
    changed delta.  Last writer per key wins (seq unique per key);
    deletes of absent keys and upserts rewriting the old value emit
    nothing.  See ``cdc_incremental_diff`` for the plan-shape and
    scale argument."""
    nul = F.lit(None).cast("double")
    latest = (
        log.groupBy("k")
        .agg(F.max(F.struct("seq", "op", "bal")).alias("m"))
        .select("k", F.col("m.op").alias("op"), F.col("m.bal").alias("new_bal"))
    )
    j = latest.join(old_snap, "k", "left")
    return j.where(
        ((F.col("op") == "delete") & F.col("old_bal").isNotNull())
        | (
            (F.col("op") == "upsert")
            & (F.col("old_bal").isNull() | (F.col("old_bal") != F.col("new_bal")))
        )
    ).select(
        F.col("k"),
        F.when(F.col("op") == "delete", "removed")
        .when(F.col("old_bal").isNull(), "added")
        .otherwise("changed")
        .alias("change_type"),
        F.col("old_bal"),
        F.when(F.col("op") == "delete", nul).otherwise(F.col("new_bal")).alias(
            "new_bal"
        ),
    )


@query(
    "subquery_not_in_null_trap",
    oracle="""
    WITH probe AS (
      -- a key set that CONTAINS a NULL: the classic trap ingredient
      SELECT CASE WHEN c_custkey % 100 = 0 THEN NULL
                  ELSE c_custkey END AS k
      FROM customer WHERE c_mktsegment = 'MACHINERY'
    ),
    not_in AS (
      SELECT count(*) AS n FROM orders
      WHERE o_custkey NOT IN (SELECT k FROM probe)
    ),
    not_exists AS (
      SELECT count(*) AS n FROM orders o
      WHERE NOT EXISTS (SELECT 1 FROM probe p WHERE p.k = o.o_custkey)
    ),
    in_cnt AS (
      SELECT count(*) AS n FROM orders
      WHERE o_custkey IN (SELECT k FROM probe)
    )
    SELECT not_in.n AS n_not_in,
           not_exists.n AS n_not_exists,
           in_cnt.n AS n_in,
           (SELECT count(*) FROM orders) AS n_total
    FROM not_in CROSS JOIN not_exists CROSS JOIN in_cnt
    """,
)
def subquery_not_in_null_trap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``NOT IN`` null trap, pinned as a differential fact: when
    the subquery's key set contains even ONE NULL, ``x NOT IN (...)``
    is never TRUE for any row (three-valued logic: ``x <> NULL`` is
    UNKNOWN, so the conjunction can at best be UNKNOWN) — here
    ``n_not_in = 0`` while the NULL-immune ``NOT EXISTS`` form counts
    the real complement, and ``n_in + n_not_exists = n_total``.  Both
    engines agree on all four counts, which is exactly the semantics a
    migrating user must not discover in production.

    Physically Spark plans ``NOT IN`` as a NULL-AWARE anti join
    (BroadcastNestedLoopJoin for the null-check) and ``NOT EXISTS`` as
    a plain left-anti hash join — same data, different operators,
    15000× different answer; the companion ``join_anti`` row covers
    the well-behaved no-NULL case.  All four counts reduce map-side;
    the probe set broadcasts."""
    orders = load_table(spark, sf_dir, "orders")
    probe = (
        load_table(spark, sf_dir, "customer")
        .where(F.col("c_mktsegment") == "MACHINERY")
        .select(
            F.when(F.col("c_custkey") % 100 == 0, None)
            .otherwise(F.col("c_custkey"))
            .alias("k")
        )
    )
    orders.createOrReplaceTempView("orders_nt")
    probe.createOrReplaceTempView("probe_nt")
    return spark.sql(
        """
        WITH not_in AS (
          SELECT count(*) AS n FROM orders_nt
          WHERE o_custkey NOT IN (SELECT k FROM probe_nt)
        ),
        not_exists AS (
          SELECT count(*) AS n FROM orders_nt o
          WHERE NOT EXISTS (SELECT 1 FROM probe_nt p
                            WHERE p.k = o.o_custkey)
        ),
        in_cnt AS (
          SELECT count(*) AS n FROM orders_nt
          WHERE o_custkey IN (SELECT k FROM probe_nt)
        )
        SELECT not_in.n AS n_not_in,
               not_exists.n AS n_not_exists,
               in_cnt.n AS n_in,
               (SELECT count(*) FROM orders_nt) AS n_total
        FROM not_in CROSS JOIN not_exists CROSS JOIN in_cnt
        """
    )


@query(
    "dq_referential_integrity",
    oracle="""
    SELECT 'lineitem.l_orderkey -> orders' AS fk,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(*) FILTER (WHERE o.o_orderkey IS NULL) AS BIGINT)
               AS n_orphans
    FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
    UNION ALL
    SELECT 'orders.o_custkey -> customer' AS fk,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(*) FILTER (WHERE c.c_custkey IS NULL) AS BIGINT)
               AS n_orphans
    FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    UNION ALL
    SELECT 'customer.c_nationkey -> nation' AS fk,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(*) FILTER (WHERE n.n_nationkey IS NULL) AS BIGINT)
               AS n_orphans
    FROM customer c LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
    """,
)
def dq_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit across the FK chain — orphan-row
    counts for lineitem→orders, orders→customer, customer→nation in
    one report (engines without enforced constraints audit them as
    queries; this is the nightly check every warehouse runs).  LEFT
    join + FILTER-counted null probe rather than anti-join so BOTH
    totals come from one pass per edge: the row count and its orphan
    subset can never be from different snapshots.

    Scale: each edge is one join at the fact table's natural key —
    orders/customer/nation legs broadcast (or DPP-prune); the three
    audits are independent and run concurrently as sibling stages; the
    report is 3 rows."""

    def edge(fact, fk, dim, pk, label):
        j = fact.join(dim, fact[fk] == dim[pk], "left")
        return j.agg(
            F.lit(label).alias("fk"),
            F.count("*").cast("bigint").alias("n_rows"),
            F.count(F.when(dim[pk].isNull(), 1)).cast("bigint").alias(
                "n_orphans"
            ),
        ).select("fk", "n_rows", "n_orphans")

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey")
    return (
        edge(li, "l_orderkey", orders.select("o_orderkey"), "o_orderkey",
             "lineitem.l_orderkey -> orders")
        .unionAll(
            edge(orders, "o_custkey", cust.select("c_custkey"), "c_custkey",
                 "orders.o_custkey -> customer")
        )
        .unionAll(
            edge(cust, "c_nationkey", nation, "n_nationkey",
                 "customer.c_nationkey -> nation")
        )
    )


@query(
    "maintenance_partition_skew_report",
    oracle="""
    WITH per_part AS (
      SELECT CAST(year(l_shipdate) AS BIGINT) AS ship_year,
             count(*) AS n_rows
      FROM lineitem GROUP BY 1
    ),
    stats AS (
      SELECT CAST(sum(n_rows) // count(*) AS BIGINT) AS mean_rows
      FROM per_part
    )
    SELECT p.ship_year,
           CAST(p.n_rows AS BIGINT) AS n_rows,
           CAST(p.n_rows * 10000 // s.mean_rows AS BIGINT) AS vs_mean_bp
    FROM per_part p, stats s
    """,
)
def maintenance_partition_skew_report(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Partition-skew report for a prospective partitioning key: rows
    per ship-year and each partition's size vs the mean in floor-
    divided basis points — the sizing audit run BEFORE choosing a
    table's partition column (a 40000 bp outlier year means that
    partition gets 4× the files, tasks, and stragglers).  The same
    report over ``spark_partition_id()`` audits physical layout;
    keying on the DATA column keeps it engine-checkable and is what
    partition-evolution decisions actually read.

    Scale: one map-side-combined rollup to #years rows; the mean is a
    1-row re-aggregate of that rollup broadcast back — the fact table
    is scanned once."""
    li = load_table(spark, sf_dir, "lineitem")
    per_part = li.groupBy(
        F.year("l_shipdate").cast("bigint").alias("ship_year")
    ).agg(F.count("*").alias("n_rows"))
    stats = per_part.agg(F.expr("sum(n_rows) div count(*)").alias("mean_rows"))
    # broadcast-safe: stats is a 1-row scalar re-aggregate
    return per_part.join(F.broadcast(stats)).select(
        "ship_year",
        F.col("n_rows").cast("bigint").alias("n_rows"),
        F.expr("n_rows * 10000 div mean_rows").cast("bigint").alias("vs_mean_bp"),
    )


@query(
    "dq_benford_deviation",
    oracle="""
    WITH cents AS (
      SELECT c FROM (
        SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS c FROM orders
      ) WHERE c > 0
    ),
    per_digit AS (
      SELECT CAST(substr(CAST(c AS VARCHAR), 1, 1) AS BIGINT) AS digit,
             count(*) AS n
      FROM cents GROUP BY 1
    ),
    tot AS (SELECT sum(n) AS total FROM per_digit)
    SELECT p.digit,
           CAST(p.n AS BIGINT) AS n,
           CAST(p.n * 10000 // t.total AS BIGINT) AS share_bp,
           CAST(floor(log10(1 + 1.0/p.digit) * 10000) AS BIGINT) AS benford_bp,
           CAST(p.n * 10000 // t.total
                - CAST(floor(log10(1 + 1.0/p.digit) * 10000) AS BIGINT)
                AS BIGINT) AS dev_bp
    FROM per_digit p, tot t
    ORDER BY digit
    """,
)
def dq_benford_deviation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit audit of a monetary column: the observed
    share of each leading significant digit of ``o_totalprice`` vs the
    Benford expectation ``log10(1 + 1/d)`` — the classic anomaly /
    fabrication screen for financial columns (synthetic or truncated
    data shows up as a flat digit histogram; Benford-conforming data
    decays 30.1% → 4.6%).  A data-quality monitor alongside
    ``dq_profile_all_columns``: run per ingest batch and alert on
    ``dev_bp`` drift.

    Engine-exactness: the leading digit is taken from the DECIMAL
    STRING of the integer cents value (the repo's cents convention —
    no float log10 on the data path), shares are floor-divided basis
    points, and the Benford expectation is ``floor(log10 · 10⁴)`` of
    an irrational constant — integer everywhere a boundary could flip.

    Scale: one map-side-combined rollup to ≤ 9 rows, a 1-row total
    re-aggregate broadcast back — the fact table is scanned once; no
    shuffle wider than 9 rows.  Reference heritage: none (SURVEY §2
    charter extension, dq family)."""
    orders = load_table(spark, sf_dir, "orders")
    cents = orders.select(
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("c")
    ).where(F.col("c") > 0)  # on CENTS, not the raw price: 0.001
    # rounds to 0 cents and a digit of 0 would put 1/0 inside log10
    per_digit = cents.groupBy(
        F.substring(F.col("c").cast("string"), 1, 1).cast("bigint").alias("digit")
    ).agg(F.count("*").alias("n"))
    tot = per_digit.agg(F.sum("n").alias("total"))
    benford_bp = F.floor(
        F.log10(F.lit(1) + F.lit(1.0) / F.col("digit")) * 10000
    ).cast("bigint")
    # broadcast-safe: tot is a 1-row scalar re-aggregate
    return (
        per_digit.join(F.broadcast(tot))
        .select(
            "digit",
            F.col("n").cast("bigint").alias("n"),
            F.expr("n * 10000 div total").cast("bigint").alias("share_bp"),
            benford_bp.alias("benford_bp"),
            (F.expr("n * 10000 div total").cast("bigint") - benford_bp)
            .cast("bigint")
            .alias("dev_bp"),
        )
        .orderBy("digit")
    )
