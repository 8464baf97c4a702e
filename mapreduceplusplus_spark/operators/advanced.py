"""Advanced SQL-surface operators added in round 6: recursive CTEs,
the TPC-H Q10 join shape, integer-exact statistical regression,
window-free RFM segmentation, and the incremental-ETL
partial-aggregate merge proof.

Reference heritage: the reference engine has no recursion or
regression — these extend the engine the way SURVEY.md §2's "beyond
the reference" charter describes (complete analytics surface a user
of a modern OLAP engine expects), re-expressed Spark-first.

Determinism contract (same as the rest of the tree): every value that
reaches the driver's hash is either integer-exact, a string, or a
double produced by identical rational arithmetic on both engines —
no libm-dependent floats (see ``text_zipf_slope``: the log-log
regression runs on MICRO-UNIT BIGINT logs so the slope is an exact
rational before the final rounded division).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mapreduceplusplus_spark.operators._money import bp_ratio_halfup
from mapreduceplusplus_spark.registry import query
from mapreduceplusplus_spark.sources.tables import load_table

#: Shared dialect-intersection body of the recursive month calendar —
#: the Spark query and the DuckDB oracle run the SAME recursion; the
#: date renderer (``date_format`` vs ``strftime``) and the recursion
#: bounds are spliced in via ``{render}`` / ``{m0}`` / ``{m1}``.  The
#: oracle derives the bounds inline (DuckDB evaluates the CTE once);
#: Spark receives them as literals from a prior 1-row aggregate —
#: Spark's UnionLoop re-evaluates the recursive step's plan each
#: iteration, so an inline ``(SELECT m1 FROM bounds)`` re-scans the
#: fact table ~80× (measured 16 s → 0.8 s at sf0.1 after the change).
_RECURSIVE_MONTHS_SQL = """
    WITH RECURSIVE months(mo) AS (
      SELECT {m0} AS mo
      UNION ALL
      SELECT mo + INTERVAL '1' MONTH FROM months
      WHERE mo < {m1}
    ),
    agg AS (
      SELECT date_trunc('month', o_orderdate) AS mo,
             count(*) AS n_orders,
             round(sum(o_totalprice), 2) AS revenue
      FROM orders
      GROUP BY date_trunc('month', o_orderdate)
    )
    SELECT {render} AS month,
           CAST(coalesce(agg.n_orders, 0) AS BIGINT) AS n_orders,
           coalesce(agg.revenue, 0.0) AS revenue
    FROM months LEFT JOIN agg ON months.mo = agg.mo
"""


@query(
    "sql_recursive_cte",
    oracle=_RECURSIVE_MONTHS_SQL.format(
        render="strftime(months.mo, '%Y-%m')",
        m0="(SELECT date_trunc('month', min(o_orderdate)) FROM orders)",
        m1="(SELECT date_trunc('month', max(o_orderdate)) FROM orders)",
    ),
)
def sql_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (``WITH RECURSIVE``, new in Spark 4.x): build the
    complete month calendar between the first and last order date by
    recursion, then left-join monthly order counts/revenue so empty
    months surface as explicit zero rows — the gap-revealing calendar
    dimension every BI layer needs (and the one shape a plain
    ``GROUP BY`` can never produce, because absent months have no rows
    to group).  Complements ``ts_resample_gapfill``, which builds its
    per-user daily grid non-recursively via ``sequence``/``explode``:
    this row pins the recursive-query engine surface itself.

    Spark executes the recursion as an iterative UnionLoop over the
    anchor + recursive step; depth here is #months (~80), far under
    the safety limit, and each step is a single-row projection over
    LITERAL bounds — the bounds come from one prior min/max aggregate
    whose 1-row result is collected and spliced in (same bounded-
    driver-state convention as ``sort_global``'s quantile boundaries).
    Inlining the bounds as a correlated subquery instead would make
    UnionLoop re-scan the fact table on every iteration (measured
    16 s → 0.8 s at sf0.1).  The fact table is thus touched exactly
    twice: the min/max agg and the monthly hash-aggregate (both
    map-side combined, one shuffle each).

    The recursion text is shared with the DuckDB oracle; only the
    date renderer and the bounds splice differ (DuckDB evaluates its
    inline bounds CTE once, so it keeps the self-contained form).
    """
    orders = load_table(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("orders")
    b = orders.agg(
        F.date_format(
            F.date_trunc("month", F.min("o_orderdate")), "yyyy-MM-dd"
        ).alias("m0"),
        F.date_format(
            F.date_trunc("month", F.max("o_orderdate")), "yyyy-MM-dd"
        ).alias("m1"),
    ).collect()[0]
    if b.m0 is None:
        # empty input: mirror the oracle's SQL semantics exactly — the
        # anchor row still exists with a NULL month (min over empty is
        # NULL), the recursion stops immediately (NULL < NULL is not
        # true), and the LEFT JOIN coalesces the aggregates to zero —
        # so DuckDB yields ONE (NULL, 0, 0.0) row, and so do we
        return spark.createDataFrame(
            [(None, 0, 0.0)], "month string, n_orders bigint, revenue double"
        )
    # months between the bounds, +headroom; the default
    # spark.sql.cteRecursionLevelLimit is 100 and the data spans ~80
    # months already — a wider generated date range must not turn into
    # a recursion-abort the DuckDB oracle doesn't share
    n_months = (
        (int(b.m1[:4]) - int(b.m0[:4])) * 12
        + int(b.m1[5:7])
        - int(b.m0[5:7])
        + 1
    )
    spark.conf.set(
        "spark.sql.cteRecursionLevelLimit", str(max(200, 2 * n_months))
    )
    return spark.sql(
        _RECURSIVE_MONTHS_SQL.format(
            render="date_format(months.mo, 'yyyy-MM')",
            m0=f"TIMESTAMP '{b.m0}'",
            m1=f"TIMESTAMP '{b.m1}'",
        )
    )


@query(
    "tpch_q10_returned_items",
    oracle="""
    -- revenue accumulated in integer 1e-4 units (price has 2 decimals,
    -- discount 2) so the sum is accumulation-order-exact, divided and
    -- rounded once at the end
    SELECT c_custkey,
           c_name,
           CAST((sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                     * (100 - CAST(round(l_discount * 100) AS BIGINT))) + 50)
                // 100 AS BIGINT) / 100.0 AS revenue,
           round(c_acctbal, 2) AS acctbal,
           n_name
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1996-04-01'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                 * (100 - CAST(round(l_discount * 100) AS BIGINT))) DESC,
             c_custkey
    LIMIT 20
    """,
)
def tpch_q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape (returned-item reporting): 4-table join —
    lineitem⋈orders⋈customer⋈nation — with a quarter filter on orders
    and a flag filter on lineitem, grouped per customer, top-20 by
    lost revenue.  Completes the TPC-H quartet alongside Q1
    (``agg_groupby``), Q3 (``tpch_q3_shipping``) and the Q5 shape
    (``join_multiway``).

    Scale: the quarter predicate prunes orders at the scan (3 months
    of ~80) and the returnflag predicate prunes lineitem; nation
    (25 rows) broadcasts; orders⋈lineitem is the only fact-fact
    shuffle, and the customer join shuffles the already-quarter-
    reduced fact side.  The top-20 is TakeOrderedAndProject — no
    global sort.  ``c_custkey`` tiebreaks revenue ties.

    Revenue is accumulated in integer 1e-4 units (cents × discount
    basis points) so the per-customer sum — which spans enough rows
    for double accumulation order to flip the 2nd decimal — is exact
    on both engines, divided and rounded once.
    """
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    orders = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    lineitem = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_returnflag") == "R"
    )
    rev_e4 = F.sum(
        F.round(F.col("l_extendedprice") * 100).cast("bigint")
        * (100 - F.round(F.col("l_discount") * 100).cast("bigint"))
    )
    return (
        orders.join(lineitem, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(customer, F.col("c_custkey") == F.col("o_custkey"))
        # broadcast-safe: nation is a constant-cardinality dim (<=25
        # rows)
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(rev_e4.alias("rev_e4"))
        .select(
            "c_custkey",
            "c_name",
            (F.expr("(rev_e4 + 50) div 100") / 100.0).alias("revenue"),
            F.round("c_acctbal", 2).alias("acctbal"),
            "n_name",
            "rev_e4",
        )
        .orderBy(F.col("rev_e4").desc(), "c_custkey")
        .limit(20)
        .drop("rev_e4")
    )


#: top-N token ranks entering the Zipf regression — the classic fit
#: window (rank 1..200) where the power law holds before the tail bends
_ZIPF_TOP = 200


@query(
    "text_zipf_slope",
    oracle=f"""
    WITH toks AS (
      SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS term
      FROM documents
    ),
    freq AS (
      SELECT term, count(*) AS f FROM toks GROUP BY term
    ),
    ranked AS (
      SELECT f, row_number() OVER (ORDER BY f DESC, term) AS r
      FROM freq
    ),
    pts AS (
      -- micro-unit logs: x = round(1e6*ln(rank)), y = round(1e6*ln(freq))
      -- as BIGINT, so every downstream sum is integer-exact
      SELECT CAST(round(1000000 * ln(r)) AS BIGINT) AS x,
             CAST(round(1000000 * ln(f)) AS BIGINT) AS y
      FROM ranked WHERE r <= {_ZIPF_TOP}
    ),
    s AS (
      SELECT count(*) AS n,
             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * y) AS BIGINT) AS sxy,
             CAST(sum(x * x) AS BIGINT) AS sxx
      FROM pts
    )
    SELECT CAST(n AS BIGINT) AS n_points,
           round(CAST(n * sxy - sx * sy AS DOUBLE)
                 / CAST(n * sxx - sx * sx AS DOUBLE), 4) + 0 AS zipf_slope,
           round((CAST(sy AS DOUBLE) / n
                  - (CAST(n * sxy - sx * sy AS DOUBLE)
                     / CAST(n * sxx - sx * sx AS DOUBLE))
                    * (CAST(sx AS DOUBLE) / n)) / 1000000.0, 4) + 0
               AS zipf_intercept_ln
    FROM s
    """,
)
def text_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit over the corpus vocabulary: OLS slope of
    ln(freq) vs ln(rank) for the top-200 terms — the standard corpus-
    health diagnostic (natural language sits near slope −1; corrupted
    or templated corpora drift off it), a first-class signal in
    training-data quality pipelines.

    Engine-exactness: rather than trusting ``regr_slope`` over raw
    doubles (accumulation order and libm ``ln`` differ between Spark's
    JVM and DuckDB's C), both engines quantize the logs to MICRO-UNIT
    BIGINTs (round(1e6·ln(·))) and form the normal-equation sums in
    integer arithmetic — the slope is an exact rational (n·Σxy−ΣxΣy)/
    (n·Σxx−Σx²) rounded once at the end.  Max |x·y| ≈ 2.9e13 and the
    200-row sums stay far inside BIGINT.

    At 100 TB: tokenize+count is the word-count shape (one shuffle,
    map-side combined); ranking the vocabulary is a top-k over the
    *vocab* table (millions of rows, not the corpus) pruned by the
    row_number window's rank filter; the final sums reduce ≤ 200 rows.
    The fit actually uses min(200, |vocab|) points — the synthetic
    corpus has a ~31-term vocabulary and a shallow slope (≈ −0.18),
    exactly the templated-corpus signal the diagnostic exists to
    catch.  A near-flat corpus could drive the rounded slope into
    (−0.00005, 0), so both sides carry the registry's ``+ 0`` signed-
    zero normalization.
    """
    docs = load_table(spark, sf_dir, "documents")
    freq = (
        docs.select(
            F.explode(
                F.regexp_extract_all(F.lower("text"), F.lit("[a-z]+"), 0)
            ).alias("term")
        )
        .groupBy("term")
        .agg(F.count("*").alias("f"))
    )
    w = Window.orderBy(F.col("f").desc(), "term")
    # the unpartitioned window is limit-pruned: row_number + the r<=200
    # filter compiles to a WindowGroupLimit(200) before any exchange,
    # so only 200 rows per map task reach the single reducer
    pts = (
        freq.select("f", F.row_number().over(w).alias("r"))
        .where(F.col("r") <= _ZIPF_TOP)
        .select(
            F.round(F.lit(1000000) * F.log("r")).cast("bigint").alias("x"),
            F.round(F.lit(1000000) * F.log("f")).cast("bigint").alias("y"),
        )
    )
    s = pts.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    slope = num.cast("double") / den.cast("double")
    return s.select(
        F.col("n").cast("bigint").alias("n_points"),
        (F.round(slope, 4) + F.lit(0.0)).alias("zipf_slope"),
        (
            F.round(
                (
                    F.col("sy").cast("double") / F.col("n")
                    - slope * (F.col("sx").cast("double") / F.col("n"))
                )
                / 1000000.0,
                4,
            )
            + F.lit(0.0)
        ).alias("zipf_intercept_ln"),
    )


@query(
    "events_rfm_segmentation",
    oracle="""
    WITH g AS (SELECT max(o_orderdate) AS maxd FROM orders),
    cust AS (
      SELECT o_custkey AS custkey,
             count(*) AS frequency,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS m_cents,
             max(o_orderdate) AS last_o
      FROM orders GROUP BY o_custkey
    ),
    c2 AS (
      SELECT custkey, frequency, m_cents,
             CAST(date_diff('day', last_o, g.maxd) AS BIGINT) AS r_days
      FROM cust CROSS JOIN g
    ),
    q AS (
      SELECT round(quantile_cont(r_days, 0.2), 3) AS r1,
             round(quantile_cont(r_days, 0.4), 3) AS r2,
             round(quantile_cont(r_days, 0.6), 3) AS r3,
             round(quantile_cont(r_days, 0.8), 3) AS r4,
             round(quantile_cont(frequency, 0.2), 3) AS f1,
             round(quantile_cont(frequency, 0.4), 3) AS f2,
             round(quantile_cont(frequency, 0.6), 3) AS f3,
             round(quantile_cont(frequency, 0.8), 3) AS f4,
             round(quantile_cont(m_cents, 0.2), 3) AS m1,
             round(quantile_cont(m_cents, 0.4), 3) AS m2,
             round(quantile_cont(m_cents, 0.6), 3) AS m3,
             round(quantile_cont(m_cents, 0.8), 3) AS m4
      FROM c2
    ),
    scored AS (
      SELECT custkey, r_days, frequency, m_cents,
             1 + (CASE WHEN r_days > q.r1 THEN 1 ELSE 0 END)
               + (CASE WHEN r_days > q.r2 THEN 1 ELSE 0 END)
               + (CASE WHEN r_days > q.r3 THEN 1 ELSE 0 END)
               + (CASE WHEN r_days > q.r4 THEN 1 ELSE 0 END) AS r_score,
             1 + (CASE WHEN frequency > q.f1 THEN 1 ELSE 0 END)
               + (CASE WHEN frequency > q.f2 THEN 1 ELSE 0 END)
               + (CASE WHEN frequency > q.f3 THEN 1 ELSE 0 END)
               + (CASE WHEN frequency > q.f4 THEN 1 ELSE 0 END) AS f_score,
             1 + (CASE WHEN m_cents > q.m1 THEN 1 ELSE 0 END)
               + (CASE WHEN m_cents > q.m2 THEN 1 ELSE 0 END)
               + (CASE WHEN m_cents > q.m3 THEN 1 ELSE 0 END)
               + (CASE WHEN m_cents > q.m4 THEN 1 ELSE 0 END) AS m_score
      FROM c2 CROSS JOIN q
    )
    SELECT custkey, r_days, frequency, m_cents,
           CAST(r_score AS INT) AS r_score,
           CAST(f_score AS INT) AS f_score,
           CAST(m_score AS INT) AS m_score,
           'R' || CAST(r_score AS VARCHAR) || 'F' || CAST(f_score AS VARCHAR)
               || 'M' || CAST(m_score AS VARCHAR) AS segment
    FROM scored
    """,
)
def events_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (recency / frequency / monetary) customer segmentation —
    the canonical marketing-analytics rollup: per customer, days since
    last order, order count, and lifetime cents, each scored 1–5 by
    which population quintile the value falls in, concatenated into
    the familiar 'R3F5M4' segment label.

    Scored WITHOUT any global window: the quintile boundaries come
    from one exact-``percentile`` aggregate whose 12-double result is
    collected and spliced back as LITERALS (the bounded-driver-state
    convention of ``sort_global``'s quantile boundaries — joining the
    uncollected 1-row aggregate instead would re-run the whole
    customer rollup a second time inside the scoring plan), and each
    customer's scores are plain threshold comparisons — nothing that
    degrades as customers grow to 10^8 (an ``ntile`` formulation
    would need a single-partition window over every customer).  This
    'boundary quantile' semantics differs from ``ntile`` only in how
    it spreads EXACT TIES across buckets — analytically the right
    behavior (equal values get equal scores).

    Determinism: metrics are exact integers; boundaries are linear-
    interpolated quantiles of integers at p ∈ {.2,.4,.6,.8} rounded
    to 3 decimals on BOTH engines — the true boundary's fractional
    part is a multiple of 0.2 (interpolation fraction × integer gap),
    never near a rounding half-point, so the last-ulp difference
    between Spark's and DuckDB's interpolation formula cannot flip
    the rounded value or an integer-vs-boundary comparison."""
    orders = load_table(spark, sf_dir, "orders")
    g = orders.agg(F.max("o_orderdate").alias("maxd"))
    cust = orders.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.count("*").alias("frequency"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("m_cents"),
        F.max("o_orderdate").alias("last_o"),
    )
    # broadcast-safe: g is a 1-row global max
    c2 = cust.join(F.broadcast(g)).select(
        "custkey",
        "frequency",
        "m_cents",
        F.datediff("maxd", "last_o").cast("bigint").alias("r_days"),
    )
    qcols = []
    for metric, tag in [("r_days", "r"), ("frequency", "f"), ("m_cents", "m")]:
        for j, p in enumerate([0.2, 0.4, 0.6, 0.8], start=1):
            qcols.append(
                F.round(F.expr(f"percentile({metric}, {p})"), 3).alias(
                    f"{tag}{j}"
                )
            )
    qrow = c2.agg(*qcols).collect()[0]

    def score(metric: str, tag: str):
        s = F.lit(1)
        for j in range(1, 5):
            b = qrow[f"{tag}{j}"]
            cond = F.col(metric) > F.lit(b) if b is not None else F.lit(False)
            s = s + F.when(cond, 1).otherwise(0)
        return s.cast("int").alias(f"{tag}_score")

    scored = c2.select(
        "custkey",
        "r_days",
        "frequency",
        "m_cents",
        score("r_days", "r"),
        score("frequency", "f"),
        score("m_cents", "m"),
    )
    return scored.withColumn(
        "segment",
        F.concat(
            F.lit("R"), F.col("r_score").cast("string"),
            F.lit("F"), F.col("f_score").cast("string"),
            F.lit("M"), F.col("m_score").cast("string"),
        ),
    )


@query(
    "etl_incremental_agg",
    oracle="""
    SELECT o_orderpriority,
           count(*) AS n_orders,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS sum_cents,
           CAST(min(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS min_cents,
           CAST(max(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS max_cents
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def etl_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregation by PARTIAL-STATE MERGE — the production
    ETL shape that makes a 100 TB daily rollup affordable: the
    historical summary (here, orders before 2000-01-01) is aggregated
    once and stored; each new batch aggregates ONLY its own rows and
    the two partial states merge algebraically (counts add, sums add,
    min/max combine).  The registered query runs both legs and the
    merge in one plan and the oracle recomputes the aggregate from
    scratch over the whole table — equality IS the proof that the
    aggregate is decomposable and the incremental pipeline can never
    drift from a full recompute.

    Only algebraic/distributive aggregates merge this way (count, sum,
    min, max, and sketches like HLL — see ``agg_hll_sketch_merge``);
    holistic ones (exact median, exact distinct) do not, which is
    exactly why the sketch family exists.  At 100 TB the history leg
    is a stored ~priority-cardinality-row table, not a scan: the
    daily cost is one partition's aggregation plus a merge over
    kilobytes of state."""
    orders = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    cutoff = F.lit("2000-01-01").cast("timestamp")

    def partial(df):
        return df.groupBy("o_orderpriority").agg(
            F.count("*").alias("n_orders"),
            F.sum(cents).cast("bigint").alias("sum_cents"),
            F.min(cents).cast("bigint").alias("min_cents"),
            F.max(cents).cast("bigint").alias("max_cents"),
        )

    history = partial(orders.where(F.col("o_orderdate") < cutoff))
    new_batch = partial(orders.where(F.col("o_orderdate") >= cutoff))
    return (
        history.unionAll(new_batch)
        .groupBy("o_orderpriority")
        .agg(
            F.sum("n_orders").cast("bigint").alias("n_orders"),
            F.sum("sum_cents").cast("bigint").alias("sum_cents"),
            F.min("min_cents").cast("bigint").alias("min_cents"),
            F.max("max_cents").cast("bigint").alias("max_cents"),
        )
    )


@query(
    "tpch_q4_order_priority",
    oracle="""
    SELECT o_orderpriority,
           count(*) AS order_count
    FROM orders o
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1996-07-01'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
    GROUP BY o_orderpriority
    """,
)
def tpch_q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape (order-priority checking): count orders per
    priority that have at least one LATE line item — an EXISTS
    correlated on the join key with a cross-table date predicate
    (the schema has no commit/receipt dates, so 'late' is ship >
    order + 60 days; the plan shape is Q4's exactly).  Catalyst
    rewrites the EXISTS to a LEFT SEMI join on ``l_orderkey``, so the
    lineitem side deduplicates per order before the count — the
    semantics ``join_semi`` pins, here under a correlated predicate
    that must travel into the join condition.

    Scale: half-year scan pruning on orders; semi join short-circuits
    per matched order (no fan-out by line count); one shuffle each
    side, priority rollup is a 5-row aggregate."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(
        """
        SELECT o_orderpriority,
               count(*) AS order_count
        FROM orders o
        WHERE o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate <  TIMESTAMP '1996-07-01'
          AND EXISTS (SELECT 1 FROM lineitem l
                      WHERE l.l_orderkey = o.o_orderkey
                        AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
        GROUP BY o_orderpriority
        """
    )


@query(
    "tpch_q14_promo_effect",
    oracle="""
    WITH j AS (
      SELECT CAST(round(l_extendedprice * 100) AS BIGINT)
             * (100 - CAST(round(l_discount * 100) AS BIGINT)) AS rev_e4,
             (p_type = 'PROMO') AS is_promo
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate <  TIMESTAMP '1996-02-01'
    )
    SELECT CAST((20000 * sum(CASE WHEN is_promo THEN rev_e4 ELSE 0 END)
                 + sum(rev_e4)) // (2 * sum(rev_e4)) AS BIGINT) / 100.0
               AS promo_pct,
           CAST(sum(CASE WHEN is_promo THEN rev_e4 ELSE 0 END) AS BIGINT)
               AS promo_rev_e4,
           CAST(sum(rev_e4) AS BIGINT) AS total_rev_e4
    FROM j
    """,
)
def tpch_q14_promo_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape (promotion effect): the share of one month's
    revenue earned by PROMO-type parts — the conditional-aggregate
    ratio pattern (CASE inside sum over a fact⋈dim join).  Revenue
    accumulates in integer 1e-4 units and the percentage is an
    integer half-up in basis points divided once at the end, so the
    headline ratio is engine-exact (a float sum ratio could flip its
    2nd decimal by accumulation order).

    Scale: one month of lineitem after scan pruning joins the part
    dim UNHINTED — part grows linearly with SF, so a forced broadcast
    would OOM the driver at the 100 TB charter; AQE converts it to a
    broadcast at test SF where it genuinely fits.  Single
    partial-aggregated reduction to one row.  The raw integer
    numerator/denominator ride along for auditability."""
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-02-01").cast("timestamp"))
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev_e4 = F.round(F.col("l_extendedprice") * 100).cast("bigint") * (
        100 - F.round(F.col("l_discount") * 100).cast("bigint")
    )
    j = li.join(part, F.col("l_partkey") == F.col("p_partkey")).select(
        rev_e4.alias("rev_e4"), (F.col("p_type") == "PROMO").alias("is_promo")
    )
    agg = j.agg(
        F.sum(F.when(F.col("is_promo"), F.col("rev_e4")).otherwise(0)).alias(
            "promo"
        ),
        F.sum("rev_e4").alias("total"),
    )
    # ratio in DECIMAL(38,0): 20000x a 1e-4-unit revenue sum passes
    # 2^63 well before 100 TB (the 5x split harness caught the
    # overflow on the Q8 twin of this expression)
    return agg.select(
        (bp_ratio_halfup("promo", "total") / 100.0).alias("promo_pct"),
        F.col("promo").cast("bigint").alias("promo_rev_e4"),
        F.col("total").cast("bigint").alias("total_rev_e4"),
    )


#: GROUP BY ALL — dialect-intersection text (Spark 4 and DuckDB both
#: infer the grouping keys as every non-aggregate select item)
_GROUP_BY_ALL_SQL = """
    SELECT o_orderpriority,
           o_orderstatus,
           count(*) AS n_orders,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS sum_cents
    FROM orders
    GROUP BY ALL
"""


@query("sql_group_by_all", oracle=_GROUP_BY_ALL_SQL)
def sql_group_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``GROUP BY ALL`` — the analyst-ergonomics surface (grouping
    keys inferred as every non-aggregate select item) that DuckDB
    popularized and Spark 4 adopted; one shared dialect-intersection
    text runs verbatim on both engines, pinning that key inference
    picks exactly (priority, status) and nothing else.  Physically
    identical to the explicit GROUP BY — one map-side-combined hash
    aggregate."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(_GROUP_BY_ALL_SQL)


#: shared dialect-intersection text: `/*+ MERGE(n) */` is a join-
#: strategy DIRECTIVE to Spark and a plain block comment to DuckDB —
#: one text, two engines, same relation
_JOIN_HINT_SQL = """
    SELECT /*+ MERGE(n) */ n.n_name,
           count(*) AS n_cust,
           CAST(sum(CAST(round(c.c_acctbal * 100) AS BIGINT)) AS BIGINT)
               AS sum_bal_cents
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
"""


@query("sql_join_hint_merge", oracle=_JOIN_HINT_SQL)
def sql_join_hint_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-strategy hints — the escape hatch when the optimizer's
    choice is wrong for reasons it can't see (a dimension that
    EXPLODES after a later join, a broadcast that OOMs on real
    cluster memory limits).  ``/*+ MERGE(n) */`` forces a sort-merge
    join on a 25-row dimension Spark would otherwise auto-broadcast —
    pinned in the plan test — while the SAME text runs on DuckDB,
    which sees the hint as a block comment: results identical by this
    differential, so the hint changed the HOW and provably not the
    WHAT.

    Scale: the hint surface (BROADCAST / MERGE / SHUFFLE_HASH /
    SHUFFLE_REPLICATE_NL + REPARTITION/COALESCE) is how a 100 TB job
    encodes operational knowledge — e.g. forcing SHUFFLE_HASH when the
    build side fits executor memory but exceeds the driver's broadcast
    limit."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    load_table(spark, sf_dir, "nation").createOrReplaceTempView("nation")
    return spark.sql(_JOIN_HINT_SQL)


#: shared dialect text for the lateral-column-alias query: BOTH engines
#: (Spark ≥3.4, DuckDB) resolve a SELECT-item alias inside later items
#: of the same SELECT, so one text runs verbatim on both
_LATERAL_ALIAS_SQL = """
    SELECT l_orderkey,
           l_linenumber,
           CAST(round(l_extendedprice * 100) AS BIGINT) AS price_cents,
           price_cents
             - CAST(round(l_extendedprice * l_discount * 100) AS BIGINT)
             AS net_cents,
           net_cents
             + CAST(round(l_extendedprice * l_tax * 100) AS BIGINT)
             AS gross_cents
    FROM lineitem
    WHERE l_orderkey % 50 = 0
"""


@query("sql_lateral_column_alias", oracle=_LATERAL_ALIAS_SQL)
def sql_lateral_column_alias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lateral column aliases (Spark 3.4+) — a SELECT item referencing
    an alias defined EARLIER in the same SELECT (`net_cents` built from
    `price_cents`, `gross_cents` from `net_cents`), the ergonomics
    feature that otherwise forces nested subqueries or repeated
    expressions.  DuckDB resolves the same aliases, so one shared text
    differentials the chain end-to-end; all money in integer cents so
    the derivation is engine-exact.  Physically the aliases inline into
    one projection — a single map-side stage, nothing new at 100 TB.
    Reference heritage: none (SURVEY §2 charter extension, SQL-surface
    family)."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(_LATERAL_ALIAS_SQL)


@query(
    "sql_pipe_syntax",
    oracle="""
    SELECT l_returnflag,
           l_linestatus,
           CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
               AS sum_price_cents,
           count(*) AS n_rows
    FROM lineitem
    WHERE l_shipdate <= DATE '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def sql_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL pipe syntax (Spark 4's `|>` operator chaining, from the
    GoogleSQL "Pipe Syntax In SQL" design): the TPC-H Q1 shape written
    as a linear FROM → WHERE → AGGREGATE pipeline instead of the
    inside-out SELECT nesting.  The oracle is the classic formulation —
    proving the pipe form PARSES TO THE SAME RELATION, which is the
    whole point of the feature (syntax, not semantics).  Catalyst plans
    both identically: scan with the shipdate filter pushed down, one
    map-side-combined hash aggregate.  Reference heritage: none
    (SURVEY §2 charter extension, SQL-surface family)."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(
        """
        FROM lineitem
        |> WHERE l_shipdate <= DATE '1998-09-02'
        |> AGGREGATE
             CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty,
             CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
                 AS sum_price_cents,
             count(*) AS n_rows
           GROUP BY l_returnflag, l_linestatus
        |> SELECT l_returnflag, l_linestatus, sum_qty, sum_price_cents, n_rows
        """
    )


@query(
    "agg_approx_top_k",
    oracle="""
    SELECT event_type AS item, count(*) AS est_count
    FROM events
    GROUP BY event_type
    """,
)
def agg_approx_top_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``approx_top_k`` (Spark 4.1) — the sketch-based frequent-items
    aggregate, third sketch surface next to HLL and the quantile
    sketch.  k=10 exceeds the column's true cardinality (5 event
    types), so the sketch's counters never evict and every estimate is
    EXACT — which is what makes a hard DuckDB oracle possible for a
    sketch op: the oracle is the plain GROUP BY count.  (At real
    cardinalities the estimates become approximate and the exact-count
    twin is ``text_heavy_hitters``'s Misra-Gries + verify ledger.)
    The struct-array result is exploded to (item, est_count) rows so
    the differential compares scalars.  Scale: one map-side-combined
    sketch per partition, merged at the driver-size of k counters —
    shuffle volume independent of row count.  Reference heritage: none
    (SURVEY §2 charter extension, sketch family)."""
    ev = load_table(spark, sf_dir, "events")
    sk = ev.agg(F.expr("approx_top_k(event_type, 10)").alias("tk"))
    return sk.select(F.explode("tk").alias("e")).select(
        F.col("e.item").alias("item"),
        F.col("e.count").cast("bigint").alias("est_count"),
    )


@query(
    "sql_parameterized_query",
    oracle="""
    SELECT o_orderpriority,
           count(*) AS n_orders,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS sum_cents
    FROM orders
    WHERE o_orderdate >= DATE '1995-01-01'
      AND o_orderstatus = 'F'
    GROUP BY o_orderpriority
    """,
)
def sql_parameterized_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Named-parameter SQL binding (Spark 3.4+ ``spark.sql(text,
    args={...})``) — the injection-safe templating surface every
    application layer needs: parameter markers (``:cutoff``,
    ``:status``) are bound as TYPED literals at parse time, never
    string-spliced.  The oracle is the same query with the values
    inlined — binding must be semantically identical to inlining
    (which is exactly the contract; the marker becomes a literal in
    the parsed plan, so pushdown/pruning work unchanged).  Reference
    heritage: none (SURVEY §2 charter extension, SQL-surface family)."""
    import datetime

    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT o_orderpriority,
               count(*) AS n_orders,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS sum_cents
        FROM orders
        WHERE o_orderdate >= :cutoff
          AND o_orderstatus = :status
        GROUP BY o_orderpriority
        """,
        args={"cutoff": datetime.date(1995, 1, 1), "status": "F"},
    )


@query(
    "sql_session_variables",
    oracle="""
    SELECT l_returnflag,
           count(*) AS n_lines,
           CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty
    FROM lineitem
    WHERE l_quantity >= 40
    GROUP BY l_returnflag
    """,
)
def sql_session_variables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL session variables (Spark 4 ``DECLARE VARIABLE`` / ``SET
    VAR``) — server-side state for multi-statement SQL scripts, the
    feature that lets a pure-SQL workflow thread a computed threshold
    through later statements without a driver round-trip.  The
    variable reference resolves to its value during analysis, so the
    plan is identical to the inlined oracle (filter pushed to the
    scan).  ``DECLARE OR REPLACE`` keeps the query re-runnable in one
    session.  Reference heritage: none (SURVEY §2 charter extension,
    SQL-surface family)."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    spark.sql("DECLARE OR REPLACE VARIABLE qty_floor INT DEFAULT 0")
    spark.sql("SET VAR qty_floor = 40")
    return spark.sql(
        """
        SELECT l_returnflag,
               count(*) AS n_lines,
               CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty
        FROM lineitem
        WHERE l_quantity >= qty_floor
        GROUP BY l_returnflag
        """
    )


@query(
    "sql_identifier_clause",
    oracle="""
    SELECT c_mktsegment, count(*) AS n_customers
    FROM customer
    GROUP BY c_mktsegment
    """,
)
def sql_identifier_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``IDENTIFIER()`` clause (Spark 3.4+) — parameterizing an
    OBJECT NAME (table/column) from a string constant, the
    injection-safe alternative to f-string SQL assembly for dynamic
    table routing (per-tenant tables, date-suffixed snapshots).  The
    name resolves during analysis, so the plan equals the direct
    reference the oracle uses.  Reference heritage: none (SURVEY §2
    charter extension, SQL-surface family)."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    return spark.sql(
        """
        SELECT c_mktsegment, count(*) AS n_customers
        FROM IDENTIFIER(:tbl)
        GROUP BY c_mktsegment
        """,
        args={"tbl": "customer"},
    )
