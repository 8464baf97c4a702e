"""Window functions (SURVEY.md §2.B rows ``window_rank``,
``window_topk_per_group``, ``window_running_sum``, ``window_lag_lead``).

No reference heritage — the reference's grouped model (A7) collapses
each key to one output row; windows keep row granularity while seeing
the group.  Oracle traps handled here: DuckDB's default frame for
aggregate-over-window is RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT
ROW (peer rows included) — we always state ROWS frames explicitly on
both sides, and every ORDER BY carries a unique tiebreaker so peer
groups are singletons anyway.

Scale: a window shuffles once on partitionBy keys, then sorts within
partitions.  One skewed partition key (a single giant user) serializes
that partition — same pathology as a skewed group-by, mitigated by
pre-aggregating or bucketing time.  A window with NO partitionBy
(see ``sort_global``) collapses to one task and does not scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mapreduceplusplus_spark.registry import query
from mapreduceplusplus_spark.session import floor_div_sql
from mapreduceplusplus_spark.sources.tables import load_table


@query(
    "window_rank",
    oracle="""
    SELECT c_custkey,
           c_nationkey,
           round(c_acctbal, 2) AS acctbal,
           CAST(rank()       OVER w AS BIGINT) AS rnk,
           CAST(dense_rank() OVER w AS BIGINT) AS drnk,
           CAST(row_number() OVER w AS BIGINT) AS rn
    FROM customer
    WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey)
    """,
)
def window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank / dense_rank / row_number per nation ordered by balance."""
    customer = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey")
    )
    return customer.select(
        "c_custkey",
        "c_nationkey",
        F.round("c_acctbal", 2).alias("acctbal"),
        F.rank().over(w).cast("bigint").alias("rnk"),
        F.dense_rank().over(w).cast("bigint").alias("drnk"),
        F.row_number().over(w).cast("bigint").alias("rn"),
    )


@query(
    "window_topk_per_group",
    oracle="""
    SELECT c_custkey, o_orderkey, totalprice, rn
    FROM (
        SELECT o_custkey AS c_custkey,
               o_orderkey,
               round(o_totalprice, 2) AS totalprice,
               CAST(row_number() OVER (PARTITION BY o_custkey
                                       ORDER BY o_totalprice DESC, o_orderkey)
                    AS BIGINT)        AS rn
        FROM orders
    )
    WHERE rn <= 3
    """,
)
def window_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer by price (row_number ≤ k).

    Scale: Spark pushes a per-partition rank limit below the shuffle
    (WindowGroupLimit since 3.5) — each map task pre-trims to k rows per
    group before exchanging, so the shuffle carries ≈ k·|groups| rows,
    not the whole fact table.
    """
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        orders.select(
            F.col("o_custkey").alias("c_custkey"),
            "o_orderkey",
            F.round("o_totalprice", 2).alias("totalprice"),
            F.row_number().over(w).cast("bigint").alias("rn"),
        )
        .where(F.col("rn") <= 3)
    )


@query(
    "window_running_sum",
    oracle="""
    SELECT user_id,
           event_id,
           round(sum(value) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                 2) AS running_value
    FROM events
    """,
)
def window_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative per-user sum over event time with an explicit ROWS
    frame (DuckDB's default frame is RANGE — peer rows would be summed
    together — so both sides pin ROWS)."""
    events = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return events.select(
        "user_id",
        "event_id",
        F.round(F.sum("value").over(w), 2).alias("running_value"),
    )


@query(
    "window_lag_lead",
    oracle="""
    SELECT o_custkey,
           o_orderkey,
           round(o_totalprice, 2)                          AS totalprice,
           round(lag(o_totalprice)  OVER w, 2)             AS prev_price,
           round(lead(o_totalprice) OVER w, 2)             AS next_price,
           round(o_totalprice - coalesce(lag(o_totalprice) OVER w, 0), 2)
                                                           AS delta_vs_prev
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
)
def window_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead over each customer's order history (NULL at the edges —
    first order has no prev, last has no next)."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.round("o_totalprice", 2).alias("totalprice"),
        F.round(F.lag("o_totalprice").over(w), 2).alias("prev_price"),
        F.round(F.lead("o_totalprice").over(w), 2).alias("next_price"),
        F.round(
            F.col("o_totalprice") - F.coalesce(F.lag("o_totalprice").over(w), F.lit(0.0)),
            2,
        ).alias("delta_vs_prev"),
    )


@query(
    "window_distribution",
    oracle="""
    SELECT o_orderkey,
           o_orderpriority,
           CAST(ntile(4) OVER w AS INT)        AS quartile,
           round(percent_rank() OVER w, 4)     AS pct_rank,
           round(cume_dist() OVER w, 4)        AS cume
    FROM orders
    WINDOW w AS (PARTITION BY o_orderpriority
                 ORDER BY o_totalprice, o_orderkey)
    """,
)
def window_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions — ntile quartiles, percent_rank,
    cume_dist per priority class; the quantile-bucketing / percentile
    family OLAP dashboards run constantly.  Same single hash shuffle on
    the partition key as any window; the (price, orderkey) ordering is
    total so every value is deterministic."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    return orders.select(
        "o_orderkey",
        "o_orderpriority",
        F.ntile(4).over(w).cast("int").alias("quartile"),
        F.round(F.percent_rank().over(w), 4).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 4).alias("cume"),
    )


@query(
    "window_range_frame",
    oracle="""
    SELECT o_custkey,
           o_orderkey,
           CAST(date_diff('day', DATE '1970-01-01', o_orderdate) AS BIGINT)
               AS order_day,
           round(sum(o_totalprice) OVER (
               PARTITION BY o_custkey
               ORDER BY date_diff('day', DATE '1970-01-01', o_orderdate)
               RANGE BETWEEN 30 PRECEDING AND CURRENT ROW), 2)
               AS trailing_30d_spend
    FROM orders
    """,
)
def window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-based RANGE frame (vs ``window_running_sum``'s ROWS frame):
    each order carries the customer's total spend over the trailing 30
    *days*, however many orders that covers — peers on the same day are
    always summed together, which makes the result order-insensitive and
    hash-stable.  Ordering is by integer days-since-epoch because Spark's
    ``rangeBetween`` requires a numeric ordering expression.

    Scale: identical shuffle shape to any partitioned window — one hash
    exchange on the partition key, in-partition sort, streaming frame
    evaluation with O(frame) state per partition.
    """
    orders = load_table(spark, sf_dir, "orders")
    day = F.datediff("o_orderdate", F.lit("1970-01-01").cast("date"))
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(day)
        .rangeBetween(-30, Window.currentRow)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        day.cast("bigint").alias("order_day"),
        F.round(F.sum("o_totalprice").over(w), 2).alias("trailing_30d_spend"),
    )


@query(
    "window_funnel",
    oracle="""
    WITH v AS (
      SELECT user_id, min(ts) AS t1 FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
      SELECT e.user_id, min(e.ts) AS t2
      FROM events e JOIN v ON e.user_id = v.user_id AND e.ts > v.t1
      WHERE e.event_type = 'click' GROUP BY e.user_id
    ),
    p AS (
      SELECT e.user_id, min(e.ts) AS t3
      FROM events e JOIN c ON e.user_id = c.user_id AND e.ts > c.t2
      WHERE e.event_type = 'purchase' GROUP BY e.user_id
    )
    SELECT * FROM (
      SELECT 1 AS step, 'view' AS event_type, (SELECT count(*) FROM v) AS n_users
      UNION ALL
      SELECT 2, 'click', (SELECT count(*) FROM c)
      UNION ALL
      SELECT 3, 'purchase', (SELECT count(*) FROM p)
    )
    """,
)
def window_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel analysis: how many users progressed through
    view → click → purchase IN TIME ORDER (each step strictly after
    the previous step's first occurrence).

    Plan: ONE shuffle — per-user event history is gathered with
    ``collect_list(struct(ts, event_type))``, sorted in-memory
    (``array_sort`` on the struct orders by ts first), and swept by a
    single ``aggregate`` state machine that advances stage on the
    first qualifying event.  The oracle spells the same semantics as
    three cascaded min-agg joins (three shuffles of the full events
    table) — the HOF form does the funnel in one pass, which is the
    difference that matters when events is the 100 TB side.  Per-user
    state is one (stage, ts) struct; history arrays are bounded by
    per-user event counts (salt/pre-filter the hot user tail if a key
    exceeds memory).
    """
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.where(
        F.col("event_type").isin("view", "click", "purchase")
    ).groupBy("user_id").agg(
        F.array_sort(F.collect_list(F.struct("ts", "event_type"))).alias("h")
    )
    # state: (stage, adv_ts) — advance on the first strictly-later
    # event of the next funnel type
    stage = F.expr(
        """
        aggregate(
          h,
          struct(0 as stage, cast(null as timestamp) as adv_ts),
          (s, x) -> CASE
            WHEN s.stage = 0 AND x.event_type = 'view'
              THEN named_struct('stage', 1, 'adv_ts', x.ts)
            WHEN s.stage = 1 AND x.event_type = 'click' AND x.ts > s.adv_ts
              THEN named_struct('stage', 2, 'adv_ts', x.ts)
            WHEN s.stage = 2 AND x.event_type = 'purchase' AND x.ts > s.adv_ts
              THEN named_struct('stage', 3, 'adv_ts', x.ts)
            ELSE s END,
          s -> s.stage)
        """
    )
    staged = per_user.select(stage.alias("stage"))
    # one GLOBAL aggregate (1 row even over an empty corpus — keyed
    # grouping would emit 0 rows and drop the funnel scaffold, which
    # the oracle's UNION form always produces) crossed with the
    # 3-row literal step table
    counts = staged.agg(
        *[
            F.count(F.when(F.col("stage") >= i, 1))
            .cast("bigint")
            .alias(f"c{i}")
            for i in (1, 2, 3)
        ]
    )
    scaffold = per_user.sparkSession.createDataFrame(
        [(1, "view"), (2, "click"), (3, "purchase")],
        "step int, event_type string",
    )
    # broadcast-safe: counts is a 1-row global aggregate
    return scaffold.join(F.broadcast(counts)).select(
        "step",
        "event_type",
        F.when(F.col("step") == 1, F.col("c1"))
        .when(F.col("step") == 2, F.col("c2"))
        .otherwise(F.col("c3"))
        .alias("n_users"),
    )


@query(
    "window_decay_ema",
    oracle="""
    WITH seq AS (
      SELECT user_id,
             CAST(round(value * 100) AS BIGINT) AS cents,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn,
             event_id, ts
      FROM events WHERE user_id < 200
    )
    SELECT i.user_id,
           i.event_id,
           strftime(i.ts, '%Y-%m-%d %H:%M:%S.%f') AS ts,
           -- weights 2^(L-1-k) (k = event-distance from current, L =
           -- frame length) are exact integers < 2^53, so the double
           -- sum is EXACT and order-independent; the quotient is then
           -- the same double in any engine
           sum(j.cents * power(2, least(i.rn, 20) - 1 - (i.rn - j.rn)))
             / (100.0 * (power(2, least(i.rn, 20)) - 1)) AS decay_mean
    FROM seq i JOIN seq j
      ON j.user_id = i.user_id AND j.rn BETWEEN i.rn - 19 AND i.rn
    GROUP BY i.user_id, i.event_id, i.ts, i.rn
    """,
)
def window_decay_ema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency-decayed mean over the last 20 events per user — the
    exponentially-weighted feature every behavioral model wants
    ("recent activity counts double"), with half-life decay 1/2 per
    event and a bounded 20-row frame.

    No closed-form window aggregate exists for exponential decay
    (the weight depends on the distance to the CURRENT row, which a
    plain ``sum() OVER frame`` cannot see), and the naive
    reformulation ``2^rn_cur · Σ value/2^rn_elem`` overflows for long
    partitions.  Spark-first answer: ``collect_list`` over the ROWS
    frame + a Horner fold (``aggregate(reverse(frame), 0L,
    acc*2 + x)``) — a pure JVM higher-order function, no UDF, and
    numerically EXACT: values are quantized to integer cents, so the
    fold stays in BIGINT (≤ 20·2^19·max_cents ≪ 2^63) and the final
    division produces the identical double in every engine and under
    every partitioning.  The oracle cross-checks with an equivalent
    banded self-join whose double summands are exact integers < 2^53.

    Scale: one shuffle on user_id + in-partition sort (the same
    profile as any window); the frame bound caps per-row work at 20
    elements regardless of partition length.  The oracle's banded
    self-join shape is what engines WITHOUT higher-order functions
    must fall back to — 20× the shuffled rows."""
    ev = (
        load_table(spark, sf_dir, "events")
        .where(F.col("user_id") < 200)
        .select(
            "user_id",
            "event_id",
            "ts",
            F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-19, Window.currentRow)
    )
    frame = F.collect_list("cents").over(w)  # frame order: oldest first
    horner = F.aggregate(
        F.reverse(frame),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc * 2 + x,
    )
    denom = 100.0 * (F.pow(F.lit(2.0), F.size(frame)) - 1)
    return ev.select(
        "user_id",
        "event_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts"),
        (horner / denom).alias("decay_mean"),
    )


@query(
    "window_rolling_median",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_id, ts,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events WHERE user_id < 200
    )
    SELECT user_id, event_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts,
           -- lower median of the frame, exact in integer cents
           cents_sorted[(len(cents_sorted) + 1) // 2] / 100.0 AS roll_median
    FROM (
      SELECT user_id, event_id, ts,
             list_sort(list(cents) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS BETWEEN 14 PRECEDING AND CURRENT ROW))
               AS cents_sorted
      FROM seq
    )
    """,
)
def window_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact rolling median of the last 15 events per user — the
    robust-statistics window percentile_approx cannot give exactly and
    a self-join gives at 15× the shuffle volume.

    Spark-first: ``collect_list`` over the ROWS frame, ``sort_array``,
    index the LOWER median — all JVM higher-order expressions, one
    shuffle + in-partition sort, per-row work capped by the frame.
    The lower-median convention (element ``(L+1) div 2`` of the sorted
    frame, 1-based) avoids averaging two middle values, so with values
    quantized to integer cents the result is exact and
    engine-identical — no float summation, no rounding ties (the same
    determinism contract as ``window_decay_ema``)."""
    ev = (
        load_table(spark, sf_dir, "events")
        .where(F.col("user_id") < 200)
        .select(
            "user_id",
            "event_id",
            "ts",
            F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-14, Window.currentRow)
    )
    sorted_frame = F.sort_array(F.collect_list("cents").over(w))
    med = F.element_at(sorted_frame, ((F.size(sorted_frame) + 1) / 2).cast("int"))
    return ev.select(
        "user_id",
        "event_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts"),
        (med / 100.0).alias("roll_median"),
    )


@query(
    "window_first_last_nth",
    oracle="""
    SELECT o_custkey,
           o_orderkey,
           round(first_value(o_totalprice) OVER w, 2) AS first_price,
           round(last_value(o_totalprice)  OVER w, 2) AS last_price,
           round(nth_value(o_totalprice, 2) OVER w, 2) AS second_price
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
)
def window_first_last_nth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first_value / last_value / nth_value over each customer's full
    order history.  The classic trap is the DEFAULT frame: with ROWS
    UNBOUNDED PRECEDING AND CURRENT ROW, ``last_value`` degenerates to
    the current row — both sides pin the full
    UNBOUNDED-PRECEDING-TO-UNBOUNDED-FOLLOWING frame explicitly, and
    the (date, key) ordering is total so every value is deterministic."""
    orders = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.first("o_totalprice").over(w), 2).alias("first_price"),
        F.round(F.last("o_totalprice").over(w), 2).alias("last_price"),
        F.round(F.nth_value("o_totalprice", 2).over(w), 2).alias("second_price"),
    )


@query(
    "window_gaps_islands",
    oracle="""
    WITH days AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS d
      FROM events WHERE user_id < 200
    ),
    tagged AS (
      SELECT user_id, d,
             -- island id: day minus its per-user rank is CONSTANT
             -- within a run of consecutive days
             date_diff('day', DATE '1970-01-01', d)
               - row_number() OVER (PARTITION BY user_id ORDER BY d) AS grp
      FROM days
    )
    SELECT user_id,
           strftime(min(d), '%Y-%m-%d')        AS streak_start,
           strftime(max(d), '%Y-%m-%d')        AS streak_end,
           CAST(count(*) AS BIGINT)            AS streak_days
    FROM tagged
    GROUP BY user_id, grp
    """,
)
def window_gaps_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: per-user runs of CONSECUTIVE active days
    (activity streaks) — the canonical technique for "current streak" /
    "longest streak" features.  The island id is ``day_number −
    row_number()``: constant exactly within a consecutive run, strictly
    monotone across gaps — turning run detection into a plain GROUP BY
    with no iterative logic.

    Plan: distinct day set (one shuffle, map-side combine), ranking
    window + island GROUP BY on the same user_id partitioning —
    Catalyst reuses one exchange for all three.  Integer day
    arithmetic throughout; nothing float, nothing engine-variant."""
    days = (
        load_table(spark, sf_dir, "events")
        .where(F.col("user_id") < 200)
        .select("user_id", F.to_date("ts").alias("d"))
        .distinct()
    )
    w = Window.partitionBy("user_id").orderBy("d")
    tagged = days.withColumn(
        "grp",
        F.datediff("d", F.lit("1970-01-01").cast("date"))
        - F.row_number().over(w),
    )
    return tagged.groupBy("user_id", "grp").agg(
        F.date_format(F.min("d"), "yyyy-MM-dd").alias("streak_start"),
        F.date_format(F.max("d"), "yyyy-MM-dd").alias("streak_end"),
        F.count("*").cast("bigint").alias("streak_days"),
    ).drop("grp")


@query(
    "window_anomaly_zscore",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_id, ts,
             CAST(round(value * 100) AS BIGINT) AS x
      FROM events WHERE user_id < 200
    ),
    st AS (
      SELECT user_id, event_id, ts, x,
             count(*) OVER w          AS n,
             sum(x)   OVER w          AS sx,
             sum(x*x) OVER w          AS sxx
      FROM seq
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
    )
    SELECT user_id, event_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts,
           x / 100.0                             AS value,
           CAST(n AS BIGINT)                     AS n_window,
           n >= 8 AND (n*x - sx)*(n*x - sx) > 9 * (n*sxx - sx*sx)
                                                 AS is_anomaly
    FROM st
    """,
)
def window_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score anomaly flag: mark events whose value deviates
    more than 3 population standard deviations from their trailing
    20-event window (minimum 8 events of history) — the streaming-
    telemetry outlier detector, as a pure window plan.

    INTEGER-EXACT throughout: values quantize to cents; the window
    keeps integer ``Σx`` and ``Σx²``; and the 3σ test compares
    ``(n·x − Σx)² > 9·(n·Σx² − (Σx)²)`` — the z² inequality cleared
    of divisions and square roots, so there is no float anywhere and
    the flag is bitwise identical on any engine and partitioning
    (bounds: cents ≤ 6e4 ⇒ LHS ≤ ~1.3e12, RHS ≤ ~1.1e13 ≪ 2^63).
    A constant history (variance 0) flags ANY deviation, by
    convention.  One shuffle on user_id; frame-bounded state."""
    ev = (
        load_table(spark, sf_dir, "events")
        .where(F.col("user_id") < 200)
        .select(
            "user_id",
            "event_id",
            "ts",
            F.round(F.col("value") * 100).cast("bigint").alias("x"),
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-19, Window.currentRow)
    )
    st = ev.select(
        "user_id",
        "event_id",
        "ts",
        "x",
        F.count("*").over(w).alias("n"),
        F.sum("x").over(w).alias("sx"),
        F.sum(F.col("x") * F.col("x")).over(w).alias("sxx"),
    )
    lhs = (F.col("n") * F.col("x") - F.col("sx")) * (
        F.col("n") * F.col("x") - F.col("sx")
    )
    rhs = 9 * (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
    return st.select(
        "user_id",
        "event_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts"),
        (F.col("x") / 100.0).alias("value"),
        F.col("n").cast("bigint").alias("n_window"),
        ((F.col("n") >= 8) & (lhs > rhs)).alias("is_anomaly"),
    )


@query(
    "window_distinct_rolling",
    oracle="""
    SELECT user_id, event_id,
           CAST(count(DISTINCT event_type)
                OVER (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS BIGINT)
             AS distinct_types_10
    FROM events
    WHERE user_id < 20
    """,
)
def window_distinct_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling DISTINCT count — distinct event types in each user's
    trailing 10-event frame (behavioral-diversity feature).  Spark
    rejects DISTINCT inside window aggregates outright, so the exact
    equivalent is built from primitives: ``size(array_distinct(
    collect_list(...) over frame))`` — the collect/sort HOF recipe this
    repo already uses for exact rolling medians.  DuckDB supports the
    DISTINCT window natively, which makes the oracle a true independent
    formulation rather than a transliteration.

    At 100 TB: one shuffle on user_id; per-row state is the 10-element
    frame list (bounded by the frame, not the partition).  For wide
    frames with low-cardinality domains, a bitmask aggregate (see
    ``agg_bitmap_segments``) is the cheaper encoding."""
    ev = load_table(spark, sf_dir, "events").where(F.col("user_id") < 20)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-9, 0)
    )
    return ev.select(
        "user_id",
        "event_id",
        F.size(F.array_distinct(F.collect_list("event_type").over(w)))
        .cast("bigint")
        .alias("distinct_types_10"),
    )


@query(
    "window_ignore_nulls",
    oracle="""
    WITH sparse AS (
      SELECT o_custkey, o_orderkey, o_orderdate,
             CASE WHEN o_orderkey % 3 = 0
                  THEN CAST(round(o_totalprice * 100) AS BIGINT) END
               AS obs_cents
      FROM orders
    )
    SELECT o_custkey, o_orderkey, obs_cents,
           last_value(obs_cents IGNORE NULLS) OVER w_prev  AS ffill_cents,
           first_value(obs_cents IGNORE NULLS) OVER w_next AS bfill_cents,
           nth_value(obs_cents, 2 IGNORE NULLS) OVER w_all AS second_obs_cents
    FROM sparse
    WINDOW
      w_prev AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
      w_next AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING),
      w_all  AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
)
def window_ignore_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IGNORE NULLS window navigation as a first-class surface —
    forward-fill (``last`` over the preceding frame), backward-fill
    (``first`` over the following frame), and ``nth_value(·, 2)`` over
    the full frame, all skipping the planted NULLs (2 of 3 orders
    observe no value).  This is the sparse-observation carry-forward
    primitive ``ts_resample_gapfill`` and ``join_asof`` build on,
    registered standalone so the semantics (the DEFAULT is RESPECT
    NULLS — forgetting the flag silently forward-fills nothing) are
    pinned against DuckDB's independent implementation.

    One hash exchange on the partition key serves all three frames
    (identical partitioning+ordering); integer cents, total (date,
    orderkey) ordering — deterministic under ties."""
    orders = load_table(spark, sf_dir, "orders")
    obs = F.when(
        F.col("o_orderkey") % 3 == 0,
        F.round(F.col("o_totalprice") * 100).cast("bigint"),
    )
    base = orders.select(
        "o_custkey", "o_orderkey", "o_orderdate", obs.alias("obs_cents")
    )
    w_prev = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_next = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    w_all = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return base.select(
        "o_custkey",
        "o_orderkey",
        "obs_cents",
        F.last("obs_cents", ignorenulls=True).over(w_prev).alias("ffill_cents"),
        F.first("obs_cents", ignorenulls=True).over(w_next).alias("bfill_cents"),
        F.nth_value("obs_cents", 2, ignoreNulls=True)
        .over(w_all)
        .alias("second_obs_cents"),
    )


@query(
    "window_funnel_bounded",
    oracle="""
    WITH v AS (
      SELECT user_id, min(ts) AS t1 FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
      SELECT e.user_id, min(e.ts) AS t2
      FROM events e JOIN v ON e.user_id = v.user_id
       AND e.ts > v.t1 AND e.ts <= v.t1 + INTERVAL 3 DAY
      WHERE e.event_type = 'click' GROUP BY e.user_id
    ),
    p AS (
      SELECT e.user_id, min(e.ts) AS t3
      FROM events e JOIN c ON e.user_id = c.user_id
       AND e.ts > c.t2 AND e.ts <= c.t2 + INTERVAL 3 DAY
      WHERE e.event_type = 'purchase' GROUP BY e.user_id
    )
    SELECT * FROM (
      SELECT 1 AS step, 'view' AS event_type,
             (SELECT count(*) FROM v) AS n_users
      UNION ALL
      SELECT 2, 'click', (SELECT count(*) FROM c)
      UNION ALL
      SELECT 3, 'purchase', (SELECT count(*) FROM p)
    )
    """,
)
def window_funnel_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-BOUNDED ordered funnel: view → click → purchase where each
    step must land within 3 days of the previous step's anchor
    (150 -> 115 -> 81 users at sf0.01 vs 150/150/150 unbounded - the
    window genuinely bites) — the
    conversion-window semantics every funnel product defaults to
    (an unbounded funnel counts a purchase two years after the click
    as a conversion; attribution windows exist precisely to exclude
    that).  Anchoring is greedy-first: the funnel clock starts at the
    user's FIRST view and each stage advances on the first qualifying
    event inside the window — identical to the oracle's cascaded
    bounded-min joins, but computed in ONE pass by extending
    ``window_funnel``'s HOF state machine with the window predicate.

    Scale: identical to ``window_funnel`` — one shuffle to gather
    per-user history, O(events-per-user) fold, 3-row scaffold output
    that survives an empty corpus."""
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.where(
        F.col("event_type").isin("view", "click", "purchase")
    ).groupBy("user_id").agg(
        F.array_sort(F.collect_list(F.struct("ts", "event_type"))).alias("h")
    )
    stage = F.expr(
        """
        aggregate(
          h,
          struct(0 as stage, cast(null as timestamp) as adv_ts),
          (s, x) -> CASE
            WHEN s.stage = 0 AND x.event_type = 'view'
              THEN named_struct('stage', 1, 'adv_ts', x.ts)
            WHEN s.stage = 1 AND x.event_type = 'click'
                 AND x.ts > s.adv_ts
                 AND x.ts <= s.adv_ts + INTERVAL 3 DAY
              THEN named_struct('stage', 2, 'adv_ts', x.ts)
            WHEN s.stage = 2 AND x.event_type = 'purchase'
                 AND x.ts > s.adv_ts
                 AND x.ts <= s.adv_ts + INTERVAL 3 DAY
              THEN named_struct('stage', 3, 'adv_ts', x.ts)
            ELSE s END,
          s -> s.stage)
        """
    )
    staged = per_user.select(stage.alias("stage"))
    counts = staged.agg(
        *[
            F.count(F.when(F.col("stage") >= i, 1))
            .cast("bigint")
            .alias(f"c{i}")
            for i in (1, 2, 3)
        ]
    )
    scaffold = per_user.sparkSession.createDataFrame(
        [(1, "view"), (2, "click"), (3, "purchase")],
        "step int, event_type string",
    )
    # broadcast-safe: counts is a 1-row global aggregate
    return scaffold.join(F.broadcast(counts)).select(
        "step",
        "event_type",
        F.when(F.col("step") == 1, F.col("c1"))
        .when(F.col("step") == 2, F.col("c2"))
        .otherwise(F.col("c3"))
        .alias("n_users"),
    )


#: continuous-time decay parameters: 6-hour half-life in microseconds;
#: exponents clamp at 40 half-lives (the clamp is part of the operator
#: contract — it is what keeps every 2^(40-k) term an exact integer
#: < 2^53 so the BIGINT sum is accumulation-order-exact; a 240-day-old
#: event's true weight 2^-960 is 0 in any double anyway)
_TDECAY_HL_US = 6 * 3600 * 1_000_000
_TDECAY_CLAMP = 40


@query(
    "window_decay_time_halflife",
    oracle=f"""
    WITH seq AS (
      SELECT user_id,
             CAST(round(value * 100) AS BIGINT) AS cents,
             epoch_us(ts) AS tus,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn,
             event_id, ts
      FROM events WHERE user_id < 200
    )
    SELECT i.user_id, i.event_id,
           strftime(i.ts, '%Y-%m-%d %H:%M:%S.%f') AS ts,
           CAST(sum(CAST(power(2, {_TDECAY_CLAMP}
                     - least((i.tus - j.tus) // {_TDECAY_HL_US},
                             {_TDECAY_CLAMP})) AS BIGINT) * j.cents)
                AS BIGINT)
             / (100.0 * power(2, {_TDECAY_CLAMP})) AS decayed_sum
    FROM seq i JOIN seq j
      ON j.user_id = i.user_id AND j.rn BETWEEN i.rn - 19 AND i.rn
    GROUP BY i.user_id, i.event_id, i.ts
    """,
)
def window_decay_time_halflife(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-TIME exponential decay over the last 20 events per
    user: each event contributes ``value · 2^(−Δt/halflife)`` with Δt
    measured on the CLOCK, not in row counts — the irregular-sampling
    twin of ``window_decay_ema`` (whose per-event half-life silently
    treats a 10-second burst and a 10-day gap as the same amount of
    forgetting; activity features want wall-clock recency).

    Exactness plays the same integer game as the EMA: Δt quantizes to
    WHOLE half-lives (``least(Δt_µs div HL_µs, 40)``, integer µs from
    the instant — no float time math), so every weight ``2^(40−k)`` is
    an exact integer < 2^53 even through ``power()``'s double, each
    term ``weight · cents`` stays a BIGINT, and the frame sum is
    accumulation-order-exact; ONE final division produces the
    identical double on both engines.  The 40-half-life clamp is the
    contract that makes this finite (beyond it the true weight
    underflows any double to 0).

    Spark-first shape: ``collect_list`` frames over one (user_id)
    window for (cents, epoch-µs) + a ``zip_with``/``aggregate`` fold —
    pure JVM higher-order functions, no UDF, per-row work capped at
    the 20-element frame.  The oracle is the banded self-join an
    HOF-less engine would run (20× the shuffled rows — the reason the
    window form is the scale path).  One user_id exchange total."""
    ev = (
        load_table(spark, sf_dir, "events")
        .where(F.col("user_id") < 200)
        .select(
            "user_id",
            "event_id",
            "ts",
            F.unix_micros("ts").alias("tus"),
            F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-19, Window.currentRow)
    )
    cents_fr = F.collect_list("cents").over(w)
    tus_fr = F.collect_list("tus").over(w)
    framed = ev.select(
        "user_id",
        "event_id",
        "ts",
        "tus",
        cents_fr.alias("cf"),
        tus_fr.alias("tf"),
    )
    def k(t):
        # exact integer floor-div without an `expr` escape (lambdas
        # can't reference `div`): subtract the modulus first so the
        # double division is of an EXACT multiple of HL — IEEE
        # correctly-rounded division of HL·m by HL is exactly m, so
        # no boundary Δt can round differently from DuckDB's `//`
        d = F.col("tus") - t
        whole = d - d % F.lit(_TDECAY_HL_US)
        return F.least(
            (whole / F.lit(_TDECAY_HL_US)).cast("bigint"),
            F.lit(_TDECAY_CLAMP),
        )
    terms = F.zip_with(
        F.col("cf"),
        F.col("tf"),
        lambda c, t: F.pow(F.lit(2.0), (F.lit(_TDECAY_CLAMP) - k(t)).cast("double"))
        .cast("bigint")
        * c,
    )
    big = F.aggregate(terms, F.lit(0).cast("bigint"), lambda a, x: a + x)
    return framed.select(
        "user_id",
        "event_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts"),
        (big / F.lit(100.0 * float(2 ** _TDECAY_CLAMP))).alias("decayed_sum"),
    )


#: rolling-regression window width (trailing events per user)
_RSLOPE_WIN = 5

#: the slope's quantized numerator/denominator, shared verbatim by
#: both dialects' floor division below
_RSLOPE_NUM = "(1000000 * (n * sxy - sx * sy))"
_RSLOPE_DEN = "(n * sxx - sx * sx)"


@query(
    "window_rolling_slope",
    oracle=f"""
    WITH x AS (
      SELECT user_id, event_id,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events
    ),
    s AS (
      SELECT user_id, event_id, rn,
             count(*)        OVER w AS n,
             sum(rn)         OVER w AS sx,
             sum(cents)      OVER w AS sy,
             sum(rn * cents) OVER w AS sxy,
             sum(rn * rn)    OVER w AS sxx
      FROM x
      WINDOW w AS (PARTITION BY user_id ORDER BY rn
                   ROWS BETWEEN {_RSLOPE_WIN - 1} PRECEDING AND CURRENT ROW)
    )
    SELECT user_id, event_id,
           CAST(rn AS BIGINT) AS rn,
           CAST(n AS BIGINT) AS n_win,
           CASE WHEN {_RSLOPE_DEN} > 0 THEN
             CAST({floor_div_sql(_RSLOPE_NUM, _RSLOPE_DEN, "duckdb")} AS BIGINT)
           END AS slope_micro
    FROM s
    """,
)
def window_rolling_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLING regression slope — per user, the OLS slope of spend
    (cents) against event index over the trailing {_RSLOPE_WIN}
    events: the windowed form of ``agg_linear_trend`` and the standard
    "is this account accelerating or decaying" feature for churn /
    fraud models (a global trend can't see a user whose last five
    events reverse course).

    Exactness: within a ≤{_RSLOPE_WIN}-row frame the closed-form slope
    ``(nΣxy − ΣxΣy)/(nΣxx − (Σx)²)`` has every moment an exact BIGINT
    (x = the per-user event index, y = cents), and the quantized
    ``⌊10⁶·num/den⌋`` goes through the shared floor-division CASE
    (numerator legally negative — decaying users; ``div``/``//``
    truncate toward zero).  Zero x-variance frames (n = 1) → NULL on
    both engines.

    Plan: one user_id window (single data-sized shuffle) computes the
    index and all four rolling moments in the SAME frame pass — five
    window aggregates over one WindowExec, no self-join, no second
    shuffle.  At 100 TB this is the sessionize shape: hash-partition
    by user, sort once per partition.  Reference heritage: none
    (SURVEY §2 charter extension, window family)."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "ts",
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
    )
    wo = Window.partitionBy("user_id").orderBy("ts", "event_id")
    x = ev.withColumn("rn", F.row_number().over(wo))
    wf = (
        Window.partitionBy("user_id")
        .orderBy("rn")
        .rowsBetween(-(_RSLOPE_WIN - 1), 0)
    )
    s = x.select(
        "user_id",
        "event_id",
        "rn",
        F.count("*").over(wf).alias("n"),
        F.sum("rn").over(wf).alias("sx"),
        F.sum("cents").over(wf).alias("sy"),
        F.sum(F.col("rn") * F.col("cents")).over(wf).alias("sxy"),
        F.sum(F.col("rn") * F.col("rn")).over(wf).alias("sxx"),
    )
    return s.select(
        "user_id",
        "event_id",
        F.col("rn").cast("bigint").alias("rn"),
        F.col("n").cast("bigint").alias("n_win"),
        F.when(
            F.expr(_RSLOPE_DEN) > 0,
            F.expr(
                "CAST("
                + floor_div_sql(_RSLOPE_NUM, _RSLOPE_DEN, "spark")
                + " AS BIGINT)"
            ),
        ).alias("slope_micro"),
    )
