"""Time-series resampling — regularize an irregular event stream onto a
fixed calendar grid and fill the gaps (forward-fill + linear
interpolation).

A charter extension: the reference cannot express this (its only
grouping construct is key-grouped fold, reference ``src/worker.cc:
208-229``); feature pipelines need it constantly ("daily activity per
user, no holes, carry the last reading forward").

Spark-first shape — no UDF, no driver loop:

1. bucket to the grain with a hash aggregation (one shuffle on
   (key, bucket));
2. per-key grid = ``sequence(min_bucket, max_bucket)`` exploded — the
   grid is GENERATED inside the plan, sized by each key's own active
   span (no global calendar join, no driver-side date arithmetic);
3. left join observations onto the grid (co-keyed equi-join);
4. fills are windows over the grid: ``last(value, ignorenulls)``
   rows-unbounded-preceding for forward fill, the symmetric
   ``first(...)`` following-frame for the next observation, and
   linear interpolation from the (prev, next) pair + date distances.

Determinism contract (matters beyond the oracle): every numeric step
is INTEGER arithmetic until the final ``/ 1000.0`` — float sums are
partition-order dependent (a cluster re-run can flip last bits and,
at a rounding tie, the visible decimals) and the two engines break
exact .0005 ``round()`` ties differently, both observed against the
oracle during development.  Values are quantized to cents, aggregated
as integer sums, and rounded to milli-units with explicit integer
half-up arithmetic (``(2p + q) div (2q)``, valid for the nonnegative
``value`` domain), so the series is bitwise reproducible on any
partitioning and any engine.

At 100 TB: every stage is keyed by ``user_id`` — the grid explode is
map-side (follows the bounds aggregation), the observation join and
the fill windows hash-partition on the same key, and AQE coalesces the
tiny post-grid partitions.  Grid size is bounded by each key's span at
the chosen grain, not by corpus size.  Nothing is collected.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mapreduceplusplus_spark.iterate import truncate
from mapreduceplusplus_spark.registry import query
from mapreduceplusplus_spark.session import ensure_utc, floor_div_sql
from mapreduceplusplus_spark.sources.tables import load_table

#: DuckDB floor-division fragment rendered by the SHARED helper (see
#: llm/embeddings.py _FLOOR_SN_DUCK for the rationale)
_FLOOR_MU_DUCK = floor_div_sql("sum(c)", "count(*)", "duckdb")

#: keys resampled by the registered query — a fixed slice so the
#: output stays bounded and comparable across scale factors
_MAX_USER = 40


@query(
    "ts_resample_gapfill",
    oracle=f"""
    WITH daily AS (
      -- integer milli-units of the day mean of cent-quantized values:
      -- m = round_half_up(1000 * sum(cents) / (100 * n))
      --   = (20*sum(cents) + n) // (2*n)
      SELECT user_id, CAST(ts AS DATE) AS d,
             CAST((20 * sum(CAST(round(value * 100) AS BIGINT)) + count(*))
                  // (2 * count(*)) AS BIGINT) AS m
      FROM events
      WHERE user_id < {_MAX_USER}
      GROUP BY user_id, CAST(ts AS DATE)
    ),
    bounds AS (
      SELECT user_id, min(d) AS d0, max(d) AS d1 FROM daily GROUP BY user_id
    ),
    grid AS (
      SELECT user_id, CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS d
      FROM bounds
    ),
    j AS (
      SELECT g.user_id, g.d, dl.m
      FROM grid g LEFT JOIN daily dl ON dl.user_id = g.user_id AND dl.d = g.d
    ),
    filled AS (
      SELECT user_id, d, m,
             last_value(m IGNORE NULLS) OVER w_prev AS pm,
             last_value(CASE WHEN m IS NOT NULL THEN d END IGNORE NULLS)
               OVER w_prev AS pd,
             first_value(m IGNORE NULLS) OVER w_next AS nm,
             first_value(CASE WHEN m IS NOT NULL THEN d END IGNORE NULLS)
               OVER w_next AS nd
      FROM j
      WINDOW
        w_prev AS (PARTITION BY user_id ORDER BY d
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        w_next AS (PARTITION BY user_id ORDER BY d
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT user_id,
           strftime(d, '%Y-%m-%d') AS day,
           (m IS NULL)             AS is_gap,
           pm / 1000.0             AS ffill_value,
           CASE
             WHEN m IS NOT NULL THEN m
             WHEN pm IS NULL THEN nm
             WHEN nm IS NULL THEN pm
             -- round_half_up(pm + (nm-pm)*dp/dn), all-integer
             ELSE (2 * (pm * date_diff('day', pd, nd)
                        + (nm - pm) * date_diff('day', pd, d))
                   + date_diff('day', pd, nd))
                  // (2 * date_diff('day', pd, nd))
           END / 1000.0            AS interp_value
    FROM filled
    """,
)
def ts_resample_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resample per-user event values onto a daily grid over each
    user's own active span; emit the forward-filled and the linearly
    interpolated series plus the gap flag.  See the module docstring
    for the integer-exact determinism contract."""
    ensure_utc(spark)
    ev = (
        load_table(spark, sf_dir, "events")
        .where(F.col("user_id") < _MAX_USER)
        .select("user_id", F.to_date("ts").alias("d"), "value")
    )
    cents = F.round(F.col("value") * 100).cast("bigint")
    daily = (
        ev.groupBy("user_id", "d")
        .agg(F.sum(cents).alias("cs"), F.count("*").alias("cn"))
        .select(
            "user_id",
            "d",
            F.expr("(20 * cs + cn) div (2 * cn)").alias("m"),
        )
    )
    bounds = daily.groupBy("user_id").agg(
        F.min("d").alias("d0"), F.max("d").alias("d1")
    )
    grid = bounds.select(
        "user_id",
        F.explode(F.sequence("d0", "d1", F.expr("interval 1 day"))).alias("d"),
    )
    j = grid.join(daily.select("user_id", "d", "m"), ["user_id", "d"], "left")

    w_prev = (
        Window.partitionBy("user_id")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_next = (
        Window.partitionBy("user_id")
        .orderBy("d")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    obs_d = F.when(F.col("m").isNotNull(), F.col("d"))
    filled = j.select(
        "user_id",
        "d",
        "m",
        F.last("m", ignorenulls=True).over(w_prev).alias("pm"),
        F.last(obs_d, ignorenulls=True).over(w_prev).alias("pd"),
        F.first("m", ignorenulls=True).over(w_next).alias("nm"),
        F.first(obs_d, ignorenulls=True).over(w_next).alias("nd"),
    )
    # integer half-up interpolation; operands are nonnegative so
    # div == floor, and the expression stays BIGINT until the final
    # /1000.0 (expr: the Column API has no infix integer-div)
    filled = filled.withColumn(
        "interp_m",
        F.when(F.col("m").isNotNull(), F.col("m"))
        .when(F.col("pm").isNull(), F.col("nm"))
        .when(F.col("nm").isNull(), F.col("pm"))
        .otherwise(
            F.expr(
                "(2 * (pm * datediff(nd, pd) + (nm - pm) * datediff(d, pd))"
                " + datediff(nd, pd)) div (2 * datediff(nd, pd))"
            )
        ),
    )
    return filled.select(
        "user_id",
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        F.col("m").isNull().alias("is_gap"),
        (F.col("pm") / 1000.0).alias("ffill_value"),
        (F.col("interp_m") / 1000.0).alias("interp_value"),
    )


@query(
    "window_sessionize",
    oracle="""
    WITH marks AS (
      SELECT user_id, ts, event_id,
             CAST(round(value * 100) AS BIGINT) AS cents,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS session_id
      FROM marks
    )
    SELECT user_id,
           CAST(session_id AS BIGINT)                    AS session_id,
           CAST(count(*) AS BIGINT)                      AS n_events,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f')     AS session_start,
           CAST(epoch_us(max(ts)) - epoch_us(min(ts)) AS BIGINT) AS duration_us,
           CAST(sum(cents) AS BIGINT)                    AS sum_cents
    FROM sess
    GROUP BY user_id, session_id
    """,
)
def window_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization — the canonical event-analytics
    operator the reference's key-grouped fold cannot express (it has no
    ordering within a group; reference ``src/worker.cc:208-229`` folds
    unordered value lists).

    Classic two-window formulation: mark rows whose gap from the
    previous event exceeds 30 min (``lag``), run-sum the marks into a
    per-user session id, then aggregate each session.  Deterministic
    under ties via the (ts, event_id) composite ordering; session
    duration is exact integer microseconds (no float, no truncation
    ambiguity between engines); values are cent-quantized integers.

    At 100 TB: ONE shuffle on user_id serves both windows and the final
    aggregation (same partitioning key); state per row is O(1).  This
    is the batch shape of ``stream_session_window`` — the streaming
    twin uses Spark's native ``session_window`` with a watermark."""
    ensure_utc(spark)
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # unix_micros: the exact integer µs clock (no float, no truncation)
    marks = ev.withColumn(
        "new_s",
        F.when(
            F.lag("ts").over(w).isNull()
            | (
                F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
                > 30 * 60 * 1000000
            ),
            1,
        ).otherwise(0),
    )
    sess = marks.withColumn(
        "session_id",
        F.sum("new_s").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return sess.groupBy("user_id", "session_id").agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("session_start"),
        (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts")))
        .cast("bigint")
        .alias("duration_us"),
        F.sum("cents").cast("bigint").alias("sum_cents"),
    ).select(
        "user_id", F.col("session_id").cast("bigint").alias("session_id"),
        "n_events", "session_start", "duration_us", "sum_cents",
    )


@query(
    "events_retention_cohort",
    oracle="""
    WITH firsts AS (
      SELECT user_id, min(CAST(ts AS DATE)) AS cohort_d FROM events GROUP BY user_id
    ),
    activity AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
    )
    SELECT strftime(f.cohort_d, '%Y-%m-%d')          AS cohort_day,
           CAST(date_diff('day', f.cohort_d, a.d) AS BIGINT) AS day_offset,
           CAST(count(*) AS BIGINT)                  AS n_active_users
    FROM activity a JOIN firsts f ON a.user_id = f.user_id
    GROUP BY f.cohort_d, date_diff('day', f.cohort_d, a.d)
    """,
)
def events_retention_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention — the product-analytics staple: users grouped
    by first-activity day, then counted per (cohort, day-offset) cell.
    ``count(*)`` over the DISTINCT (user, day) activity set equals
    count-distinct users but keeps the final aggregation EXPAND-free.

    At 100 TB: the first-day aggregation and the distinct-activity set
    both hash-partition on user_id (one logical shuffle each, AQE can
    pipeline them from the same scan), the join is co-keyed on user_id,
    and only the final small (cohort × offset) rollup reshuffles — the
    output is bounded by days², independent of corpus size."""
    ensure_utc(spark)
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("d")
    )
    firsts = ev.groupBy("user_id").agg(F.min("d").alias("cohort_d"))
    activity = ev.distinct()
    return (
        activity.join(firsts, "user_id")
        .groupBy("cohort_d", F.datediff("d", "cohort_d").alias("day_offset"))
        .agg(F.count("*").cast("bigint").alias("n_active_users"))
        .select(
            F.date_format("cohort_d", "yyyy-MM-dd").alias("cohort_day"),
            F.col("day_offset").cast("bigint").alias("day_offset"),
            "n_active_users",
        )
    )


@query(
    "ts_ohlc_bars",
    oracle="""
    WITH px AS (
      SELECT user_id,
             date_trunc('hour', ts) AS bar,
             CAST(round(value * 100) AS BIGINT) AS cents,
             row_number() OVER (PARTITION BY user_id, date_trunc('hour', ts)
                                ORDER BY ts, event_id)      AS rn_a,
             row_number() OVER (PARTITION BY user_id, date_trunc('hour', ts)
                                ORDER BY ts DESC, event_id DESC) AS rn_d
      FROM events
      WHERE user_id < 10
    )
    SELECT user_id,
           strftime(bar, '%Y-%m-%d %H:%M:%S') AS bar_start,
           CAST(max(CASE WHEN rn_a = 1 THEN cents END) AS BIGINT) AS open_c,
           CAST(max(cents) AS BIGINT)  AS high_c,
           CAST(min(cents) AS BIGINT)  AS low_c,
           CAST(max(CASE WHEN rn_d = 1 THEN cents END) AS BIGINT) AS close_c,
           CAST(count(*) AS BIGINT)    AS n_ticks
    FROM px
    GROUP BY user_id, bar
    """,
)
def ts_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC bar aggregation — irregular ticks rolled to hourly
    open/high/low/close bars, the standard financial/telemetry
    downsampling.  Open/close are the FIRST/LAST tick by the composite
    (ts, event_id) order: row_number + conditional-max keeps the whole
    computation in one windowed pass + one hash aggregation, exactly
    reproducible under ties (min_by/arg_min on a bare timestamp would
    be nondeterministic if two ticks share one).  Cent-quantized
    integer prices; user_id < 10 bounds the fixture output.

    At 100 TB: window and aggregation share the (user_id, bar) hash
    partitioning — one shuffle total; bars per key are bounded by the
    time span, not the tick volume."""
    ensure_utc(spark)
    ev = load_table(spark, sf_dir, "events").where(F.col("user_id") < 10).select(
        "user_id",
        F.date_trunc("hour", "ts").alias("bar"),
        "ts", "event_id",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    w_a = Window.partitionBy("user_id", "bar").orderBy("ts", "event_id")
    w_d = Window.partitionBy("user_id", "bar").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    px = ev.select(
        "user_id", "bar", "cents",
        F.row_number().over(w_a).alias("rn_a"),
        F.row_number().over(w_d).alias("rn_d"),
    )
    return px.groupBy("user_id", "bar").agg(
        F.max(F.when(F.col("rn_a") == 1, F.col("cents"))).cast("bigint").alias("open_c"),
        F.max("cents").cast("bigint").alias("high_c"),
        F.min("cents").cast("bigint").alias("low_c"),
        F.max(F.when(F.col("rn_d") == 1, F.col("cents"))).cast("bigint").alias("close_c"),
        F.count("*").cast("bigint").alias("n_ticks"),
    ).select(
        "user_id",
        F.date_format("bar", "yyyy-MM-dd HH:mm:ss").alias("bar_start"),
        "open_c", "high_c", "low_c", "close_c", "n_ticks",
    )


@query(
    "events_top_transitions",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_t
      FROM events
    )
    SELECT prev_t                    AS from_type,
           event_type                AS to_type,
           CAST(count(*) AS BIGINT)  AS n_transitions
    FROM seq
    WHERE prev_t IS NOT NULL
    GROUP BY prev_t, event_type
    """,
)
def events_top_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-type transition matrix (behavioral bigrams): each user's
    event sequence contributes (previous → current) pairs, counted
    corpus-wide — the Markov-chain summary behind "what do users do
    after X" product questions and next-event-prediction features.

    One lag window per user + one hash aggregation over a |types|²
    domain — the aggregate output is constant-size regardless of event
    volume.  At 100 TB the single shuffle is the user_id window; the
    transition rollup is map-side combined into almost nothing."""
    ensure_utc(spark)
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts", "event_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.withColumn("prev_t", F.lag("event_type").over(w))
    return (
        seq.where(F.col("prev_t").isNotNull())
        .groupBy(
            F.col("prev_t").alias("from_type"),
            F.col("event_type").alias("to_type"),
        )
        .agg(F.count("*").cast("bigint").alias("n_transitions"))
    )


@query(
    "events_growth_accounting",
    oracle="""
    WITH days AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
    ),
    lagged AS (
      SELECT user_id, d,
             lag(d) OVER (PARTITION BY user_id ORDER BY d) AS pd
      FROM days
    )
    SELECT strftime(d, '%Y-%m-%d') AS day,
           CAST(sum(CASE WHEN pd IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS new_users,
           CAST(sum(CASE WHEN date_diff('day', pd, d) = 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS retained_users,
           CAST(sum(CASE WHEN date_diff('day', pd, d) > 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS resurrected_users
    FROM lagged
    GROUP BY d
    """,
)
def events_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily growth accounting — every active (user, day) classified as
    NEW (first day ever), RETAINED (also active the previous day) or
    RESURRECTED (returning after a gap), the standard DAU decomposition
    every growth team reports.  Cohort matrix's
    (``events_retention_cohort``) day-over-day twin.

    Shape: distinct (user, day) set → one lag window per user → date
    rollup.  Both shuffles key on user_id except the final bounded
    (≤ #days) rollup.  Churn (yesterday-active, today-absent) is the
    same lag on the REVERSED axis — left out so every output row is an
    observed activity row, not a generated absence."""
    ensure_utc(spark)
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("d")
    )
    days = ev.distinct()
    w = Window.partitionBy("user_id").orderBy("d")
    lagged = days.withColumn("pd", F.lag("d").over(w))
    gap = F.datediff("d", "pd")
    return (
        lagged.groupBy("d")
        .agg(
            F.sum(F.when(F.col("pd").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("new_users"),
            F.sum(F.when(gap == 1, 1).otherwise(0)).cast("bigint").alias("retained_users"),
            F.sum(F.when(gap > 1, 1).otherwise(0))
            .cast("bigint")
            .alias("resurrected_users"),
        )
        .select(
            F.date_format("d", "yyyy-MM-dd").alias("day"),
            "new_users", "retained_users", "resurrected_users",
        )
    )


@query(
    "events_ab_lift",
    oracle="""
    WITH users AS (
      SELECT user_id,
             CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS variant,
             max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS converted
      FROM events GROUP BY user_id
    )
    SELECT variant,
           count(*) AS n_users,
           CAST(sum(converted) AS BIGINT) AS n_converted,
           CAST((20000 * sum(converted) + count(*)) // (2 * count(*))
                AS BIGINT) AS conv_bp
    FROM users GROUP BY variant
    """,
)
def events_ab_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout — per-variant conversion measured the
    way experimentation platforms do: unit of analysis is the USER
    (``max``-collapsed over their events, so a heavy clicker can't
    inflate a rate), variant assignment is a deterministic hash of the
    unit id, and the rate is an integer half-up in basis points so
    the readout is engine-exact (a float ratio's last digit is
    accumulation noise exactly where experiment decisions live).

    At 100 TB this is one user-keyed aggregate (map-side combined —
    the per-user collapse shrinks events to units before the variant
    rollup) and a 2-row reduction; the same shape serves any metric
    that is a per-unit indicator or sum.  Significance testing on top
    is ``window_anomaly_zscore``'s cleared-denominator pattern
    (compare n·Δ² against the pooled variance in integers)."""
    ensure_utc(spark)
    ev = load_table(spark, sf_dir, "events")
    users = ev.groupBy("user_id").agg(
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("converted")
    ).select(
        F.when(F.col("user_id") % 2 == 0, "A").otherwise("B").alias("variant"),
        "converted",
    )
    return users.groupBy("variant").agg(
        F.count("*").alias("n_users"),
        F.sum("converted").cast("bigint").alias("n_converted"),
        F.expr(
            "CAST((20000 * sum(converted) + count(*)) div (2 * count(*)) AS BIGINT)"
        ).alias("conv_bp"),
    )


@query(
    "events_cumulative_reach",
    oracle="""
    WITH first_seen AS (
      SELECT user_id, min(CAST(ts AS DATE)) AS first_day
      FROM events GROUP BY user_id
    ),
    per_day AS (
      SELECT first_day, count(*) AS new_users
      FROM first_seen GROUP BY first_day
    )
    SELECT strftime(first_day, '%Y-%m-%d') AS day,
           CAST(new_users AS BIGINT) AS new_users,
           CAST(sum(new_users) OVER (ORDER BY first_day
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS cumulative_reach
    FROM per_day
    """,
)
def events_cumulative_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative audience reach — distinct users ever seen, by day.
    The naive formulation (``count(DISTINCT user_id) OVER (ORDER BY
    day)``) needs unbounded distinct state per frame and Spark rejects
    it outright; the scalable identity is ``cumulative distinct =
    running sum of FIRST APPEARANCES``: one min-date rollup per user
    (map-side combined), a #days-sized per-day count, and a cumulative
    sum over that tiny table.  ``window_distinct_rolling`` pins the
    bounded-frame variant of the same problem; this is the unbounded
    one.

    Scale: the user rollup is the only real shuffle (users, not
    events, cross the wire after partial aggregation); the cumsum
    window runs over ~#days rows — the documented benign
    single-partition window over a driver-scale table (same as
    ``sort_global``'s offsets).  CAST-to-DATE is tz-sensitive: both
    engines evaluate it in UTC (``ensure_utc`` + naive DuckDB
    timestamps), the equivalence the hostile-tz sweep guards."""
    ensure_utc(spark)
    events = load_table(spark, sf_dir, "events")
    first_seen = events.groupBy("user_id").agg(
        F.min(F.col("ts").cast("date")).alias("first_day")
    )
    per_day = first_seen.groupBy("first_day").agg(
        F.count("*").alias("new_users")
    )
    w = (
        Window.orderBy("first_day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return per_day.select(
        F.date_format("first_day", "yyyy-MM-dd").alias("day"),
        F.col("new_users").cast("bigint").alias("new_users"),
        F.sum("new_users").over(w).cast("bigint").alias("cumulative_reach"),
    )


@query(
    "events_power_users_pareto",
    oracle="""
    WITH per_user AS (
      SELECT user_id, count(*) AS n_events
      FROM events GROUP BY user_id
    ),
    ranked AS (
      SELECT user_id, n_events,
             row_number() OVER (ORDER BY n_events DESC, user_id) AS rk,
             sum(n_events) OVER (ORDER BY n_events DESC, user_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             (SELECT sum(n_events) FROM per_user) AS total,
             (SELECT count(*) FROM per_user) AS n_users
      FROM per_user
    )
    SELECT CAST(rk * 10000 // n_users AS BIGINT) AS user_pct_bp,
           CAST(max(cum * 10000 // total) AS BIGINT) AS event_share_bp
    FROM ranked
    WHERE rk * 10000 % n_users = 0 OR rk = n_users
    GROUP BY CAST(rk * 10000 // n_users AS BIGINT)
    """,
)
def events_power_users_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Activity-concentration (Lorenz/Pareto) curve: users ranked by
    event volume descending, sampled at exact basis-point positions —
    the "do 20% of users generate 80% of traffic?" readout that sizes
    rate limits, capacity plans, and abuse thresholds.  Both axes are
    floor-divided basis-point BIGINTs (cumulative share and rank
    percentile), so every curve point is engine-exact — the usual
    float-percent formulation drifts in the last ulp and can flip a
    sampled position across engines.

    Scale: the per-user rollup is the only event-volume shuffle
    (map-side combined); ranking and the cumulative sum run over the
    #users-sized rollup via the ``sort_global`` two-pass bucketed rank
    (``range_bucket_expr``, descending on activity): per-bucket local
    row_number + local running sum (|buckets| parallel tasks), one
    TINY census (≤ |buckets| rows) yielding per-bucket rank and
    weight offsets, broadcast back and added.  #users grows linearly
    with corpus size, so the earlier single-partition
    ``Window.orderBy`` over the rollup was the one remaining
    serial-section signature (the same one the 5× harness caught on
    ``agg_weighted_median``); this form keeps the identical total
    order (n_events DESC, user_id — equal activities always share a
    bucket) so offset + local value reproduces the single-sort rank
    and cumsum EXACTLY, and the oracle keeps the one-window spec
    form."""
    from mapreduceplusplus_spark.operators.aggregates import range_bucket_expr

    from mapreduceplusplus_spark.operators.aggregates import (
        census_offsets_literal,
    )

    ensure_utc(spark)
    events = load_table(spark, sf_dir, "events")
    # the event-volume rollup is materialized ONCE (review r8: unpersisted
    # it was recomputed by the quantile sample, the census, the totals,
    # AND the ranked output — 4 scans of events); truncate keeps
    # the single-payment claim true without a driver collect of #users rows
    per_user = truncate(
        events.groupBy("user_id")
        .agg(F.count("*").alias("n_events"))
    )
    totals = per_user.agg(
        F.sum("n_events").alias("total"), F.count("*").alias("n_users")
    )
    n_sample = per_user.select(F.col("n_events").cast("double").alias("n_events"))
    bkt = range_bucket_expr(spark, n_sample, "n_events", descending=True)
    loc = per_user.withColumn("_bkt", bkt)
    census = loc.groupBy("_bkt").agg(
        F.count("*").alias("_c"), F.sum("n_events").alias("_s")
    )
    # cumulative census offsets as driver literals over the ≤ |buckets|
    # census (shared helper — exact ints, census evaluated exactly once)
    offsets = census_offsets_literal(
        spark, census, "_bkt", ["_c", "_s"], ["_rk_off", "_cum_off"]
    )
    w_loc = Window.partitionBy("_bkt").orderBy(
        F.col("n_events").desc(), F.col("user_id")
    )
    ranked = (
        loc.withColumn("_lrk", F.row_number().over(w_loc))
        .withColumn(
            "_lcum",
            F.sum("n_events").over(
                w_loc.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        # broadcast-safe: offsets ≤ |buckets| rows (census, not data)
        .join(F.broadcast(offsets), "_bkt")
        # broadcast-safe: totals is a 1-row global aggregate
        .join(F.broadcast(totals))
        # local row_number() is 32-bit: promote to BIGINT before the
        # offset add / *10000 multiply (overflows past ~214k users)
        .select(
            (F.col("_rk_off") + F.col("_lrk").cast("bigint")).alias("rk"),
            (F.col("_cum_off") + F.col("_lcum")).alias("cum"),
            "total",
            "n_users",
        )
    )
    return (
        ranked.where(
            ((F.col("rk") * 10000) % F.col("n_users") == 0)
            | (F.col("rk") == F.col("n_users"))
        )
        .groupBy(
            F.expr("rk * 10000 div n_users").cast("bigint").alias("user_pct_bp")
        )
        .agg(
            F.max(F.expr("cum * 10000 div total"))
            .cast("bigint")
            .alias("event_share_bp")
        )
    )


@query(
    "events_inter_arrival_stats",
    oracle="""
    WITH gaps AS (
      SELECT user_id,
             epoch_us(ts) - epoch_us(lag(ts) OVER (
                 PARTITION BY user_id ORDER BY ts, event_id)) AS gap_us
      FROM events
    )
    SELECT user_id,
           count(gap_us) AS n_gaps,
           CAST(min(gap_us) // 1000000 AS BIGINT) AS min_gap_s,
           CAST(max(gap_us) // 1000000 AS BIGINT) AS max_gap_s,
           CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY gap_us)
                // 1000000 AS BIGINT) AS p50_gap_s
    FROM gaps
    WHERE gap_us IS NOT NULL
    GROUP BY user_id
    """,
)
def events_inter_arrival_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival-time profile per user: the gap between consecutive
    events (lag over the per-user timeline, tiebroken on event_id so
    same-timestamp events order identically on both engines), rolled
    up to count/min/max/median gap — the signal behind bot detection
    (impossibly uniform gaps), session-timeout calibration (the p50
    gap bounds the sessionization threshold from below), and capacity
    models.  Gaps ride as integer MICROSECONDS and divide to whole
    seconds only at the end — a float-seconds lag would tie-break
    differently across engines at sub-second gaps; the discrete median
    (``percentile_disc``) returns an actual observed gap, exact on
    both engines over integers.

    Scale: one hash shuffle on user_id serves BOTH the lag window and
    the rollup (same partitioning, no second exchange); per-user state
    is one timestamp."""
    ensure_utc(spark)
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = ev.select(
        "user_id",
        (
            F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
        ).alias("gap_us"),
    ).where(F.col("gap_us").isNotNull())
    gaps.createOrReplaceTempView("_gaps")
    return gaps.sparkSession.sql(
        """
        SELECT user_id,
               count(gap_us) AS n_gaps,
               CAST(min(gap_us) div 1000000 AS BIGINT) AS min_gap_s,
               CAST(max(gap_us) div 1000000 AS BIGINT) AS max_gap_s,
               -- Spark's percentile_disc returns DOUBLE even over
               -- BIGINTs; DISC picks an actual observed (integer) gap,
               -- so the cast back is exact
               CAST(CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY gap_us)
                         AS BIGINT) div 1000000 AS BIGINT) AS p50_gap_s
        FROM _gaps
        GROUP BY user_id
        """
    )


@query(
    "dq_freshness_lag",
    oracle="""
    WITH per AS (
      SELECT event_type, max(ts) AS last_ts, count(*) AS n_events
      FROM events GROUP BY event_type
    ),
    g AS (SELECT max(last_ts) AS global_last FROM per)
    SELECT p.event_type,
           strftime(p.last_ts, '%Y-%m-%d %H:%M:%S') AS last_seen,
           CAST((epoch_us(g.global_last) - epoch_us(p.last_ts)) // 1000000
                AS BIGINT) AS staleness_s,
           CAST(p.n_events AS BIGINT) AS n_events
    FROM per p, g
    """,
)
def dq_freshness_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-freshness monitor: per stream (event type), the last-seen
    timestamp and its staleness against the freshest stream — the
    pipeline-health readout that catches a silently-stalled upstream
    (one event type stops flowing while the rest continue; total row
    counts look fine, THIS metric doesn't).  Staleness measured
    against the data's own high-water mark rather than wall-clock so
    the check is deterministic and engine-comparable; production
    deployments add a wall-clock threshold on top.

    Scale: one map-side-combined max/count rollup to #types rows; the
    global high-water mark is a 1-row re-aggregate of that rollup
    broadcast back.  The fact table is scanned once."""
    ensure_utc(spark)
    ev = load_table(spark, sf_dir, "events")
    per = ev.groupBy("event_type").agg(
        F.max("ts").alias("last_ts"), F.count("*").alias("n_events")
    )
    g = per.agg(F.max("last_ts").alias("global_last"))
    # broadcast-safe: g is a 1-row global high-water mark
    return per.join(F.broadcast(g)).select(
        "event_type",
        F.date_format("last_ts", "yyyy-MM-dd HH:mm:ss").alias("last_seen"),
        F.expr(
            "(unix_micros(global_last) - unix_micros(last_ts)) div 1000000"
        )
        .cast("bigint")
        .alias("staleness_s"),
        F.col("n_events").cast("bigint").alias("n_events"),
    )


@query(
    "events_hourweek_heatmap",
    oracle="""
    SELECT CAST(dayofweek(ts) AS BIGINT) AS dow,
           CAST(hour(ts) AS BIGINT) AS hod,
           event_type,
           count(*) AS n_events
    FROM events
    GROUP BY dayofweek(ts), hour(ts), event_type
    """,
)
def events_hourweek_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-week activity heatmap: the (day-of-week × hour × type)
    count grid behind every traffic-pattern dashboard and
    capacity/anomaly baseline ("is Tuesday 3am traffic normal for a
    Tuesday 3am?").  Both engines number Sunday=0..?  NO — DuckDB
    ``dayofweek`` is 0=Sunday..6 and Spark ``dayofweek`` is
    1=Sunday..7; this query uses Spark's ``dayofweek(ts) - 1`` to
    land on DuckDB's numbering, pinning the off-by-one every
    cross-engine port hits.  Extraction is tz-sensitive — UTC on both
    sides (the hostile-tz sweep guards it).

    Scale: pure map-side-combined rollup to ≤ 7·24·|types| rows —
    the shuffle carries the grid, not events."""
    ensure_utc(spark)
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(
        (F.dayofweek("ts") - 1).cast("bigint").alias("dow"),
        F.hour("ts").cast("bigint").alias("hod"),
        "event_type",
    ).agg(F.count("*").alias("n_events"))


@query(
    "events_seasonal_deviation",
    oracle="""
    WITH slot AS (
      SELECT CAST(dayofweek(ts) AS BIGINT) AS dow,
             CAST(hour(ts) AS BIGINT) AS hod,
             CAST(ts AS DATE) AS d,
             count(*) AS n
      FROM events WHERE event_type = 'click'
      GROUP BY 1, 2, 3
    ),
    baseline AS (
      SELECT dow, hod,
             CAST(sum(n) AS BIGINT) AS tot,
             count(*) AS n_days
      FROM slot GROUP BY dow, hod
    )
    SELECT s.dow, s.hod,
           strftime(s.d, '%Y-%m-%d') AS day,
           CAST(s.n AS BIGINT) AS n,
           CAST(b.tot // b.n_days AS BIGINT) AS baseline_floor,
           CAST(CASE WHEN b.tot = 0 THEN 0
                ELSE s.n * b.n_days * 10000 // b.tot END AS BIGINT)
               AS vs_baseline_bp
    FROM slot s JOIN baseline b ON s.dow = b.dow AND s.hod = b.hod
    WHERE s.n * b.n_days * 3 > b.tot * 4 OR s.n * b.n_days * 3 < b.tot * 2
    """,
)
def events_seasonal_deviation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive anomaly screen: each (day, hour-of-week slot)'s
    click count compared against that SLOT's own historical mean —
    "is Tuesday 3am traffic normal for a Tuesday 3am" made operational
    (the hour-of-week heatmap turned from dashboard into detector).
    Flags slots off by more than ±33% of their seasonal baseline; both
    the deviation ratio (floor-divided basis points) and the flag
    inequality are pure integer cross-multiplication
    (``n·n_days·3 > tot·4``), so the flagged set is engine-exact —
    a float mean would wobble the boundary slots.

    Scale: two stacked map-side-combined rollups (per-slot-day, then
    per-slot) and a co-keyed join back — events shuffle once; the
    baseline table is ≤ 7·24 rows and broadcasts."""
    ensure_utc(spark)
    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_type") == "click"
    )
    slot = ev.groupBy(
        (F.dayofweek("ts") - 1).cast("bigint").alias("dow"),
        F.hour("ts").cast("bigint").alias("hod"),
        F.to_date("ts").alias("d"),
    ).agg(F.count("*").alias("n"))
    baseline = slot.groupBy(
        F.col("dow").alias("b_dow"), F.col("hod").alias("b_hod")
    ).agg(F.sum("n").cast("bigint").alias("tot"), F.count("*").alias("n_days"))
    j = slot.join(
        # broadcast-safe: baseline is <= 7*24 = 168 rows at any SF
        F.broadcast(baseline),
        (F.col("dow") == F.col("b_dow")) & (F.col("hod") == F.col("b_hod")),
    )
    dev = F.col("n") * F.col("n_days") * 3
    return (
        j.where((dev > F.col("tot") * 4) | (dev < F.col("tot") * 2))
        .select(
            "dow",
            "hod",
            F.date_format("d", "yyyy-MM-dd").alias("day"),
            F.col("n").cast("bigint").alias("n"),
            F.expr("tot div n_days").cast("bigint").alias("baseline_floor"),
            F.when(F.col("tot") == 0, 0)
            .otherwise(F.expr("n * n_days * 10000 div tot"))
            .cast("bigint")
            .alias("vs_baseline_bp"),
        )
    )


@query(
    "orders_cohort_ltv",
    oracle="""
    WITH first_order AS (
      SELECT o_custkey,
             date_trunc('month', min(o_orderdate)) AS cohort_month
      FROM orders GROUP BY o_custkey
    ),
    j AS (
      SELECT f.cohort_month,
             (CAST(year(o.o_orderdate) AS BIGINT) * 12
              + CAST(month(o.o_orderdate) AS BIGINT))
             - (CAST(year(f.cohort_month) AS BIGINT) * 12
                + CAST(month(f.cohort_month) AS BIGINT)) AS months_since,
             CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents,
             o.o_custkey
      FROM orders o JOIN first_order f ON o.o_custkey = f.o_custkey
    )
    SELECT strftime(cohort_month, '%Y-%m') AS cohort,
           CAST(months_since AS BIGINT) AS months_since,
           count(DISTINCT o_custkey) AS n_active,
           CAST(sum(cents) AS BIGINT) AS revenue_cents
    FROM j
    WHERE months_since <= 11
    GROUP BY strftime(cohort_month, '%Y-%m'), months_since
    """,
)
def orders_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cohort-LTV revenue triangle: customers grouped by
    first-order month, revenue and active count tracked by months
    since acquisition (first year) — the table every growth model and
    payback-period calculation reads.  Month arithmetic is integer
    (``year*12 + month`` difference), revenue is integer cents, so the
    triangle is engine-exact; ``n_active`` is a per-cell distinct
    count, not a row count (a customer with three orders in month 2
    is one active customer).

    Scale: the first-order rollup shuffles orders once on custkey and
    joins back on the same key (co-partitioned, no second exchange
    under AQE); the triangle rollup is (#cohorts × 12)-sized with
    map-side-combined partial distinct."""
    ensure_utc(spark)
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_totalprice"
    )
    first = orders.groupBy("o_custkey").agg(
        F.date_trunc("month", F.min("o_orderdate")).alias("cohort_month")
    )
    mnum = lambda c: F.year(c).cast("bigint") * 12 + F.month(c).cast("bigint")
    j = orders.join(first, "o_custkey").select(
        "o_custkey",
        "cohort_month",
        (mnum(F.col("o_orderdate")) - mnum(F.col("cohort_month"))).alias(
            "months_since"
        ),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    return (
        j.where(F.col("months_since") <= 11)
        .groupBy(
            F.date_format("cohort_month", "yyyy-MM").alias("cohort"),
            F.col("months_since").cast("bigint").alias("months_since"),
        )
        .agg(
            F.count_distinct("o_custkey").alias("n_active"),
            F.sum("cents").cast("bigint").alias("revenue_cents"),
        )
    )


@query(
    "events_attribution_last_touch",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type, value,
             last_value(CASE WHEN event_type <> 'purchase' THEN event_type END
                        IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS channel
      FROM events
    )
    SELECT coalesce(channel, 'none') AS channel,
           CAST(count(*) AS BIGINT) AS n_conversions,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS revenue_cents
    FROM seq WHERE event_type = 'purchase'
    GROUP BY 1
    """,
)
def events_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch revenue attribution: every ``purchase`` conversion
    credits its value to the user's most recent PRECEDING non-purchase
    event type (the channel proxy: click/view/signup/error), then
    revenue rolls up per attributed channel — the marketing-analytics
    counterpart of ``window_funnel`` (which asks *did* the sequence
    complete; attribution asks *who gets credit* for it).  A
    conversion with no prior touch in the stream attributes to
    ``'none'`` rather than being dropped, so the rollup always
    accounts for every conversion.

    The carry is ``last(channel_or_null, ignorenulls=True)`` over
    ``ROWS … AND 1 PRECEDING`` — strictly-before semantics, so a
    purchase can never attribute to itself even if a touch shares its
    timestamp (ties are totally ordered by (ts, event_id)).  First-
    touch attribution is the same plan with an UNBOUNDED-FOLLOWING
    ``first``; time-decayed multi-touch needs the per-touch weights of
    ``window_decay_ema``.

    Scale: ONE hash exchange on user_id serves the whole carry (the
    window sort is per-user, no global sort); the purchase filter
    cannot push below the window (the carry must see non-purchase
    rows — that is the operator) but the rollup output is |channels|+1
    rows, map-side combined.  Integer cents.  Reference heritage:
    none (SURVEY §2 charter extension, events family)."""
    ensure_utc(spark)
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "event_type", "value"
    )
    touch = F.when(
        F.col("event_type") != "purchase", F.col("event_type")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    seq = ev.select(
        "event_type",
        "value",
        F.last(touch, ignorenulls=True).over(w).alias("channel"),
    )
    return (
        seq.where(F.col("event_type") == "purchase")
        .groupBy(F.coalesce("channel", F.lit("none")).alias("channel"))
        .agg(
            F.count("*").cast("bigint").alias("n_conversions"),
            F.sum(F.round(F.col("value") * 100).cast("bigint"))
            .cast("bigint")
            .alias("revenue_cents"),
        )
    )


@query(
    "events_attribution_linear",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_id, ts, event_type,
             CAST(round(value * 100) AS BIGINT) * 10000 AS conv_micro,
             count(CASE WHEN event_type <> 'purchase' THEN 1 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS n_prior
      FROM events
    ),
    shares AS (
      SELECT *,
             CASE WHEN event_type = 'purchase' AND n_prior > 0
                  THEN conv_micro // n_prior END AS share
      FROM seq
    ),
    credits AS (
      SELECT *,
             sum(share) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN 1 FOLLOWING
                                       AND UNBOUNDED FOLLOWING) AS credit
      FROM shares
    )
    SELECT event_type                     AS channel,
           CAST(count(*) AS BIGINT)       AS n_credited_rows,
           CAST(sum(credit) AS BIGINT)    AS credited_micro
    FROM credits
    WHERE event_type <> 'purchase' AND credit IS NOT NULL
    GROUP BY 1
    UNION ALL
    SELECT 'none', CAST(count(*) AS BIGINT), CAST(sum(conv_micro) AS BIGINT)
    FROM shares WHERE event_type = 'purchase' AND n_prior = 0
    HAVING count(*) > 0
    """,
)
def events_attribution_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LINEAR (equal-split) multi-touch attribution — the multi-touch
    complement of ``events_attribution_last_touch``: every ``purchase``
    conversion splits its value EQUALLY across ALL of the user's
    strictly-preceding non-purchase touches, and credit rolls up per
    touch channel.  Orphan conversions (no prior touch) report under
    ``'none'`` so every conversion stays accounted for.

    The whole operator is TWO window passes over ONE user_id exchange —
    no conversions⋈touches join anywhere (the naive formulation is a
    per-user theta join whose output is |touches|×|purchases| per
    user):

    1. backward pass: ``n_prior`` = running count of touches strictly
       before each row → a purchase's per-touch share is
       ``conv_micro div n_prior`` (integer micro-cents, deterministic
       division — no float splits; the ≤ n_prior-1 micro-unit
       remainder per conversion is deliberately unassigned);
    2. forward pass: each touch's credit = ``sum(share)`` over the
       user's STRICTLY-FOLLOWING rows — shares live only on purchase
       rows, so the suffix sum collects exactly the conversions the
       touch preceded.

    Both passes share one partition ordering, so Catalyst plans a
    single sort+exchange; the rollup output is |channels|+1 rows,
    map-side combined.  All-integer arithmetic end to end.  Reference
    heritage: none (SURVEY §2 charter extension, events family)."""
    ensure_utc(spark)
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "event_type", "value"
    )
    w_prior = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    seq = ev.select(
        "user_id",
        "event_id",
        "ts",
        "event_type",
        (F.round(F.col("value") * 100).cast("bigint") * 10000).alias(
            "conv_micro"
        ),
        F.count(F.when(F.col("event_type") != "purchase", 1))
        .over(w_prior)
        .alias("n_prior"),
    )
    shares = seq.withColumn(
        "share",
        F.when(
            (F.col("event_type") == "purchase") & (F.col("n_prior") > 0),
            F.expr("conv_micro div n_prior"),
        ),
    )
    w_after = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(1, Window.unboundedFollowing)
    )
    credits = shares.withColumn("credit", F.sum("share").over(w_after))
    touches = (
        credits.where(
            (F.col("event_type") != "purchase") & F.col("credit").isNotNull()
        )
        .groupBy(F.col("event_type").alias("channel"))
        .agg(
            F.count("*").cast("bigint").alias("n_credited_rows"),
            F.sum("credit").cast("bigint").alias("credited_micro"),
        )
    )
    orphans = (
        shares.where((F.col("event_type") == "purchase") & (F.col("n_prior") == 0))
        .agg(
            F.count("*").cast("bigint").alias("n_credited_rows"),
            F.sum("conv_micro").cast("bigint").alias("credited_micro"),
        )
        .where(F.col("n_credited_rows") > 0)
        .select(
            F.lit("none").alias("channel"), "n_credited_rows", "credited_micro"
        )
    )
    return touches.unionByName(orphans)


@query(
    "events_ab_ks_test",
    oracle="""
    WITH ev AS (
      SELECT user_id % 2 AS g, CAST(round(value * 100) AS BIGINT) AS cents
      FROM events
    ),
    grid AS (
      SELECT cents,
             count(*) FILTER (WHERE g = 0) AS c0,
             count(*) FILTER (WHERE g = 1) AS c1
      FROM ev GROUP BY cents
    ),
    tot AS (SELECT CAST(sum(c0) AS BIGINT) AS n0,
                   CAST(sum(c1) AS BIGINT) AS n1 FROM grid),
    cum AS (
      SELECT cents,
             sum(c0) OVER (ORDER BY cents
                           ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND CURRENT ROW) AS cum0,
             sum(c1) OVER (ORDER BY cents
                           ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND CURRENT ROW) AS cum1
      FROM grid
    ),
    sc AS (
      SELECT c.cents, t.n0, t.n1,
             abs((1000000 * CAST(c.cum0 AS BIGINT)) // t.n0
               - (1000000 * CAST(c.cum1 AS BIGINT)) // t.n1) AS d
      FROM cum c CROSS JOIN tot t
      WHERE t.n0 > 0 AND t.n1 > 0
    ),
    best AS (SELECT n0, n1, max(d) AS ks FROM sc GROUP BY n0, n1)
    SELECT b.n0, b.n1,
           CAST(b.ks AS BIGINT)      AS ks_ppm,
           CAST(min(s.cents) AS BIGINT) AS at_cents
    FROM best b JOIN sc s ON s.d = b.ks
    GROUP BY b.n0, b.n1, b.ks
    """,
)
def events_ab_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov statistic between the two
    experiment arms' value distributions (arm = ``user_id mod 2``) —
    the nonparametric "did the treatment move the WHOLE distribution"
    readout that completes the experimentation family next to
    ``events_ab_lift`` (means), ``events_ab_srm_check`` (assignment),
    ``events_ab_cuped`` (variance reduction) and ``dq_distribution_psi``
    (binned drift): KS = max |ECDF₀ − ECDF₁|, reported with WHERE the
    distributions diverge most (``at_cents``, min-value tiebreak).

    Exact-deterministic formulation: values quantize to integer cents,
    each arm's ECDF quantizes to PARTS-PER-MILLION via integer
    division (``(10⁶·cum) div n`` — bias ≤ 1 ppm per arm, documented),
    and the statistic is a max over the DISTINCT-VALUE grid.  The grid
    aggregation is one hash exchange; the running ECDFs are one
    unpartitioned window over |distinct cents| rows — bounded by the
    VALUE DOMAIN (≤ ~50k at any corpus size), not the row count, the
    same census-bounded-window argument as ``events_power_users_pareto``
     's offsets.  All-BIGINT arithmetic: 10⁶·cum ≤ 10⁶·rows, safe to
    ~9·10¹² rows per arm (beyond: promote the products to
    DECIMAL(38,0), the ``bp_ratio_halfup`` device).  Reference
    heritage: none (SURVEY §2 charter extension, events family)."""
    ensure_utc(spark)
    ev = load_table(spark, sf_dir, "events").select(
        (F.col("user_id") % 2).alias("g"),
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    grid = ev.groupBy("cents").agg(
        F.count(F.when(F.col("g") == 0, 1)).alias("c0"),
        F.count(F.when(F.col("g") == 1, 1)).alias("c1"),
    )
    tot = grid.agg(
        F.sum("c0").cast("bigint").alias("n0"),
        F.sum("c1").cast("bigint").alias("n1"),
    )
    w = Window.orderBy("cents").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = grid.select(
        "cents",
        F.sum("c0").over(w).alias("cum0"),
        F.sum("c1").over(w).alias("cum1"),
    )
    # broadcast-safe: tot is a 1-row global aggregate.  Both-arms-
    # nonempty guard BEFORE the integer divisions: with one arm empty
    # (n0 or n1 = 0) the ANSI-mode div would raise DIVIDE_BY_ZERO on
    # the Spark side while DuckDB's `// 0` yields NULL — the guard
    # makes both engines emit zero rows (there is no two-sample KS
    # against an empty sample), mirroring events_ab_mannwhitney.
    sc = cum.crossJoin(F.broadcast(tot)).where(
        (F.col("n0") > 0) & (F.col("n1") > 0)
    ).select(
        "cents",
        "n0",
        "n1",
        F.abs(
            F.expr("(1000000 * cum0) div n0 - (1000000 * cum1) div n1")
        ).alias("d"),
    )
    return (
        sc.groupBy("n0", "n1")
        .agg(
            F.max(
                F.struct(F.col("d").alias("d"), (-F.col("cents")).alias("negc"))
            ).alias("m")
        )
        .select(
            "n0",
            "n1",
            F.col("m.d").cast("bigint").alias("ks_ppm"),
            (-F.col("m.negc")).cast("bigint").alias("at_cents"),
        )
    )


@query(
    "events_ab_mannwhitney",
    oracle="""
    WITH ev AS (
      SELECT user_id % 2 AS g, CAST(round(value * 100) AS BIGINT) AS cents
      FROM events
    ),
    grid AS (
      SELECT cents,
             count(*) FILTER (WHERE g = 0) AS c0,
             count(*) FILTER (WHERE g = 1) AS c1
      FROM ev GROUP BY cents
    ),
    mid AS (
      SELECT cents, c0, c1,
             2 * sum(c0 + c1) OVER (ORDER BY cents
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                             AND CURRENT ROW)
               - (c0 + c1) + 1 AS mid2
      FROM grid
    ),
    agg AS (
      SELECT CAST(sum(c0) AS BIGINT)        AS n0,
             CAST(sum(c1) AS BIGINT)        AS n1,
             CAST(sum(c1 * mid2) AS BIGINT) AS r1x2
      FROM mid
      HAVING sum(c0) > 0 AND sum(c1) > 0
    )
    SELECT n0, n1,
           CAST(r1x2 - n1 * (n1 + 1) AS BIGINT) AS u2,
           -- HUGEINT, not DECIMAL: DuckDB's // on DECIMAL operands
           -- routes through DOUBLE (off-by-one past 2^53); HUGEINT
           -- floor-division is exact, and both operands are
           -- nonnegative so floor = Spark's truncating decimal div
           CAST((1000000 * CAST(r1x2 - n1 * (n1 + 1) AS HUGEINT))
                // (2 * CAST(n0 AS HUGEINT) * n1)
                AS BIGINT) AS cles_ppm
    FROM agg
    """,
)
def events_ab_mannwhitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Whitney U (Wilcoxon rank-sum) between the two experiment
    arms — the RANK-based location test that pairs with
    ``events_ab_ks_test``'s shape test and closes the nonparametric
    experimentation cell: U = Σ(pooled midranks of arm 1) − n₁(n₁+1)/2,
    reported DOUBLED (``u2``, so tied midranks stay integer) alongside
    the common-language effect size U/(n₀·n₁) in ppm — the probability
    a random arm-1 value exceeds a random arm-0 value (ties half-
    weighted).

    Same scale shape as the KS row: one hash aggregation onto the
    DISTINCT-cents grid, one value-domain-bounded window for the
    pooled cumulative counts (midrank×2 of a tie group = 2·cum_all −
    ties + 1), one final fold — no row-level ranking anywhere, so the
    O(n log n) sort a naive rank-sum needs never happens (the grid is
    bounded by the value domain, not the row count).  The midrank
    accumulation is BIGINT (2·R₁ ≤ 4n² caps it at ~1.5·10⁹ rows per
    arm — beyond, promote the c1·mid2 sum to DECIMAL(38,0)); the
    final ppm ratio is ALREADY DECIMAL(38,0)-promoted on both engines
    (10⁶·u2 would overflow BIGINT at just ~2·10⁶ rows/arm — the r11
    boundary test ``test_mwu_cles_ppm_exact_past_bigint`` pins the
    promoted form exact at and far beyond that point).  Arms with
    zero members yield no row (both engines) — there is no one-sample
    U.  Reference heritage: none (SURVEY §2 charter extension, events
    family)."""
    ensure_utc(spark)
    ev = load_table(spark, sf_dir, "events").select(
        (F.col("user_id") % 2).alias("g"),
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    grid = ev.groupBy("cents").agg(
        F.count(F.when(F.col("g") == 0, 1)).alias("c0"),
        F.count(F.when(F.col("g") == 1, 1)).alias("c1"),
    )
    w = Window.orderBy("cents").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    mid = grid.select(
        "c0",
        "c1",
        (
            2 * F.sum(F.col("c0") + F.col("c1")).over(w)
            - (F.col("c0") + F.col("c1"))
            + 1
        ).alias("mid2"),
    )
    agg = (
        mid.agg(
            F.sum("c0").cast("bigint").alias("n0"),
            F.sum("c1").cast("bigint").alias("n1"),
            F.sum(F.col("c1") * F.col("mid2")).cast("bigint").alias("r1x2"),
        )
        .where((F.col("n0") > 0) & (F.col("n1") > 0))
    )
    u2 = F.col("r1x2") - F.col("n1") * (F.col("n1") + 1)
    # the ppm product is promoted to DECIMAL(38,0) (the
    # ``bp_ratio_halfup`` device): u2 ≤ 2·n0·n1 ≈ 4.5e18 at the
    # BIGINT accumulation boundary, so 10⁶·u2 would blow 2⁶³ at just
    # ~2·10⁶ rows/arm if left BIGINT (found by the r11 boundary test;
    # both operands positive, so DuckDB's floor `//` = Spark's
    # truncating decimal `div`)
    return agg.withColumn("u2", u2.cast("bigint")).select(
        "n0",
        "n1",
        "u2",
        F.expr(
            "(1000000 * CAST(u2 AS DECIMAL(38,0)))"
            " div (2 * CAST(n0 AS DECIMAL(38,0)) * n1)"
        )
        .cast("bigint")
        .alias("cles_ppm"),
    )


#: CUSUM alarm threshold in integer cents (one-sided, upper): flag when
#: the cumulative positive drift of a series vs its own mean exceeds
#: this many cents.
_CUSUM_H_CENTS = 50_000


@query(
    "events_cusum_drift",
    oracle=f"""
    WITH cents AS (
      SELECT event_type, ts, event_id,
             CAST(round(value * 100) AS BIGINT) AS c
      FROM events
    ),
    mu AS (
      SELECT event_type,
             {_FLOOR_MU_DUCK} AS mu_c
      FROM cents GROUP BY event_type
    ),
    pre AS (
      SELECT c.event_type, c.ts, c.event_id, c.c - m.mu_c AS y
      FROM cents c JOIN mu m USING (event_type)
    ),
    prefix AS (
      SELECT event_type, ts, event_id,
             sum(y) OVER (PARTITION BY event_type ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS s
      FROM pre
    ),
    walk AS (
      SELECT event_type, s,
             least(0, min(s) OVER (PARTITION BY event_type
                          ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
               AS lo
      FROM prefix
    )
    SELECT event_type,
           CAST(max(s - lo) AS BIGINT)                    AS max_cusum_cents,
           CAST(sum(CASE WHEN s - lo > {_CUSUM_H_CENTS}
                         THEN 1 ELSE 0 END) AS BIGINT)    AS n_alarm_rows
    FROM walk GROUP BY event_type
    """,
)
def events_cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided CUSUM drift detection per event-type series (Page
    1954): the classic sequential changepoint statistic ``s_i =
    max(0, s_{{i-1}} + (x_i − μ))``, alarming when the accumulated
    upward drift exceeds a threshold — the monitoring layer that
    catches a slow mean shift ``events_seasonal_deviation``'s
    per-bucket z-scores can't see (each bucket looks individually
    normal; the drift only shows cumulatively).

    The implementation point: the ``max(0, ·)`` RECURSION is not a
    window aggregate, but it has an exact closed form — ``s_i = S_i −
    min(0, min_{{j≤i}} S_j)`` where ``S`` is the plain prefix sum of
    the deviations (resetting at zero is exactly "subtract the running
    minimum of the walk INCLUDING its empty-prefix baseline S₀ = 0" —
    dropping the 0 understates drift on any series whose walk starts
    positive; review r7s4 finding, pinned by the planted
    positive-start test).  That turns a seemingly
    inherently-sequential fold into TWO stock window aggregates over
    one (ts, event_id)-ordered frame — no applyInPandas, no recursion,
    and DuckDB verifies the identity with its own window engine.

    Integer cents throughout (per-series mean as floor-divided cents),
    so the walk is accumulation-order-exact on both engines.

    Scale: one hash exchange on event_type; the two windows share the
    single per-series sort.  Series count is the parallelism floor —
    at 100 TB you'd sub-split each series by epoch and stitch the
    per-epoch walks with the same prefix-sum trick
    (``pack_concat_chunks`` does exactly that two-pass composition).
    Reference heritage: none (SURVEY §2 charter extension)."""
    ensure_utc(spark)
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", "ts", "event_id",
        F.round(F.col("value") * 100).cast("bigint").alias("c"),
    )
    from mapreduceplusplus_spark.session import floor_div_sql

    mu = ev.groupBy("event_type").agg(
        # FLOOR-division mean, emitted for BOTH engines by the shared
        # helper (both dialects' integer division truncates toward
        # zero, so each side needs the explicit CASE)
        F.expr(floor_div_sql("sum(c)", "count(*)", "spark")).alias("mu_c")
    )
    # broadcast-safe: mu is one row per event type (|types| rows)
    pre = ev.join(F.broadcast(mu), "event_type").select(
        "event_type", "ts", "event_id", (F.col("c") - F.col("mu_c")).alias("y")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    prefix = pre.select(
        "event_type", "ts", "event_id", F.sum("y").over(w).alias("s")
    )
    walk = prefix.select(
        "event_type",
        "s",
        F.least(F.lit(0).cast("bigint"), F.min("s").over(w)).alias("lo"),
    )
    cusum = F.col("s") - F.col("lo")
    return walk.groupBy("event_type").agg(
        F.max(cusum).cast("bigint").alias("max_cusum_cents"),
        F.sum((cusum > _CUSUM_H_CENTS).cast("int"))
        .cast("bigint")
        .alias("n_alarm_rows"),
    )


@query(
    "ts_interval_sweepline",
    oracle="""
    WITH iv AS (
      SELECT CAST(l_shipdate AS DATE) AS s,
             CAST(l_shipdate AS DATE) + CAST((l_orderkey % 20) + 3 AS INTEGER)
               AS e
      FROM lineitem
    ),
    ev AS (
      SELECT s AS d, CAST(1 AS BIGINT) AS delta FROM iv
      UNION ALL
      SELECT e + 1, CAST(-1 AS BIGINT) FROM iv
    ),
    agg AS (SELECT d, sum(delta) AS delta FROM ev GROUP BY d)
    SELECT d,
           CAST(sum(delta) OVER (ORDER BY d
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS BIGINT) AS open_shipments
    FROM agg
    """,
)
def ts_interval_sweepline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-concurrency via the classic SWEEP LINE: how many
    shipments are simultaneously in transit on each day — +1 at ship,
    −1 the day after arrival, one rollup per date, one running sum.
    This is the "max concurrent sessions / open orders / active
    connections" question, answered without the quadratic
    interval-overlap self-join ``join_interval_overlap`` runs (that
    operator reports WHICH pairs overlap; sweep-line reports HOW MANY
    are open — O(n) events vs O(n²) candidate pairs).  Transit time is
    a deterministic synthetic duration ((l_orderkey mod 20)+3 days) —
    the fixture has no receipt date; the duration rule is fixture
    plumbing, the sweep is the operator.

    Intervals are CLOSED on both ends: the −1 lands on ``end + 1`` so
    an arrival day still counts as in-transit — the classic sweep-line
    off-by-one, pinned by the planted-fixture test.

    Scale shape — the reason this is safe despite an unpartitioned
    window: the ±1 deltas hash-aggregate BY DATE first (map-side
    combined), so the running sum sees |distinct days| rows (~2.5k
    here, ~10⁴ even for decades of data), not |lineitem| rows.  The
    cumulative window over a bounded date axis is constant work at ANY
    corpus size; only the delta rollup scales with data, and it is one
    exchange.  (For an UNBOUNDED axis — e.g. second-resolution sweeps
    — the two-pass bucket-census prefix sum of ``pack_concat_chunks``
    replaces the single window.)  Reference heritage: none (SURVEY §2
    charter extension, timeseries family)."""
    ensure_utc(spark)
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_shipdate").cast("date").alias("s"),
        F.date_add(
            F.col("l_shipdate").cast("date"),
            ((F.col("l_orderkey") % 20) + 3).cast("int"),
        ).alias("e"),
    )
    ev = li.select(F.col("s").alias("d"), F.lit(1).cast("bigint").alias("delta")).unionAll(
        li.select(F.date_add("e", 1).alias("d"), F.lit(-1).cast("bigint").alias("delta"))
    )
    agg = ev.groupBy("d").agg(F.sum("delta").alias("delta"))
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return agg.select(
        "d", F.sum("delta").over(w).cast("bigint").alias("open_shipments")
    )


#: PSI drift bins: integer value buckets of width 10 over events.value
#: (fixture domain ~0..500 → ≤ ~50 occupied bins); periods split at
#: mid-month.  Laplace +1 smoothing keeps empty bins finite — part of
#: the operator contract.
_PSI_BIN = 10


@query(
    "dq_distribution_psi",
    oracle=f"""
    WITH binned AS (
      SELECT CAST(floor(value / {_PSI_BIN}) AS BIGINT) AS bin,
             (day(ts) <= 15) AS early,
             count(*) AS n
      FROM events WHERE value >= 0
      GROUP BY 1, 2
    ),
    pivoted AS (
      SELECT bin,
             1 + coalesce(sum(CASE WHEN early THEN n END), 0)     AS a,
             1 + coalesce(sum(CASE WHEN NOT early THEN n END), 0) AS b
      FROM binned GROUP BY bin
    ),
    tot AS (SELECT sum(a) AS ta, sum(b) AS tb FROM pivoted)
    SELECT bin,
           CAST(a AS BIGINT) AS n_early,
           CAST(b AS BIGINT) AS n_late,
           CAST(floor(
             (CAST(a AS DOUBLE)/ta - CAST(b AS DOUBLE)/tb)
             * ln((CAST(a AS DOUBLE)*tb) / (CAST(b AS DOUBLE)*ta))
             * 1000000) AS BIGINT) AS psi_term_micro
    FROM pivoted, tot
    ORDER BY bin
    """,
)
def dq_distribution_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index terms — THE production drift monitor
    for a feature/score distribution (banking's model-monitoring
    standard): bin the value domain, compare early-month vs late-month
    bin shares, and emit each bin's PSI contribution
    ``(p−q)·ln(p/q)`` (total PSI = Σ terms; > 0.2 conventionally
    means 'distribution moved, retrain').  The cross-period
    comparison ``events_seasonal_deviation`` can't express (it
    compares a bucket to ITS OWN history; PSI compares two whole
    distributions bin-by-bin).

    Determinism plays the ``corpus_mixture_entropy`` game: counts are
    Laplace-smoothed integers (+1 — empty bins stay finite, part of
    the contract), each bin's term is ONE fixed double expression from
    integers (the log's argument is the exact integer ratio
    ``a·tb / (b·ta)``), floored to integer micro-units per bin — so
    the output is order-independent and the consumer's Σ of BIGINTs
    is exact.

    Scale: one map-side-combined (bin, period) rollup — the keyspace
    is |bins|·2 regardless of corpus size — then a ≤|bins|-row pivot
    and a 1-row total broadcast back.  Single scan, no wide shuffle.
    Reference heritage: none (SURVEY §2 charter extension, dq/drift
    family)."""
    ensure_utc(spark)
    ev = load_table(spark, sf_dir, "events").where(F.col("value") >= 0)
    binned = ev.groupBy(
        F.floor(F.col("value") / _PSI_BIN).cast("bigint").alias("bin"),
        (F.dayofmonth("ts") <= 15).alias("early"),
    ).agg(F.count("*").alias("n"))
    pivoted = binned.groupBy("bin").agg(
        (1 + F.coalesce(F.sum(F.when(F.col("early"), F.col("n"))), F.lit(0))).alias("a"),
        (
            1 + F.coalesce(F.sum(F.when(~F.col("early"), F.col("n"))), F.lit(0))
        ).alias("b"),
    )
    tot = pivoted.agg(F.sum("a").alias("ta"), F.sum("b").alias("tb"))
    ad, bd = F.col("a").cast("double"), F.col("b").cast("double")
    term = (
        (ad / F.col("ta") - bd / F.col("tb"))
        * F.log((ad * F.col("tb")) / (bd * F.col("ta")))
        * 1000000
    )
    # broadcast-safe: tot is a 1-row scalar pair
    return (
        pivoted.crossJoin(F.broadcast(tot))
        .select(
            "bin",
            F.col("a").cast("bigint").alias("n_early"),
            F.col("b").cast("bigint").alias("n_late"),
            F.floor(term).cast("bigint").alias("psi_term_micro"),
        )
        .orderBy("bin")
    )


@query(
    "events_ab_srm_check",
    oracle="""
    WITH units AS (
      SELECT DISTINCT user_id,
             CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS variant
      FROM events
    ),
    counts AS (
      SELECT count(*) AS n,
             sum(CASE WHEN variant = 'A' THEN 1 ELSE 0 END) AS na,
             sum(CASE WHEN variant = 'B' THEN 1 ELSE 0 END) AS nb
      FROM units
    )
    SELECT CAST(n AS BIGINT)  AS n_units,
           CAST(na AS BIGINT) AS n_a,
           CAST(nb AS BIGINT) AS n_b,
           CAST((na - nb) * (na - nb) * 1000000 // n AS BIGINT)
                              AS chi2_micro,
           ((na - nb) * (na - nb) * 1000 > 3841 * n) AS srm_flag
    FROM counts
    """,
)
def events_ab_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch guardrail for the A/B readout — THE
    standard validity check experimentation platforms run before
    trusting ``events_ab_lift``: under a 50/50 hash assignment the
    unit counts must be statistically even; a skewed split means the
    assignment or logging is broken and every downstream metric is
    biased.  For a two-cell 50/50 design the chi-square statistic
    collapses to ``(n_A − n_B)² / n``, compared against the 95%
    critical value 3.841 — evaluated with CROSS-MULTIPLIED integers
    (``(Δ)²·1000 > 3841·n``), so the flag cannot flip on float
    rounding; the statistic itself ships in integer micro-units.

    Scale: one DISTINCT-user collapse (map-side combined on user_id —
    the same unit-of-analysis reduction as ``events_ab_lift``) then a
    1-row reduction.  Reference heritage: none (SURVEY §2 charter
    extension, experimentation family)."""
    ensure_utc(spark)
    ev = load_table(spark, sf_dir, "events")
    units = ev.select("user_id").distinct().select(
        F.when(F.col("user_id") % 2 == 0, "A").otherwise("B").alias("variant")
    )
    counts = units.agg(
        F.count("*").alias("n"),
        F.sum(F.when(F.col("variant") == "A", 1).otherwise(0)).alias("na"),
        F.sum(F.when(F.col("variant") == "B", 1).otherwise(0)).alias("nb"),
    )
    d2 = (F.col("na") - F.col("nb")) * (F.col("na") - F.col("nb"))
    return counts.select(
        F.col("n").cast("bigint").alias("n_units"),
        F.col("na").cast("bigint").alias("n_a"),
        F.col("nb").cast("bigint").alias("n_b"),
        F.expr("((na - nb) * (na - nb)) * 1000000 div n")
        .cast("bigint")
        .alias("chi2_micro"),
        (d2 * 1000 > 3841 * F.col("n")).alias("srm_flag"),
    )


#: CUPED pre/post experiment cutoff over the fixture's 2024-01 window
CUPED_CUTOFF = "2024-01-16 00:00:00"


@query(
    "events_ab_cuped",
    oracle=f"""
    WITH per_user AS (
      SELECT user_id,
             user_id % 2 AS arm,
             sum(CASE WHEN ts <  TIMESTAMP '{CUPED_CUTOFF}'
                      THEN CAST(round(value * 100) AS BIGINT) END) AS x,
             sum(CASE WHEN ts >= TIMESTAMP '{CUPED_CUTOFF}'
                      THEN CAST(round(value * 100) AS BIGINT) END) AS y
      FROM events
      GROUP BY user_id
      HAVING x IS NOT NULL AND y IS NOT NULL
    ),
    pooled AS (
      SELECT count(*)                                   AS n,
             sum(x)                                     AS sx,
             sum(y)                                     AS sy,
             sum(CAST(x AS DECIMAL(38,0)) * x)          AS sxx,
             sum(CAST(x AS DECIMAL(38,0)) * y)          AS sxy
      FROM per_user
    ),
    theta AS (
      SELECT n, sx,
             CASE WHEN CAST(n AS DECIMAL(38,0)) * sxx - CAST(sx AS DECIMAL(38,0)) * sx = 0
                  THEN 0.0
                  ELSE CAST(CAST(n AS DECIMAL(38,0)) * sxy
                            - CAST(sx AS DECIMAL(38,0)) * sy AS DOUBLE)
                       / CAST(CAST(n AS DECIMAL(38,0)) * sxx
                              - CAST(sx AS DECIMAL(38,0)) * sx AS DOUBLE)
             END AS th
      FROM pooled
    )
    SELECT a.arm,
           CAST(a.n_users AS BIGINT)                        AS n_users,
           round(CAST(a.sy_a AS DOUBLE) / a.n_users, 4)     AS mean_post_cents,
           round((CAST(a.sy_a AS DOUBLE)
                  - t.th * (CAST(a.sx_a AS DOUBLE)
                            - a.n_users * (CAST(t.sx AS DOUBLE) / t.n)))
                 / a.n_users, 4)                            AS mean_cuped_cents,
           round(t.th, 6)                                   AS theta
    FROM (SELECT arm, count(*) AS n_users, sum(x) AS sx_a, sum(y) AS sy_a
          FROM per_user GROUP BY arm) a
    CROSS JOIN theta t
    """,
)
def events_ab_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction (Deng, Xu, Kohavi & Walker, "Improving
    the Sensitivity of Online Controlled Experiments", WSDM'13) — the
    standard experimentation-platform readout that adjusts each unit's
    post-period metric by its own PRE-period behavior:
    ``ŷ = y − θ·(x − x̄)`` with pooled ``θ = cov(x,y)/var(x)``, shrinking
    metric variance by the pre/post correlation² without biasing the
    treatment contrast (pre-period behavior is independent of
    assignment).  Units are users, the metric is spend in cents, the
    pre/post split is a fixed calendar cutoff, and only users active
    in BOTH periods enter (the covariate is undefined otherwise — the
    mean-imputation variant is a contract choice this row does not
    make).

    Engine-exactness: every Σ is an exact integer (cents, DECIMAL(38)
    quadratic moments — the ``agg_linear_trend`` overflow discipline),
    and θ / x̄ / the adjusted means are derived from those scalars in
    ONE structurally-identical IEEE expression per engine — no per-row
    float accumulation anywhere, so partitioning cannot move a bit.
    The adjusted mean itself is computed from the ARM-LEVEL sums
    (Σŷ = Σy − θ·(Σx − n·x̄)), never by materializing per-user
    adjusted values.

    Scale: one user-keyed aggregate over events (map-side combined,
    conditional on the cutoff — a single scan covers both periods),
    one 1-row pooled-moment reduce, one 2-row arm rollup; θ broadcasts
    back as a scalar.  Reference heritage: none (SURVEY §2 charter
    extension, experimentation family)."""
    ensure_utc(spark)
    ev = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("bigint")
    cut = F.lit(CUPED_CUTOFF).cast("timestamp")
    per_user = (
        ev.groupBy("user_id")
        .agg(
            F.sum(F.when(F.col("ts") < cut, cents)).alias("x"),
            F.sum(F.when(F.col("ts") >= cut, cents)).alias("y"),
        )
        .where(F.col("x").isNotNull() & F.col("y").isNotNull())
        .select((F.col("user_id") % 2).alias("arm"), "x", "y")
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    pooled = per_user.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(dec("x") * F.col("x")).alias("sxx"),
        F.sum(dec("x") * F.col("y")).alias("sxy"),
    )
    theta = pooled.select(
        "n",
        "sx",
        F.when(
            dec("n") * F.col("sxx") - dec("sx") * F.col("sx") == 0, F.lit(0.0)
        )
        .otherwise(
            (dec("n") * F.col("sxy") - dec("sx") * F.col("sy")).cast("double")
            / (dec("n") * F.col("sxx") - dec("sx") * F.col("sx")).cast(
                "double"
            )
        )
        .alias("th"),
    )
    arms = per_user.groupBy("arm").agg(
        F.count("*").alias("n_users"),
        F.sum("x").alias("sx_a"),
        F.sum("y").alias("sy_a"),
    )
    # broadcast-safe: theta is a 1-row scalar reduce
    return arms.crossJoin(F.broadcast(theta)).select(
        "arm",
        F.col("n_users").cast("bigint").alias("n_users"),
        F.round(F.col("sy_a").cast("double") / F.col("n_users"), 4).alias(
            "mean_post_cents"
        ),
        F.round(
            (
                F.col("sy_a").cast("double")
                - F.col("th")
                * (
                    F.col("sx_a").cast("double")
                    - F.col("n_users")
                    * (F.col("sx").cast("double") / F.col("n"))
                )
            )
            / F.col("n_users"),
            4,
        ).alias("mean_cuped_cents"),
        F.round("th", 6).alias("theta"),
    )


#: inactivity horizon in DAYS: a user whose last event is more than
#: this long before the corpus end is CHURNED (event); later =
#: censored.  1 day on the dense fixture (events every ~11 h per
#: user, so a full quiet day IS churn there; ~17 of 150 users churn
#: at the oracle scale — the 7-day horizon a sparse production corpus
#: would use leaves this fixture with zero events).  Lifetimes are in
#: HOURS (epoch-second arithmetic, identical integers in both
#: engines) so the curve has real resolution.
KM_CHURN_DAYS = 1


@query(
    "events_survival_km",
    oracle=f"""
    WITH se AS (
      SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS es FROM events
    ),
    users AS (
      SELECT user_id,
             (max(es) - min(es)) // 3600 AS dur,
             CASE WHEN max(es) <= (SELECT max(es) FROM se)
                                  - {KM_CHURN_DAYS} * 86400
                  THEN 1 ELSE 0 END AS event
      FROM se GROUP BY user_id
    ),
    hist AS (SELECT dur, count(*) AS m FROM users GROUP BY dur),
    risk AS (
      SELECT dur, sum(m) OVER (ORDER BY dur DESC
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS n_risk
      FROM hist
    ),
    times AS (
      SELECT dur AS t, count(*) AS d FROM users WHERE event = 1 GROUP BY dur
    ),
    steps AS (
      SELECT t, d, r.n_risk,
             CASE WHEN r.n_risk = d THEN NULL
                  ELSE CAST(floor(ln(CAST(r.n_risk - d AS DOUBLE)) * 1000000)
                            AS BIGINT)
                       - CAST(floor(ln(CAST(r.n_risk AS DOUBLE)) * 1000000)
                              AS BIGINT)
             END AS step_micro
      FROM times JOIN risk r ON r.dur = t
    )
    SELECT CAST(t AS BIGINT)       AS t_hours,
           CAST(n_risk AS BIGINT)  AS n_risk,
           CAST(d AS BIGINT)       AS n_events,
           CAST(sum(step_micro) OVER (ORDER BY t
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW) AS BIGINT)
                                   AS logs_micro,
           CASE WHEN sum(CASE WHEN step_micro IS NULL THEN 1 ELSE 0 END)
                     OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) > 0
                THEN 0.0
                ELSE round(exp(CAST(sum(step_micro) OVER (ORDER BY t
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                         AS DOUBLE) / 1000000), 4)
           END                     AS survival
    FROM steps
    """,
)
def events_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier churn survival curve with right-censoring — the
    survival-analysis member of the events family (retention cohorts
    measure WHO came back per period; KM estimates the probability of
    SURVIVING past each lifetime, correctly using users who have not
    churned yet instead of dropping them): per user, lifetime = HOURS
    between first and last event (epoch-second integers); CHURN (the event) if the user went
    quiet more than ``KM_CHURN_DAYS`` before the corpus end, else the
    observation is censored at its lifetime.  ``S(t) = Π_{{u≤t}}
    (1 − d_u/n_u)`` over event times, ``n_u`` = users still at risk.

    Engine-exactness: the product is carried in LOG space with the
    quantized-ln device — each step is an exact BIGINT
    (``qln(n−d) − qln(n)``), the running Π is a window SUM of
    integers, and the float ``exp`` happens once per output row from
    an identical integer.  A risk set that churns out entirely
    (``n = d``) makes S exactly 0 from that time on (log undefined) —
    surfaced as NULL ``logs_micro`` + 0.0 survival in BOTH engines
    rather than an engine-specific ``ln(0)`` behavior (Spark NULL vs
    DuckDB −inf — a real divergence the CASE removes).

    Scale: one user-keyed aggregate over events, then everything
    downstream operates on the DISTINCT-LIFETIME relation (≤ observed
    days, bounded by the time window, not by users) — the reverse
    cumulative risk census and the log-sum windows run over that tiny
    relation, so the global unpartitioned windows are safe by
    cardinality (the ``census_offsets_literal`` argument).  Reference
    heritage: none (SURVEY §2 charter extension, events family)."""
    ensure_utc(spark)
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.unix_timestamp("ts").alias("es")
    )
    users = (
        ev.groupBy("user_id")
        .agg(F.min("es").alias("first_s"), F.max("es").alias("last_s"))
        # broadcast-safe: corpus-end is a 1-row scalar aggregate
        .crossJoin(F.broadcast(ev.agg(F.max("es").alias("end_s"))))
        .select(
            F.expr("(last_s - first_s) div 3600").alias("dur"),
            F.when(
                F.col("last_s")
                <= F.col("end_s") - KM_CHURN_DAYS * 86400,
                1,
            )
            .otherwise(0)
            .alias("event"),
        )
    )
    hist = users.groupBy("dur").agg(F.count("*").alias("m"))
    w_desc = Window.orderBy(F.col("dur").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    risk = hist.select("dur", F.sum("m").over(w_desc).alias("n_risk"))
    times = (
        users.where(F.col("event") == 1)
        .groupBy(F.col("dur").alias("t"))
        .agg(F.count("*").alias("d"))
    )

    from mapreduceplusplus_spark.session import qln_micro as _qln

    steps = times.join(risk, times["t"] == risk["dur"]).select(
        "t",
        "d",
        "n_risk",
        F.when(F.col("n_risk") == F.col("d"), F.lit(None))
        .otherwise(
            _qln(F.col("n_risk") - F.col("d")) - _qln(F.col("n_risk"))
        )
        .alias("step_micro"),
    )
    w_asc = Window.orderBy("t").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    dead = F.sum(
        F.when(F.col("step_micro").isNull(), 1).otherwise(0)
    ).over(w_asc)
    logs = F.sum("step_micro").over(w_asc)
    return steps.select(
        F.col("t").cast("bigint").alias("t_hours"),
        F.col("n_risk").cast("bigint").alias("n_risk"),
        F.col("d").cast("bigint").alias("n_events"),
        logs.cast("bigint").alias("logs_micro"),
        F.when(dead > 0, F.lit(0.0))
        .otherwise(F.round(F.exp(logs.cast("double") / 1000000), 4))
        .alias("survival"),
    )


@query(
    "events_ab_chi2_conversion",
    oracle="""
    WITH u AS (
      SELECT user_id,
             CAST(user_id % 2 AS BIGINT) AS g,
             CASE WHEN sum(CASE WHEN event_type = 'purchase'
                                THEN 1 ELSE 0 END) >= 8
                  THEN 1 ELSE 0 END AS conv
      FROM events GROUP BY user_id
    ),
    t AS (
      SELECT CAST(sum(CASE WHEN g = 0 AND conv = 1 THEN 1 ELSE 0 END)
                  AS HUGEINT) AS a,
             CAST(sum(CASE WHEN g = 0 AND conv = 0 THEN 1 ELSE 0 END)
                  AS HUGEINT) AS b,
             CAST(sum(CASE WHEN g = 1 AND conv = 1 THEN 1 ELSE 0 END)
                  AS HUGEINT) AS c,
             CAST(sum(CASE WHEN g = 1 AND conv = 0 THEN 1 ELSE 0 END)
                  AS HUGEINT) AS d
      FROM u
    )
    SELECT CAST(a AS BIGINT) AS conv_a,
           CAST(b AS BIGINT) AS nonconv_a,
           CAST(c AS BIGINT) AS conv_b,
           CAST(d AS BIGINT) AS nonconv_b,
           CAST((1000 * (a + b + c + d) * (a*d - b*c) * (a*d - b*c))
                // ((a + b) * (c + d) * (a + c) * (b + d))
                AS BIGINT)                                 AS chi2_milli,
           (1000 * (a + b + c + d) * (a*d - b*c) * (a*d - b*c)
              > 3841 * (a + b) * (c + d) * (a + c) * (b + d))
                                                           AS significant
    FROM t
    WHERE (a + b) > 0 AND (c + d) > 0 AND (a + c) > 0 AND (b + d) > 0
    """,
)
def events_ab_chi2_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square test of INDEPENDENCE on the 2×2
    (arm × converted) table — the categorical-outcome significance
    readout that completes the experimentation family next to
    ``events_ab_srm_check`` (which chi-squares the ASSIGNMENT counts,
    not the outcome): is the conversion difference between arms
    larger than chance?  Same unit-of-analysis discipline as
    ``events_ab_lift``: users collapse to one converted-indicator row
    before any counting.  The outcome is the HEAVY-BUYER indicator
    (≥ 8 purchase events) rather than any-purchase, because on this
    fixture every user purchases at least once — the any-purchase
    2×2 has an empty non-converted margin and χ² is undefined there.

    Engine-exactness: the closed form χ² = n·(ad−bc)²/((a+b)(c+d)
    (a+c)(b+d)) is a ratio of INTEGER products, so the milli-χ²
    statistic is one exact floor division (DECIMAL(38,0) Spark-side /
    HUGEINT oracle-side — the ``cles_ppm`` pairing) and the 95%
    significance flag (critical value 3.841, df=1) is a CROSS-
    MULTIPLIED integer compare that cannot flip on float rounding.
    Magnitude cap, documented like the MWU row: the numerator
    1000·n·(ad−bc)² reaches ~62·n⁵ at the worst-case margins, so
    DECIMAL(38,0)/HUGEINT hold it exactly to ~1.5·10⁷ units TOTAL
    (~7·10⁶ per arm) — beyond that, divide (ad−bc)² by two of the row
    margins first (two floor divisions, one ulp of the statistic,
    flag unaffected).  Degenerate margins
    (an empty arm or all/no conversions) emit NO row on both engines
    — χ² is undefined there.

    Scale: one map-side-combined user collapse, then a 1-row fold —
    identical shape to ``events_ab_lift``.  Reference heritage: none
    (SURVEY §2 charter extension, experimentation family)."""
    ensure_utc(spark)
    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.when(
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            )
            >= 8,
            1,
        )
        .otherwise(0)
        .alias("conv")
    ).select((F.col("user_id") % 2).alias("g"), "conv")
    t = u.agg(
        F.sum(F.when((F.col("g") == 0) & (F.col("conv") == 1), 1).otherwise(0))
        .cast("bigint")
        .alias("a"),
        F.sum(F.when((F.col("g") == 0) & (F.col("conv") == 0), 1).otherwise(0))
        .cast("bigint")
        .alias("b"),
        F.sum(F.when((F.col("g") == 1) & (F.col("conv") == 1), 1).otherwise(0))
        .cast("bigint")
        .alias("c"),
        F.sum(F.when((F.col("g") == 1) & (F.col("conv") == 0), 1).otherwise(0))
        .cast("bigint")
        .alias("d"),
    )
    num = (
        "1000 * CAST(a + b + c + d AS DECIMAL(38,0))"
        " * (CAST(a AS DECIMAL(38,0)) * d - CAST(b AS DECIMAL(38,0)) * c)"
        " * (CAST(a AS DECIMAL(38,0)) * d - CAST(b AS DECIMAL(38,0)) * c)"
    )
    den = (
        "CAST(a + b AS DECIMAL(38,0)) * (c + d)"
        " * CAST(a + c AS DECIMAL(38,0)) * (b + d)"
    )
    return (
        t.where(
            (F.col("a") + F.col("b") > 0)
            & (F.col("c") + F.col("d") > 0)
            & (F.col("a") + F.col("c") > 0)
            & (F.col("b") + F.col("d") > 0)
        )
        .select(
            F.col("a").alias("conv_a"),
            F.col("b").alias("nonconv_a"),
            F.col("c").alias("conv_b"),
            F.col("d").alias("nonconv_b"),
            F.expr(f"CAST(({num}) div ({den}) AS BIGINT)").alias(
                "chi2_milli"
            ),
            F.expr(f"({num}) > 3841 * ({den})").alias("significant"),
        )
    )


@query(
    "events_ab_winsorized_means",
    oracle="""
    WITH ev AS (
      SELECT user_id % 2 AS g, CAST(round(value * 100) AS BIGINT) AS cents
      FROM events
    ),
    grid AS (
      SELECT cents, count(*) AS c FROM ev GROUP BY cents
    ),
    tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM grid),
    cum AS (
      SELECT cents,
             sum(c) OVER (ORDER BY cents
                          ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND CURRENT ROW) AS cumall
      FROM grid
    ),
    cut AS (
      SELECT CAST(min(cents) AS BIGINT) AS cutoff
      FROM cum, tot WHERE 100 * cumall >= 95 * n
    ),
    arm AS (
      SELECT g, count(*) AS n_g, cutoff,
             CAST(sum(least(cents, cutoff)) AS BIGINT) AS wins_sum,
             CAST(sum(cents) AS BIGINT) AS raw_sum
      FROM ev, cut GROUP BY g, cutoff
    )
    SELECT CAST(g AS BIGINT) AS arm,
           CAST(n_g AS BIGINT) AS n,
           cutoff AS cutoff_cents,
           CAST(1000 * wins_sum // n_g AS BIGINT) AS wins_mean_milli,
           CAST(1000 * raw_sum // n_g AS BIGINT)  AS raw_mean_milli
    FROM arm
    """,
)
def events_ab_winsorized_means(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized per-arm metric readout — the heavy-tail guardrail
    experimentation platforms apply before trusting a mean lift: cap
    every observation at the POOLED 95th-percentile value (one shared
    cutoff, so the cap cannot itself favor an arm), then report each
    arm's winsorized and raw means side by side (a large gap = the
    raw lift is whale-driven).

    The percentile is EXACT, not approximate, via the same
    distinct-cents-grid device as ``events_ab_ks_test``/``_mannwhitney``:
    one hash aggregation onto the value grid, one value-domain-bounded
    cumulative window, and the cutoff is the smallest cents value
    whose pooled cumulative count clears the CROSS-MULTIPLIED integer
    bound ``100·cum ≥ 95·n`` (no float quantile, no row-level sort —
    the O(n log n) pooled sort never happens).  Means ship as
    milli-cents BIGINT floor divisions.  Empty input emits no rows on
    both engines (the cutoff CTE is empty).  Scale: grid size is
    bounded by the VALUE DOMAIN, not the row count; everything else is
    map-side.  Reference heritage: none (SURVEY §2 charter extension,
    experimentation family)."""
    ensure_utc(spark)
    ev = load_table(spark, sf_dir, "events").select(
        (F.col("user_id") % 2).alias("g"),
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    grid = ev.groupBy("cents").agg(F.count("*").alias("c"))
    tot = grid.agg(F.sum("c").cast("bigint").alias("n"))
    w = Window.orderBy("cents").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = grid.select("cents", F.sum("c").over(w).alias("cumall"))
    cut = (
        # broadcast-safe: tot is a 1-row global aggregate
        cum.crossJoin(F.broadcast(tot))
        .where(100 * F.col("cumall") >= 95 * F.col("n"))
        .agg(F.min("cents").cast("bigint").alias("cutoff"))
        .where(F.col("cutoff").isNotNull())
    )
    arm = (
        # broadcast-safe: cut is a ≤1-row scalar cutoff
        ev.crossJoin(F.broadcast(cut))
        .groupBy("g", "cutoff")
        .agg(
            F.count("*").alias("n_g"),
            F.sum(F.least(F.col("cents"), F.col("cutoff")))
            .cast("bigint")
            .alias("wins_sum"),
            F.sum("cents").cast("bigint").alias("raw_sum"),
        )
    )
    # value >= 0 on this table, so both mean sums are nonnegative and
    # DuckDB's floor // equals Spark's truncating div (the MWU
    # convention; a signed metric would need the DECIMAL promotion +
    # floor alignment instead)
    return arm.select(
        F.col("g").cast("bigint").alias("arm"),
        F.col("n_g").cast("bigint").alias("n"),
        F.col("cutoff").alias("cutoff_cents"),
        F.expr("1000 * wins_sum div n_g").cast("bigint").alias(
            "wins_mean_milli"
        ),
        F.expr("1000 * raw_sum div n_g").cast("bigint").alias(
            "raw_mean_milli"
        ),
    )


#: path mining: each user's first PATH_LEN events, top PATH_TOPK paths
_PATH_LEN = 4
_PATH_TOPK = 20


@query(
    "events_common_paths",
    oracle=f"""
    WITH ranked AS (
      SELECT user_id, event_type,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events
    ),
    paths AS (
      SELECT user_id,
             string_agg(event_type, '>' ORDER BY rn) AS path,
             count(*) AS path_len
      FROM ranked WHERE rn <= {_PATH_LEN}
      GROUP BY user_id
    )
    SELECT path,
           CAST(path_len AS BIGINT) AS path_len,
           CAST(count(*) AS BIGINT) AS n_users
    FROM paths
    GROUP BY path, path_len
    ORDER BY n_users DESC, path
    LIMIT {_PATH_TOPK}
    """,
)
def events_common_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clickstream PATH MINING — the most common opening sequences
    (each user's first {_PATH_LEN} events joined into a path string),
    the onboarding-funnel readout that sits one level above
    ``events_top_transitions``' pairwise Markov matrix: transitions
    say what follows X; paths say which whole openings dominate.

    Determinism: the per-user ordering is (ts, event_id) — the
    module's standard total order — and the path string is assembled
    from a ``sort_array`` of (rn, type) structs, NOT from
    ``collect_list``'s arrival order (which is partitioning-dependent;
    the one wrong way to write this).  Top-{_PATH_TOPK} with the full
    (count, path) tiebreak.

    Plan: one user_id window (the single data-sized shuffle, shared
    shape with every sessionize row) → WindowGroupLimit keeps ≤
    {_PATH_LEN} rows per user before the exchange → per-user hash agg
    assembles the path → |paths|-sized count agg → TakeOrdered.  At
    100 TB the path-count relation is tiny (|types|^{_PATH_LEN} keys
    max, Zipf-concentrated in practice).  Reference heritage: none
    (SURVEY §2 charter extension, events family)."""
    ensure_utc(spark)
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ranked = ev.withColumn("rn", F.row_number().over(w)).where(
        F.col("rn") <= _PATH_LEN
    )
    paths = ranked.groupBy("user_id").agg(
        F.array_join(
            F.transform(
                F.sort_array(
                    F.collect_list(F.struct("rn", "event_type"))
                ),
                lambda s: s["event_type"],
            ),
            ">",
        ).alias("path"),
        F.count("*").alias("path_len"),
    )
    return (
        paths.groupBy("path", F.col("path_len").cast("bigint").alias("path_len"))
        .agg(F.count("*").cast("bigint").alias("n_users"))
        .orderBy(F.col("n_users").desc(), "path")
        .limit(_PATH_TOPK)
    )


@query(
    "dq_outlier_mad",
    oracle="""
    WITH x AS (
      SELECT event_type,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS x_c
      FROM events
    ),
    med AS (
      SELECT event_type,
             CAST(2 * quantile_cont(x_c, 0.5) AS BIGINT) AS med2
      FROM x GROUP BY event_type
    ),
    dev AS (
      SELECT x.event_type, x_c, med2,
             abs(2 * x_c - med2) AS dev2
      FROM x JOIN med USING (event_type)
    ),
    mad AS (
      SELECT event_type,
             CAST(2 * quantile_cont(dev2, 0.5) AS BIGINT) AS mad4
      FROM dev GROUP BY event_type
    )
    SELECT d.event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(max(d.med2) AS BIGINT) AS med2_cents,
           CAST(max(m.mad4) AS BIGINT) AS mad4_cents,
           CAST(count(CASE WHEN 2 * d.dev2 > 3 * m.mad4 THEN 1 END)
                AS BIGINT) AS n_outliers,
           CAST(count(CASE WHEN 2 * d.dev2 > 3 * m.mad4 THEN 1 END)
                * 1000000 // count(*) AS BIGINT) AS outlier_ppm
    FROM dev d JOIN mad m USING (event_type)
    GROUP BY d.event_type
    """,
)
def dq_outlier_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROBUST outlier accounting by median absolute deviation — the
    data-quality complement of ``window_anomaly_zscore``: mean/stddev
    are themselves dragged by the outliers they are supposed to find
    (masking), while median/MAD have a 50% breakdown point, so this is
    the gate a billing/metrics pipeline actually wants on heavy-tailed
    value columns.  Flags ``|x − median| > 3·MAD`` per event type.

    Exactness device — DOUBLED integer units: values quantize to cents
    (``floor(100x + 0.5)``, identical on both engines), and every
    interpolated median of integers lands on .0/.5, so TWICE the
    median is an exact integer (the interpolation arithmetic
    ``(a+b)/2`` is bit-exact in doubles below 2⁵³).  Reporting
    ``med2 = 2·median`` and ``mad4 = 2·MAD(2·dev)`` keeps every
    comparison (``2·dev2 > 3·mad4``) pure BIGINT — no float threshold
    anywhere, which is what makes a two-stage nested median
    differential-checkable at all.

    Plan: per-type median (one sort-based agg per group — the exact
    path; at 100 TB swap ``percentile_approx``/KLL, same shape as
    ``agg_median`` documents) → deviations via broadcast-sized
    |types|-row join → per-type MAD → one conditional rollup.  The
    ``dev`` frame feeds both the MAD agg and the final census —
    truncated once.  Reference heritage: none (SURVEY §2
    charter extension, dq family)."""
    ensure_utc(spark)
    x = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").alias("x_c"),
    )
    med = x.groupBy("event_type").agg(
        F.expr("CAST(2 * percentile(x_c, 0.5) AS BIGINT)").alias("med2")
    )
    # broadcast-safe: med is |event types| rows (domain-bounded)
    dev = truncate(
        x.join(F.broadcast(med), "event_type")
        .withColumn("dev2", F.abs(2 * F.col("x_c") - F.col("med2")))
    )
    mad = dev.groupBy("event_type").agg(
        F.expr("CAST(2 * percentile(dev2, 0.5) AS BIGINT)").alias("mad4")
    )
    # broadcast-safe: mad is |event types| rows (domain-bounded)
    out = F.when(2 * F.col("dev2") > 3 * F.col("mad4"), 1)
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.max("med2").cast("bigint").alias("med2_cents"),
            F.max("mad4").cast("bigint").alias("mad4_cents"),
            F.count(out).cast("bigint").alias("n_outliers"),
            F.expr(
                "CAST(count(CASE WHEN 2 * dev2 > 3 * mad4 THEN 1 END)"
                " * 1000000 div count(*) AS BIGINT)"
            ).alias("outlier_ppm"),
        )
    )


#: DiD pre/post cutover — mid-span of the fixture's event month
_DID_CUTOFF = "2024-01-16"


@query(
    "events_did_estimator",
    oracle=f"""
    WITH x AS (
      SELECT user_id % 2 AS treat,
             CASE WHEN CAST(ts AS DATE) >= DATE '{_DID_CUTOFF}'
                  THEN 1 ELSE 0 END AS post,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events
    ),
    cells AS (
      SELECT treat, post,
             count(*) AS n,
             CAST({floor_div_sql('1000000 * sum(cents)', 'count(*)', 'duckdb')} AS BIGINT) AS mean_micro
      FROM x GROUP BY treat, post
    ),
    wide AS (
      SELECT
        max(CASE WHEN treat = 1 AND post = 0 THEN n END) AS n_t_pre,
        max(CASE WHEN treat = 1 AND post = 1 THEN n END) AS n_t_post,
        max(CASE WHEN treat = 0 AND post = 0 THEN n END) AS n_c_pre,
        max(CASE WHEN treat = 0 AND post = 1 THEN n END) AS n_c_post,
        max(CASE WHEN treat = 1 AND post = 0 THEN mean_micro END) AS m_t_pre,
        max(CASE WHEN treat = 1 AND post = 1 THEN mean_micro END) AS m_t_post,
        max(CASE WHEN treat = 0 AND post = 0 THEN mean_micro END) AS m_c_pre,
        max(CASE WHEN treat = 0 AND post = 1 THEN mean_micro END) AS m_c_post
      FROM cells
    )
    SELECT CAST(n_t_pre AS BIGINT) AS n_t_pre,
           CAST(n_t_post AS BIGINT) AS n_t_post,
           CAST(n_c_pre AS BIGINT) AS n_c_pre,
           CAST(n_c_post AS BIGINT) AS n_c_post,
           m_t_pre, m_t_post, m_c_pre, m_c_post,
           (m_t_post - m_t_pre) - (m_c_post - m_c_pre) AS did_micro_cents
    FROM wide
    WHERE n_t_pre IS NOT NULL AND n_t_post IS NOT NULL
      AND n_c_pre IS NOT NULL AND n_c_post IS NOT NULL
    """,
)
def events_did_estimator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DIFFERENCE-IN-DIFFERENCES — the quasi-experimental estimator
    for when you could NOT randomize (feature rollouts by geography,
    pricing changes, infra migrations): compare the treated group's
    pre→post outcome change against the control group's, so any shared
    time trend cancels and what remains is the treatment effect under
    the parallel-trends assumption.  Completes the experimentation
    family next to the randomized-ab rows (lift/CUPED/SRM): same arms
    (``user_id mod 2``), pre/post split at {_DID_CUTOFF} (fixture
    mid-span).

    Exactness: outcomes quantize to cents (the ``events_ab_ks_test``
    device); each of the four cell means is ``⌊10⁶·Σcents/n⌋`` via the
    SHARED ``floor_div_sql`` device (a legally-negative Σcents floors,
    not truncates — ADVICE r13), products through DECIMAL(38,0) /
    HUGEINT, and the
    DiD estimate is pure BIGINT subtraction of the quantized means —
    the quantized-mean contract IS the operator spec, ±1 µ-cent
    per-cell quantization documented.  All-four-cells-present guard →
    0 rows on an empty/one-sided corpus, identically on both engines.

    Plan: ONE scan → map-side (treat, post, cents) → 4-group hash agg
    → 1-row conditional pivot.  Nothing shuffles but the 4-row cell
    relation; at 100 TB this is a pure scan-bound estimator.
    Reference heritage: none (SURVEY §2 charter extension, events/
    experimentation family)."""
    ensure_utc(spark)
    x = load_table(spark, sf_dir, "events").select(
        (F.col("user_id") % 2).alias("treat"),
        F.when(
            F.col("ts").cast("date") >= F.lit(_DID_CUTOFF).cast("date"), 1
        )
        .otherwise(0)
        .alias("post"),
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
    )
    cells = x.groupBy("treat", "post").agg(
        F.count("*").alias("n"),
        # floor contract + width discipline (ADVICE r13): the quotient
        # goes through the SHARED floor_div_sql device (negative event
        # values would otherwise truncate toward zero on both engines,
        # silently violating the documented floor), and the 10⁶·Σcents
        # product through DECIMAL(38,0) — Spark's BIGINT product wraps
        # at extreme scale while DuckDB's sum is already HUGEINT
        F.expr(
            "CAST("
            + floor_div_sql(
                "CAST(1000000 AS DECIMAL(38,0)) * sum(cents)",
                "count(*)",
                "spark",
            )
            + " AS BIGINT)"
        ).alias("mean_micro"),
    )

    def cell(t: int, p: int, col: str):
        return F.max(
            F.when((F.col("treat") == t) & (F.col("post") == p), F.col(col))
        )

    wide = cells.agg(
        cell(1, 0, "n").alias("n_t_pre"),
        cell(1, 1, "n").alias("n_t_post"),
        cell(0, 0, "n").alias("n_c_pre"),
        cell(0, 1, "n").alias("n_c_post"),
        cell(1, 0, "mean_micro").alias("m_t_pre"),
        cell(1, 1, "mean_micro").alias("m_t_post"),
        cell(0, 0, "mean_micro").alias("m_c_pre"),
        cell(0, 1, "mean_micro").alias("m_c_post"),
    )
    return (
        wide.where(
            F.col("n_t_pre").isNotNull()
            & F.col("n_t_post").isNotNull()
            & F.col("n_c_pre").isNotNull()
            & F.col("n_c_post").isNotNull()
        )
        .select(
            F.col("n_t_pre").cast("bigint").alias("n_t_pre"),
            F.col("n_t_post").cast("bigint").alias("n_t_post"),
            F.col("n_c_pre").cast("bigint").alias("n_c_pre"),
            F.col("n_c_post").cast("bigint").alias("n_c_post"),
            "m_t_pre",
            "m_t_post",
            "m_c_pre",
            "m_c_post",
            (
                (F.col("m_t_post") - F.col("m_t_pre"))
                - (F.col("m_c_post") - F.col("m_c_pre"))
            ).alias("did_micro_cents"),
        )
    )
