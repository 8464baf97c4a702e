"""Event-time window operators (SURVEY.md §2.B rows
``stream_tumbling_count``, ``stream_sliding_agg``,
``stream_session_window``).

The reference has no streaming at all — these are mandated by the
"streams" capability check.  Spark's event-time windows are the SAME
functions in batch and streaming (``F.window`` / ``F.session_window``
group a timestamp column); the declared queries here run them in batch
mode over the ``events`` fixture so the DuckDB oracle can hash-check
the *semantics*, and ``streaming_pipeline`` wires the identical
aggregation into a real ``readStream → withWatermark → writeStream``
micro-batch pipeline (exercised with late-data assertions in
``tests/test_streaming.py`` — watermarking has no SQL oracle by
nature).

Scale notes: windowed aggregation shuffles on (window, keys) exactly
like a groupBy; sliding windows multiply rows by window/slide (×4
here) BEFORE the shuffle — the map-side partial aggregation absorbs
most of that.  Session windows keep per-key state until the watermark
closes the session; the 100 TB concern is state size = O(open
sessions), bounded by the watermark delay, not by history length.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduceplusplus_spark.registry import query
from mapreduceplusplus_spark.sources.tables import load_table

#: session gap — sized so the fixture's per-user cadence (median gap
#: ~7.3 h) yields a healthy mix of single- and multi-event sessions
SESSION_GAP = "4 hours"

_TS_FMT_SPARK = "yyyy-MM-dd HH:mm:ss"
_TS_FMT_DUCK = "%Y-%m-%d %H:%M:%S"
_TS_US_SPARK = "yyyy-MM-dd HH:mm:ss.SSSSSS"
_TS_US_DUCK = "%Y-%m-%d %H:%M:%S.%f"


@query(
    "stream_tumbling_count",
    oracle=f"""
    SELECT strftime(time_bucket(INTERVAL 1 HOUR, ts), '{_TS_FMT_DUCK}') AS win_start,
           strftime(time_bucket(INTERVAL 1 HOUR, ts) + INTERVAL 1 HOUR,
                    '{_TS_FMT_DUCK}') AS win_end,
           event_type,
           count(*) AS n_events,
           round(sum(value), 2) AS sum_value
    FROM events
    GROUP BY 1, 2, 3
    """,
)
def stream_tumbling_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour event-time windows × event_type.  ``F.window``
    is the streaming-native operator run in batch: identical semantics,
    one hash shuffle on (window, event_type) with map-side partials."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            F.date_format("w.start", _TS_FMT_SPARK).alias("win_start"),
            F.date_format("w.end", _TS_FMT_SPARK).alias("win_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


@query(
    "stream_sliding_agg",
    oracle=f"""
    SELECT strftime(ws, '{_TS_FMT_DUCK}') AS win_start,
           strftime(ws + INTERVAL 1 HOUR, '{_TS_FMT_DUCK}') AS win_end,
           count(*) AS n_events,
           round(sum(value), 2) AS sum_value,
           round(max(value), 2) AS max_value
    FROM (SELECT value,
                 time_bucket(INTERVAL 15 MINUTE, ts) - k * (INTERVAL 15 MINUTE) AS ws
          FROM events, unnest([0, 1, 2, 3]) AS t(k))
    GROUP BY ws
    """,
)
def stream_sliding_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows: 1-hour length, 15-minute slide → every event
    lands in exactly 4 windows (the oracle materializes the same 4
    aligned starts per event).  Spark expands rows ×4 map-side, then
    partially aggregates before the shuffle — the expansion never
    crosses the wire unaggregated."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
            # max, not avg: avg lands on .xxx5 rounding midpoints where
            # Spark (decimal HALF_UP) and DuckDB (float) disagree; max
            # is an exact element value, immune to accumulation noise
            F.round(F.max("value"), 2).alias("max_value"),
        )
        .select(
            F.date_format("w.start", _TS_FMT_SPARK).alias("win_start"),
            F.date_format("w.end", _TS_FMT_SPARK).alias("win_end"),
            "n_events",
            "sum_value",
            "max_value",
        )
    )


@query(
    "stream_session_window",
    oracle=f"""
    WITH flagged AS (
      SELECT user_id, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL
                  OR ts - lag(ts) OVER w >= INTERVAL 4 HOUR THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    sess AS (
      SELECT user_id, ts, value,
             sum(new_s) OVER (PARTITION BY user_id ORDER BY ts) AS sid
      FROM flagged
    )
    SELECT user_id,
           strftime(min(ts), '{_TS_US_DUCK}') AS sess_start,
           strftime(max(ts) + INTERVAL 4 HOUR, '{_TS_US_DUCK}') AS sess_end,
           count(*) AS n_events,
           round(sum(value), 2) AS sum_value
    FROM sess
    GROUP BY user_id, sid
    """,
)
def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows per user with a 4-hour inactivity gap.
    ``F.session_window`` merges events whose [ts, ts+gap) ranges
    overlap; the oracle is the classic gaps-and-islands rewrite (new
    session when the gap ≥ 4 h), which produces identical
    [first_ts, last_ts + gap) sessions.  Microsecond-precision
    rendering: session bounds are raw event times, not aligned
    boundaries."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", SESSION_GAP).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            "user_id",
            F.date_format("w.start", _TS_US_SPARK).alias("sess_start"),
            F.date_format("w.end", _TS_US_SPARK).alias("sess_end"),
            "n_events",
            "sum_value",
        )
    )


def streaming_pipeline(
    spark: SparkSession,
    source_dir: str,
    schema,
    window: str = "10 minutes",
    watermark: str = "10 minutes",
):
    """Real Structured Streaming wiring for the tumbling-count query:
    file source → event-time watermark → windowed count.  Append mode
    emits a window only after the watermark passes its end, and events
    arriving later than the watermark are DROPPED — the late-data
    contract asserted in tests/test_streaming.py.  Returns the
    streaming DataFrame (caller attaches the sink/trigger)."""
    stream = spark.readStream.schema(schema).parquet(source_dir)
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"))
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("w.start").alias("win_start"),
            F.col("w.end").alias("win_end"),
            "n_events",
        )
    )


@query(
    "stream_dedup",
    oracle=f"""
    SELECT user_id, event_type,
           event_id                             AS first_event_id,
           strftime(ts, '{_TS_US_DUCK}')        AS first_ts,
           round(value, 2)                      AS first_value
    FROM (SELECT *, row_number() OVER (PARTITION BY user_id, event_type
                                       ORDER BY ts, event_id) AS rn
          FROM events)
    WHERE rn = 1
    """,
)
def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup, batch form: keep the FIRST event per
    (user_id, event_type) in event-time order (event_id tiebreak) —
    the deterministic-keeper window, one hash shuffle on the dedup key.

    The streaming form is ``streaming_dedup_pipeline``: ``readStream →
    withWatermark → dropDuplicates(keys)``, which keeps the first
    ARRIVAL and holds one state row per key until the watermark
    expires it (``dropDuplicatesWithinWatermark`` is the bounded-state
    variant when upstream retries can only be near-duplicates in
    time).  Fed in event-time order the two forms agree —
    ``tests/test_streaming.py`` replays the fixture through
    micro-batches and asserts exactly that."""
    ev = load_table(spark, sf_dir, "events")
    from pyspark.sql import Window

    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "user_id",
            "event_type",
            F.col("event_id").alias("first_event_id"),
            F.date_format("ts", _TS_US_SPARK).alias("first_ts"),
            F.round("value", 2).alias("first_value"),
        )
    )


def streaming_session_pipeline(
    spark: SparkSession,
    source_dir: str,
    schema,
    gap="4 hours",
    watermark: str = "0 seconds",
):
    """Real Structured Streaming wiring for the session-window queries:
    file source → event-time watermark → ``F.session_window`` grouped
    by user.  ``gap`` is either a literal duration string (the
    ``stream_session_window`` form) or a Column expression over the
    stream's own columns (the ``stream_session_window_dynamic_gap``
    form — e.g. a CASE over event_type).  Append mode emits a session
    only once the watermark passes its END — i.e. no event can extend
    or merge it anymore; state is one open session per (user, island),
    bounded by the watermark delay.  The batch/stream equivalence
    (including the dynamic-gap MERGE of a long-gap event bridging a
    later short-gap one ACROSS a micro-batch boundary) is pinned in
    tests/test_streaming.py.  Returns the streaming DataFrame (caller
    attaches sink/trigger)."""
    stream = spark.readStream.schema(schema).parquet(source_dir)
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("sess_start"),
            F.col("w.end").alias("sess_end"),
            "n_events",
        )
    )


def streaming_dedup_pipeline(
    spark: SparkSession,
    source_dir: str,
    schema,
    keys: list[str] = ("user_id", "event_type"),
    watermark: str = "1 hour",
):
    """Structured Streaming dedup wiring: file source → watermark →
    ``dropDuplicates`` on the key columns.  State = one row per
    distinct key seen within the watermark horizon."""
    stream = spark.readStream.schema(schema).parquet(source_dir)
    return stream.withWatermark("ts", watermark).dropDuplicates(list(keys))


@query(
    "stream_session_window_dynamic_gap",
    oracle=f"""
    WITH g AS (
      SELECT user_id, ts, event_id,
             CASE event_type WHEN 'click' THEN 7200
                             WHEN 'view'  THEN 3600
                             ELSE 1800 END AS gap_s
      FROM events
    ),
    flagged AS (
      SELECT user_id, ts, event_id, gap_s,
             max(ts + gap_s * INTERVAL 1 SECOND) OVER (
                 PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ) AS prev_end
      FROM g
    ),
    sess AS (
      SELECT user_id, ts, gap_s,
             -- ORDER BY must be the same TOTAL order as prev_end's
             -- window: with duplicate (user_id, ts) a ROWS frame is
             -- peer-order-sensitive, and a tied event summed before
             -- its session-starting peer would land in the previous
             -- session (ADVICE r8)
             sum(CASE WHEN prev_end IS NULL OR ts >= prev_end
                      THEN 1 ELSE 0 END) OVER (
                 PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS sid
      FROM flagged
    )
    SELECT user_id,
           strftime(min(ts), '{_TS_US_DUCK}') AS sess_start,
           strftime(max(ts + gap_s * INTERVAL 1 SECOND), '{_TS_US_DUCK}')
               AS sess_end,
           count(*) AS n_events
    FROM sess
    GROUP BY user_id, sid
    """,
)
def stream_session_window_dynamic_gap(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """DYNAMIC-GAP session windows — ``F.session_window`` with a
    per-EVENT gap expression (click 2 h, view 1 h, else 30 min), the
    form engagement pipelines need when different actions keep a
    session alive for different spans (a purchase's session shouldn't
    die as fast as a passive view's).  Session semantics generalize:
    every event contributes [ts, ts + its_gap); overlapping intervals
    merge, the session END is the MAX contributed end (not last event
    + constant), and a new session starts when an event's ts reaches
    past every earlier event's end — which the oracle reproduces as a
    gaps-and-islands rewrite with a running MAX(ts + gap) (the plain
    lag-based rewrite is WRONG under variable gaps: a long-gap event
    can bridge across a later short-gap one).  Same single shuffle on
    the session key as the fixed-gap form; the gap CASE is a map-side
    expression.  In streaming mode the identical expression runs under
    a watermark exactly like ``stream_session_window``.  Reference
    heritage: none (SURVEY §2 charter extension, streaming family)."""
    ev = load_table(spark, sf_dir, "events")
    gap = (
        F.when(F.col("event_type") == "click", F.lit("2 hours"))
        .when(F.col("event_type") == "view", F.lit("1 hour"))
        .otherwise(F.lit("30 minutes"))
    )
    return (
        ev.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.date_format("w.start", _TS_US_SPARK).alias("sess_start"),
            F.date_format("w.end", _TS_US_SPARK).alias("sess_end"),
            "n_events",
        )
    )
