"""Stream-stream join (charter "streams" capability; the reference has
no streaming — SURVEY.md §2.B mandates the family).

``stream_stream_join`` is the batch form of the classic click→purchase
attribution join, oracle-checked like every other registered query;
``streaming_join_pipeline`` wires the IDENTICAL join condition into a
real watermarked stream-stream join (inner / left_outer / full_outer —
the full matrix as of r12), which ``tests/test_streaming.py`` replays
through micro-batches and compares against the batch form, pinning
each outer side's null-extension timing against the watermark.

Scale notes (the whole point of watermarked stream-stream joins): an
unwatermarked stream-stream join must buffer BOTH streams forever.
With a watermark on each side plus a time-range join condition, Spark
derives a state-eviction bound per side (clicks older than
``watermark + lookback`` can never match a future purchase and are
dropped from the join state), so state is O(events within the horizon),
independent of stream history length.  That is the only shape that
survives an unbounded stream — exactly analogous to the session-window
state bound in ``streaming/windows.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduceplusplus_spark.registry import query
from mapreduceplusplus_spark.sources.tables import load_table

#: attribution lookback — a click converts if a purchase by the same
#: user follows within this horizon
LOOKBACK = "10 minutes"


@query(
    "stream_stream_join",
    oracle="""
    SELECT p.user_id                        AS user_id,
           c.event_id                       AS click_id,
           p.event_id                       AS purchase_id,
           CAST(date_diff('second', c.ts, p.ts) AS BIGINT) AS gap_sec,
           round(p.value, 2)                AS purchase_value
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id
     AND c.ts <  p.ts
     AND c.ts >= p.ts - INTERVAL 10 MINUTE
    """,
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Click→purchase attribution, batch form: each purchase joins the
    same user's clicks from the preceding 10 minutes.  The equi conjunct
    (user_id) anchors a hash join; the time band is a within-partition
    post-filter — same plan discipline as ``join_theta_range``, never a
    cross product.  The streaming form is ``streaming_join_pipeline``
    (same condition + watermarks ⇒ bounded state)."""
    ev = load_table(spark, sf_dir, "events")
    p = ev.where(F.col("event_type") == "purchase").alias("p")
    c = ev.where(F.col("event_type") == "click").alias("c")
    cond = (
        (F.col("p.user_id") == F.col("c.user_id"))
        & (F.col("c.ts") < F.col("p.ts"))
        & (F.col("c.ts") >= F.col("p.ts") - F.expr("INTERVAL 10 MINUTES"))
    )
    return p.join(c, cond, "inner").select(
        F.col("p.user_id").alias("user_id"),
        F.col("c.event_id").alias("click_id"),
        F.col("p.event_id").alias("purchase_id"),
        (F.unix_timestamp(F.col("p.ts")) - F.unix_timestamp(F.col("c.ts"))).alias(
            "gap_sec"
        ),
        F.round(F.col("p.value"), 2).alias("purchase_value"),
    )


def streaming_join_pipeline(
    spark: SparkSession,
    source_dir: str,
    schema,
    lookback: str = LOOKBACK,
    watermark: str = "10 minutes",
    how: str = "inner",
) -> DataFrame:
    """Real watermarked stream-stream join: ONE file source read
    twice (purchases / clicks), each side watermarked, joined on
    user_id + the attribution time band.  The watermark + range bound
    lets Spark evict click state older than ``watermark + lookback`` —
    without both, join state grows without bound.  Returns the joined
    streaming DataFrame; the caller attaches sink/trigger.

    ``how="left_outer"`` (purchases left) adds the OUTER semantics
    production attribution needs: a purchase with no click in its
    lookback window is still emitted — with a NULL click — but only
    AFTER the watermark closes its match window (no future click can
    have ``c_ts < p_ts`` once the watermark passes ``p_ts``), so the
    null-extension is late-data-safe: emitting it eagerly would be
    retracted by a late click, and append-mode sinks cannot retract.
    The timing is pinned by
    ``tests/test_streaming.py::test_stream_stream_left_outer_null_timing``.

    ``how="full_outer"`` adds the CLICK-side extension on top: a click
    with no purchase in its FORWARD window (``(c_ts, c_ts+lookback]``)
    is emitted with a NULL purchase — held until the watermark passes
    the end of that window, the symmetric late-data argument.  Timing
    pinned by ``test_stream_stream_full_outer_click_null_timing``."""
    purchases = (
        spark.readStream.schema(schema)
        .parquet(source_dir)
        .where(F.col("event_type") == "purchase")
        .withWatermark("ts", watermark)
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
            F.col("event_id").alias("purchase_id"),
        )
    )
    clicks = (
        spark.readStream.schema(schema)
        .parquet(source_dir)
        .where(F.col("event_type") == "click")
        .withWatermark("ts", watermark)
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
            F.col("event_id").alias("click_id"),
        )
    )
    cond = (
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") < F.col("p_ts"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr(f"INTERVAL {lookback}"))
    )
    return purchases.join(clicks, cond, how).select(
        # coalesce: under full_outer an unmatched CLICK row has a null
        # p_user; for inner/left_outer p_user is never null, so this
        # is identical to the old p_user projection there
        F.coalesce("p_user", "c_user").alias("user_id"),
        "click_id",
        "purchase_id",
        (F.unix_timestamp("p_ts") - F.unix_timestamp("c_ts")).alias("gap_sec"),
    )


@query(
    "stream_stream_join_left",
    oracle="""
    SELECT p.user_id                        AS user_id,
           CAST(c.event_id AS BIGINT)       AS click_id,
           p.event_id                       AS purchase_id,
           CAST(date_diff('second', c.ts, p.ts) AS BIGINT) AS gap_sec,
           (c.event_id IS NULL)             AS organic
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id
     AND c.ts <  p.ts
     AND c.ts >= p.ts - INTERVAL 10 MINUTE
    """,
)
def stream_stream_join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Click→purchase attribution, LEFT OUTER batch form — the last
    missing cell of the streaming join matrix (inner =
    ``stream_stream_join``, stream-static = ``stream_static_enrich``):
    every purchase survives the join, and one with NO click in its
    10-minute lookback comes out with a NULL click and ``organic =
    true`` — the unattributed-conversion row an attribution readout
    cannot drop (dropping it silently overstates marketing's share).

    Plan shape: identical hash join on the user_id equi conjunct with
    the time band as a within-partition post-filter; LEFT OUTER only
    changes null-extension, not the shuffle.  The streaming twin is
    ``streaming_join_pipeline(how="left_outer")``: same condition +
    watermarks ⇒ bounded state AND late-data-safe null timing (a
    purchase's null row is held until the watermark proves no click
    can still arrive — pinned by the micro-batch test).  Reference
    heritage: none (SURVEY §2 charter extension, streaming family)."""
    ev = load_table(spark, sf_dir, "events")
    p = ev.where(F.col("event_type") == "purchase").alias("p")
    c = ev.where(F.col("event_type") == "click").alias("c")
    cond = (
        (F.col("p.user_id") == F.col("c.user_id"))
        & (F.col("c.ts") < F.col("p.ts"))
        & (F.col("c.ts") >= F.col("p.ts") - F.expr("INTERVAL 10 MINUTES"))
    )
    return p.join(c, cond, "left").select(
        F.col("p.user_id").alias("user_id"),
        F.col("c.event_id").cast("bigint").alias("click_id"),
        F.col("p.event_id").alias("purchase_id"),
        (
            F.unix_timestamp(F.col("p.ts")) - F.unix_timestamp(F.col("c.ts"))
        ).alias("gap_sec"),
        F.col("c.event_id").isNull().alias("organic"),
    )


@query(
    "stream_stream_join_full",
    oracle="""
    SELECT coalesce(p.user_id, c.user_id)   AS user_id,
           CAST(c.event_id AS BIGINT)       AS click_id,
           CAST(p.event_id AS BIGINT)       AS purchase_id,
           CAST(date_diff('second', c.ts, p.ts) AS BIGINT) AS gap_sec,
           (c.event_id IS NULL)             AS organic,
           (p.event_id IS NULL)             AS unconverted
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    FULL JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id
     AND c.ts <  p.ts
     AND c.ts >= p.ts - INTERVAL 10 MINUTE
    """,
)
def stream_stream_join_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Click→purchase attribution, FULL OUTER batch form — completes
    the streaming join matrix (inner = ``stream_stream_join``, left =
    ``stream_stream_join_left``, stream-static =
    ``stream_static_enrich``): BOTH unmatched sides survive.  A
    purchase with no click in its 10-minute lookback is the
    unattributed conversion (``organic = true``, as in the LEFT form);
    a click with no purchase in its FORWARD 10-minute window is the
    UNCONVERTED click (``unconverted = true``) — the row funnel /
    spend-efficiency readouts need (dropping it silently overstates
    click→purchase conversion).

    Plan shape: the same user_id hash join with the time band as a
    within-partition post-filter; FULL OUTER only adds null extension
    on both sides, not a new shuffle.  The streaming twin is
    ``streaming_join_pipeline(how="full_outer")`` — watermarks on both
    sides still bound state, and each side's null row is held until
    the watermark proves its match window closed (purchase side:
    backward window, as LEFT; click side: forward window — pinned by
    ``tests/test_streaming.py::
    test_stream_stream_full_outer_click_null_timing``).  Reference
    heritage: none (SURVEY §2 charter extension, streaming family)."""
    ev = load_table(spark, sf_dir, "events")
    p = ev.where(F.col("event_type") == "purchase").alias("p")
    c = ev.where(F.col("event_type") == "click").alias("c")
    cond = (
        (F.col("p.user_id") == F.col("c.user_id"))
        & (F.col("c.ts") < F.col("p.ts"))
        & (F.col("c.ts") >= F.col("p.ts") - F.expr("INTERVAL 10 MINUTES"))
    )
    return p.join(c, cond, "full_outer").select(
        F.coalesce(F.col("p.user_id"), F.col("c.user_id")).alias("user_id"),
        F.col("c.event_id").cast("bigint").alias("click_id"),
        F.col("p.event_id").cast("bigint").alias("purchase_id"),
        (
            F.unix_timestamp(F.col("p.ts")) - F.unix_timestamp(F.col("c.ts"))
        ).alias("gap_sec"),
        F.col("c.event_id").isNull().alias("organic"),
        F.col("p.event_id").isNull().alias("unconverted"),
    )


@query(
    "stream_static_enrich",
    oracle="""
    SELECT c.c_mktsegment, e.event_type,
           count(*) AS n_events,
           CAST(sum(CAST(round(e.value * 100) AS BIGINT)) AS BIGINT)
               AS value_cents
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY c.c_mktsegment, e.event_type
    """,
)
def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch form of the STREAM-STATIC enrichment join — the third
    streaming join shape alongside stream-stream (``sjoin``) and the
    windowed aggregations: an event stream joined against a slowly-
    changing dimension snapshot (user → segment), then rolled up per
    (segment, event type) with integer-cent sums.  This is the
    enrich-then-aggregate topology nearly every production stream runs
    (attach account/catalog attributes before counting).

    ``static_enrich_stream`` wires the IDENTICAL join + rollup as a
    real micro-batch pipeline; ``tests/test_streaming.py`` replays
    batches through it and asserts equality with this batch form —
    stream-static joins are stateless per micro-batch (the static side
    is re-resolvable every batch), which is why no watermark is needed,
    unlike the stream-stream case.

    Scale: the dim side grows linearly with SF, so it joins UNHINTED
    (AQE broadcast-converts while it fits; at 100 TB Spark shuffles
    the events micro-batch against a bucketed dim instead of OOMing
    the driver); the rollup output is |segments|×|event types| — tiny.
    Value sums ride as integer cents: accumulation-order-exact."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "value"
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    # the ONE definition of the join+rollup (review r7: batch form,
    # streaming form, and the equivalence test previously carried
    # three hand-maintained copies that could silently drift)
    return static_enrich_stream(ev, cust)


def static_enrich_stream(stream: DataFrame, static_dim: DataFrame) -> DataFrame:
    """The enrich join + rollup, usable over a STREAMING events frame
    (complete-mode aggregation downstream of a stream-static inner
    join; the static side is re-read per micro-batch, so dimension
    updates between batches are picked up automatically — the
    semantics warehouses call a "current-state lookup" join) or over
    batch frames — ``stream_static_enrich`` and the equivalence test
    both call THIS definition, so the batch/stream twins cannot
    drift."""
    return (
        stream.join(
            static_dim, stream["user_id"] == static_dim["c_custkey"]
        )
        .groupBy("c_mktsegment", "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("bigint"))
            .cast("bigint")
            .alias("value_cents"),
        )
    )
