"""As-of (temporal) join — a charter extension the reference cannot
express (its only join-like construct is key-grouped aggregation, A7).

An as-of join matches every left row to the single most recent right
row with the same key and ``right.ts <= left.ts`` — the workhorse of
feature pipelines ("state of X as of event time").  Spark has no
built-in as-of operator; the scalable formulation used here is the
classic UNION + partitioned last-non-null window:

1. tag and union both sides into one (key, ts, payload) relation;
2. one hash shuffle on the key, sort within partition by
   (ts, side) — right rows sort BEFORE left rows at equal ts, giving
   inclusive (``>=``) as-of semantics;
3. the right payload — packed into ONE struct column so the pick is
   row-atomic even when individual payload columns are NULL — is
   carried forward to every later left row by a single
   ``last(struct, ignorenulls=True)`` over rows-unbounded-preceding.

Cost: ONE shuffle + one in-partition sort — same profile as a single
window query, no range join, no BNLJ, no per-key skew beyond the key
distribution itself.  Contrast with the naive formulation
(l JOIN r ON key AND r.ts <= l.ts → argmax), which materializes every
(left, earlier-right) pair: quadratic per key.

The DuckDB oracle uses its native ``ASOF LEFT JOIN`` — an independent
implementation of the same semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mapreduceplusplus_spark.registry import query
from mapreduceplusplus_spark.sources.tables import load_table

_TS_US_SPARK = "yyyy-MM-dd HH:mm:ss.SSSSSS"
_TS_US_DUCK = "%Y-%m-%d %H:%M:%S.%f"


def _ts_int(left: DataFrame, left_ts: str, c):
    """EXACT integer time value for distance/tolerance arithmetic
    (review r7s4: cast-to-double distances carry ~1e-7 s of
    independent rounding per timestamp at epoch magnitudes, flipping
    ~25% of exact ties): µs for timestamp axes, native integer
    otherwise (DATE axes need a prior cast by the caller)."""
    from pyspark.sql.types import TimestampNTZType, TimestampType

    if isinstance(
        left.schema[left_ts].dataType, (TimestampType, TimestampNTZType)
    ):
        return F.unix_micros(c)
    return c.cast("bigint")


def as_of_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    left_ts: str,
    right_ts: str,
    right_cols: dict[str, str],
    direction: str = "backward",
    tolerance_us: int | None = None,
) -> DataFrame:
    """Left as-of join: each left row gains ``right_cols`` (mapping
    output-name → right column) from the matching right row per the
    ``direction`` — ``"backward"`` (default): the LATEST right row with
    ``right_ts <= left_ts``; ``"forward"``: the EARLIEST right row with
    ``right_ts >= left_ts``; ``"nearest"``: whichever of those two
    candidates has the smaller ``|Δts|``, ties to the BACKWARD (earlier)
    row — pandas ``merge_asof``'s third direction.  NULLs when no such
    row.  All ties at exactly ``left_ts`` are inclusive.

    The forward mode is the same union + running-carry machinery with
    the time axis reversed (ORDER BY ts DESC): "last non-null among
    preceding rows" then means "nearest right row at-or-after me".
    Nearest computes BOTH carries over the SAME union — two window
    sorts sharing one (on)-hash exchange — with the matched right ts
    riding inside each packed struct so the |Δts| compare is a narrow
    projection, not a join of two as-of results.

    ``tolerance_us`` (pandas ``merge_asof(tolerance=…)``): a match
    farther than this many µs (timestamp axes; raw units on integral
    axes) from the left row is nulled out AFTER the carry — a
    post-pick projection, so the join's shape and cost are unchanged.

    Determinism contract: ``right`` must be unique per (on, right_ts) —
    pre-dedupe if needed (see ``join_asof`` below), otherwise which
    duplicate wins depends on partition-internal order.
    """
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(
            f"direction must be backward|forward|nearest, got {direction}"
        )
    payload = [c for c in left.columns if c not in on and c != left_ts]

    # internal column names must not collide with user columns —
    # prepend underscores until unique against both schemas
    taken = set(left.columns) | set(right.columns) | set(right_cols)
    tag = "_asof"
    while any(c.startswith(tag) for c in taken):
        tag = "_" + tag
    ts_c, side_c, pack_c = f"{tag}_ts", f"{tag}_side", f"{tag}_r"

    # the right payload travels as ONE struct so a single
    # last(ignorenulls) carries it row-atomically: a right row whose
    # payload column is legitimately NULL stays NULL in the output
    # instead of falling back to an older right row's value (which
    # per-column last() would do, mixing rows)
    from pyspark.sql.types import StructField, StructType

    rts_f = f"{tag}_mts"  # matched right ts, rides inside the pack
    pack_fields = dict(right_cols)
    if direction == "nearest" or tolerance_us is not None:
        # only nearest / tolerance read the matched ts — don't widen
        # the shuffled struct otherwise (review r7s4)
        pack_fields[rts_f] = right_ts
    pack_type = StructType(
        [
            StructField(out, right.schema[src].dataType)
            for out, src in pack_fields.items()
        ]
    )
    lsel = (
        [F.col(c) for c in on]
        + [F.col(left_ts).alias(ts_c)]
        + [F.col(c) for c in payload]
        + [F.lit(1).alias(side_c)]
        + [F.lit(None).cast(pack_type).alias(pack_c)]
    )
    rsel = (
        [F.col(c) for c in on]
        + [F.col(right_ts).alias(ts_c)]
        + [F.lit(None).cast(left.schema[c].dataType).alias(c) for c in payload]
        + [F.lit(0).alias(side_c)]
        + [
            F.struct(
                *[F.col(src).alias(out) for out, src in pack_fields.items()]
            ).alias(pack_c)
        ]
    )
    u = left.select(*lsel).unionByName(right.select(*rsel))

    def _carry(back: bool):
        ts_order = F.col(ts_c) if back else F.col(ts_c).desc()
        w = (
            Window.partitionBy(*on)
            .orderBy(ts_order, F.col(side_c))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        return F.last(pack_c, ignorenulls=True).over(w)

    if direction != "nearest":
        u = u.withColumn(pack_c, _carry(direction == "backward"))
    else:
        b_c, f_c = f"{tag}_b", f"{tag}_f"
        u = u.withColumn(b_c, _carry(True)).withColumn(f_c, _carry(False))
        t_i = _ts_int(left, left_ts, F.col(ts_c))
        bdt = t_i - _ts_int(left, left_ts, F.col(f"{b_c}.{rts_f}"))
        fdt = _ts_int(left, left_ts, F.col(f"{f_c}.{rts_f}")) - t_i
        u = u.withColumn(
            pack_c,
            F.when(F.col(b_c).isNull(), F.col(f_c))
            .when(F.col(f_c).isNull(), F.col(b_c))
            .when(bdt <= fdt, F.col(b_c))       # tie -> backward/earlier
            .otherwise(F.col(f_c)),
        )
    if tolerance_us is not None:
        gap = F.abs(
            _ts_int(left, left_ts, F.col(ts_c))
            - _ts_int(left, left_ts, F.col(f"{pack_c}.{rts_f}"))
        )
        u = u.withColumn(
            pack_c, F.when(gap <= tolerance_us, F.col(pack_c))
        )
    return (
        u.where(F.col(side_c) == 1)
        .select(
            *on,
            F.col(ts_c).alias(left_ts),
            *payload,
            *[F.col(f"{pack_c}.{out}").alias(out) for out in right_cols],
        )
    )




def _dedup_right(ev: DataFrame, event_type: str) -> DataFrame:
    """One row per (user_id, ts) for the given event type, keeping the
    max event_id — the shared determinism contract of both as-of
    queries (which duplicate wins must not depend on partition order,
    and the backward/forward surfaces must agree on the rule)."""
    w_dedup = Window.partitionBy("user_id", "ts").orderBy(
        F.col("event_id").desc()
    )
    return (
        ev.where(F.col("event_type") == event_type)
        .select("user_id", "ts", "event_id")
        .withColumn("_rn", F.row_number().over(w_dedup))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


@query(
    "join_asof",
    oracle=f"""
    WITH r AS (
      SELECT user_id, ts, event_id FROM (
        SELECT user_id, ts, event_id,
               row_number() OVER (PARTITION BY user_id, ts
                                  ORDER BY event_id DESC) AS rn
        FROM events WHERE event_type = 'signup') WHERE rn = 1
    ),
    l AS (
      SELECT event_id, user_id, ts, value
      FROM events WHERE event_type = 'purchase'
    )
    SELECT l.event_id,
           l.user_id,
           strftime(l.ts, '{_TS_US_DUCK}')      AS purchase_ts,
           round(l.value, 2)                     AS purchase_value,
           r.event_id                            AS signup_event_id,
           strftime(r.ts, '{_TS_US_DUCK}')      AS signup_ts,
           (epoch_us(l.ts) - epoch_us(r.ts)) // 1000000 AS secs_since_signup
    FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
    """,
)
def join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every purchase event matched to the user's most recent signup at
    or before the purchase time (NULL-extended when the purchase
    precedes any signup).  The right side is deduped to one row per
    (user_id, ts) — keep max event_id — so the as-of pick is fully
    deterministic on both engines."""
    ev = load_table(spark, sf_dir, "events")
    left = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    right = _dedup_right(ev, "signup")
    joined = as_of_join(
        left,
        right,
        on=["user_id"],
        left_ts="ts",
        right_ts="ts",
        right_cols={"signup_event_id": "event_id", "signup_ts": "ts"},
    )
    return joined.select(
        "event_id",
        "user_id",
        F.date_format("ts", _TS_US_SPARK).alias("purchase_ts"),
        F.round("value", 2).alias("purchase_value"),
        "signup_event_id",
        F.date_format("signup_ts", _TS_US_SPARK).alias("signup_ts"),
        F.expr("(unix_micros(ts) - unix_micros(signup_ts)) div 1000000").alias(
            "secs_since_signup"
        ),
    )


@query(
    "scd2_build_validity",
    oracle="""
    SELECT o_custkey AS custkey,
           strftime(o_orderdate, '%Y-%m-%d') AS valid_from,
           strftime(lead(o_orderdate) OVER (PARTITION BY o_custkey
                                            ORDER BY o_orderdate, o_orderkey),
                    '%Y-%m-%d')               AS valid_to,
           CAST(lead(o_orderdate) OVER (PARTITION BY o_custkey
                                        ORDER BY o_orderdate, o_orderkey)
                IS NULL AS BOOLEAN)           AS is_current,
           CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents,
           o_orderkey
    FROM orders
    WHERE o_custkey < 100
    """,
)
def scd2_build_validity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build an SCD Type-2 dimension from a change stream: each change
    row becomes a validity interval [valid_from, valid_to) with
    ``valid_to`` = the NEXT change's date (NULL ⇒ current row) — one
    ``lead`` window per key, the standard warehouse pattern that turns
    an event history into a point-in-time-joinable dimension (the
    produced intervals are exactly what ``join_asof`` /
    ``join_interval_overlap`` consume).  Composite (date, orderkey)
    ordering keeps same-day changes deterministic; prices are integer
    cents.

    At 100 TB: one shuffle on the dimension key, O(1) window state per
    row, output row-for-row with the change stream."""
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders").where(F.col("o_custkey") < 100)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    nxt = F.lead("o_orderdate").over(w)
    return orders.select(
        F.col("o_custkey").alias("custkey"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("valid_from"),
        F.date_format(nxt, "yyyy-MM-dd").alias("valid_to"),
        nxt.isNull().alias("is_current"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("price_cents"),
        "o_orderkey",
    )


@query(
    "join_asof_forward",
    oracle=f"""
    WITH l AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'view'
    ),
    p AS (
      SELECT user_id, ts, max(event_id) AS event_id
      FROM events WHERE event_type = 'purchase'
      GROUP BY user_id, ts
    ),
    m AS (
      SELECT l.event_id, l.user_id, l.ts,
             (SELECT min(p.ts) FROM p
              WHERE p.user_id = l.user_id AND p.ts >= l.ts) AS nts
      FROM l
    )
    SELECT m.event_id,
           m.user_id,
           strftime(m.ts, '{_TS_US_DUCK}')  AS view_ts,
           p.event_id                        AS purchase_event_id,
           strftime(m.nts, '{_TS_US_DUCK}') AS next_purchase_ts,
           (epoch_us(m.nts) - epoch_us(m.ts)) // 1000000 AS secs_to_purchase
    FROM m LEFT JOIN p ON p.user_id = m.user_id AND p.ts = m.nts
    """,
)
def join_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of join: every view event matched to the user's
    NEXT purchase at or after it — time-to-conversion, the
    mirror image of ``join_asof``'s latest-signup-before lookup and
    the other half of the as-of surface (pandas ``merge_asof``
    direction='forward', attribution "did this impression convert").
    Same union + running-carry machinery with the time axis reversed;
    the right side dedupes to one row per (user, ts) so the pick is
    deterministic.

    The oracle decorrelates as a scalar-min subquery + equality join
    back (DuckDB's native ASOF JOIN is backward-shaped, so the forward
    spec is stated portably).

    Scale: identical to the backward form — ONE shuffle on the key,
    no range explosion; per-row state is the single packed struct."""
    ev = load_table(spark, sf_dir, "events")
    left = ev.where(F.col("event_type") == "view").select(
        "event_id", "user_id", "ts"
    )
    right = _dedup_right(ev, "purchase")
    joined = as_of_join(
        left,
        right,
        on=["user_id"],
        left_ts="ts",
        right_ts="ts",
        right_cols={"purchase_event_id": "event_id", "next_purchase_ts": "ts"},
        direction="forward",
    )
    return joined.select(
        "event_id",
        "user_id",
        F.date_format("ts", _TS_US_SPARK).alias("view_ts"),
        "purchase_event_id",
        F.date_format("next_purchase_ts", _TS_US_SPARK).alias(
            "next_purchase_ts"
        ),
        F.expr(
            "(unix_micros(next_purchase_ts) - unix_micros(ts)) div 1000000"
        ).alias("secs_to_purchase"),
    )


@query(
    "join_asof_nearest",
    oracle=f"""
    WITH r AS (
      SELECT user_id, ts, event_id FROM (
        SELECT user_id, ts, event_id,
               row_number() OVER (PARTITION BY user_id, ts
                                  ORDER BY event_id DESC) AS rn
        FROM events WHERE event_type = 'purchase') WHERE rn = 1
    ),
    l AS (
      SELECT event_id, user_id, ts
      FROM events WHERE event_type = 'click'
    ),
    cand AS (
      SELECT l.event_id, r.event_id AS pe, r.ts AS pts,
             row_number() OVER (
               PARTITION BY l.event_id
               ORDER BY abs(epoch_us(l.ts) - epoch_us(r.ts)),
                        (r.ts > l.ts), r.ts, r.event_id) AS rn
      FROM l JOIN r USING (user_id)
    )
    SELECT l.event_id, l.user_id,
           strftime(l.ts, '{_TS_US_DUCK}')      AS click_ts,
           c.pe                                  AS purchase_event_id,
           strftime(c.pts, '{_TS_US_DUCK}')     AS purchase_ts,
           abs(epoch_us(l.ts) - epoch_us(c.pts)) // 1000000
                                                 AS abs_gap_secs
    FROM l LEFT JOIN (SELECT * FROM cand WHERE rn = 1) c USING (event_id)
    """,
)
def join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every click matched to the user's NEAREST purchase in either
    time direction (ties to the earlier purchase) — pandas
    ``merge_asof(direction='nearest')``, completing the as-of trio
    (backward ``join_asof``, forward ``join_asof_forward``).  The
    operator behind "which transaction does this interaction belong
    to" when causality can run either way (a click can precede or
    follow its purchase).

    Scale: unlike the directional forms (one carry window each),
    nearest runs TWO carry windows over the SAME union — still one
    hash exchange on user_id, two in-partition sorts — then a narrow
    per-row |Δt| compare; the matched right timestamp rides inside
    each packed struct so no join-back is needed.  The oracle is the
    quadratic candidate argmin DuckDB needs without a nearest ASOF
    join — the reason the carry form is the scale path."""
    ev = load_table(spark, sf_dir, "events")
    left = ev.where(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    right = _dedup_right(ev, "purchase")
    joined = as_of_join(
        left,
        right,
        on=["user_id"],
        left_ts="ts",
        right_ts="ts",
        right_cols={"purchase_event_id": "event_id", "purchase_ts": "ts"},
        direction="nearest",
    )
    return joined.select(
        "event_id",
        "user_id",
        F.date_format("ts", _TS_US_SPARK).alias("click_ts"),
        "purchase_event_id",
        F.date_format("purchase_ts", _TS_US_SPARK).alias("purchase_ts"),
        F.expr(
            "abs(unix_micros(ts) - unix_micros(purchase_ts)) div 1000000"
        ).alias("abs_gap_secs"),
    )


#: tolerance for the bounded as-of query: 7 days in microseconds
_TOL_US = 7 * 24 * 3600 * 1_000_000


@query(
    "join_asof_tolerance",
    oracle=f"""
    WITH r AS (
      SELECT user_id, ts, event_id FROM (
        SELECT user_id, ts, event_id,
               row_number() OVER (PARTITION BY user_id, ts
                                  ORDER BY event_id DESC) AS rn
        FROM events WHERE event_type = 'signup') WHERE rn = 1
    ),
    l AS (
      SELECT event_id, user_id, ts
      FROM events WHERE event_type = 'purchase'
    ),
    m AS (
      SELECT l.event_id, l.user_id, l.ts,
             r.event_id AS se, r.ts AS sts
      FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
    )
    SELECT event_id, user_id,
           strftime(ts, '{_TS_US_DUCK}') AS purchase_ts,
           CASE WHEN epoch_us(ts) - epoch_us(sts) <= {_TOL_US}
                THEN se END AS signup_event_id,
           CASE WHEN epoch_us(ts) - epoch_us(sts) <= {_TOL_US}
                THEN (epoch_us(ts) - epoch_us(sts)) // 1000000
           END AS secs_since_signup
    FROM m
    """,
)
def join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded as-of: each purchase matched to the most recent signup
    AT MOST 7 DAYS back — pandas ``merge_asof(tolerance=…)``, the last
    piece of its parameter surface (directions backward/forward/
    nearest are the other three registered forms).  An out-of-window
    match is semantically "no attribution", not "stale attribution" —
    the difference between crediting a purchase to a year-old signup
    and correctly leaving it organic.

    Scale: the tolerance is a POST-CARRY projection on the matched
    timestamp already riding in the packed struct — same single
    exchange and sort as the unbounded form; exact integer µs
    arithmetic (the same `_ts_int` contract as the nearest tie)."""
    ev = load_table(spark, sf_dir, "events")
    left = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    right = _dedup_right(ev, "signup")
    joined = as_of_join(
        left,
        right,
        on=["user_id"],
        left_ts="ts",
        right_ts="ts",
        right_cols={"signup_event_id": "event_id", "signup_ts": "ts"},
        tolerance_us=_TOL_US,
    )
    return joined.select(
        "event_id",
        "user_id",
        F.date_format("ts", _TS_US_SPARK).alias("purchase_ts"),
        "signup_event_id",
        F.expr("(unix_micros(ts) - unix_micros(signup_ts)) div 1000000").alias(
            "secs_since_signup"
        ),
    )


@query(
    "join_pit_scd2_embargo",
    oracle="""
    WITH scd AS (
      SELECT o_custkey AS custkey, o_orderdate AS valid_from,
             lead(o_orderdate) OVER (PARTITION BY o_custkey
                                     ORDER BY o_orderdate, o_orderkey)
                 AS valid_to,
             o_orderkey,
             CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
      FROM orders WHERE o_custkey < 100
    ),
    probe AS (
      SELECT l.l_orderkey, l.l_linenumber, o.o_custkey AS custkey,
             l.l_shipdate - INTERVAL 365 DAY AS d
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
      WHERE o.o_custkey < 100
    )
    SELECT p.l_orderkey, CAST(p.l_linenumber AS BIGINT) AS l_linenumber,
           CAST(p.custkey AS BIGINT) AS custkey,
           strftime(p.d, '%Y-%m-%d') AS embargo_date,
           s.o_orderkey AS version_key,
           s.price_cents AS version_price_cents,
           (s.o_orderkey IS NOT NULL) AS matched
    FROM probe p LEFT JOIN scd s
      ON s.custkey = p.custkey
     AND s.valid_from <= p.d
     AND (s.valid_to IS NULL OR p.d < s.valid_to)
    """,
)
def join_pit_scd2_embargo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POINT-IN-TIME feature lookup against an SCD2 dimension, with a
    training-label EMBARGO — the feature-store join that prevents
    label leakage: each outcome event (a lineitem shipment) fetches
    the dimension version that was valid ONE YEAR BEFORE the event,
    so a model trained on these features never sees state from inside
    the label window.  The dimension is ``scd2_build_validity``'s
    interval table (same lead-window construction, restated verbatim
    by the oracle); probes whose embargoed date precedes the entity's
    first version come back NULL (``matched = false`` — 992 of 4,015
    fixture probes), mid-history probes pick interior versions (689
    distinct versions matched), so the interval predicate is
    exercised across its whole range, not just the current row.

    Plan shape: LEFT hash join anchored on the ``custkey`` equi
    conjunct with the validity band as a within-partition join-time
    filter (the ``join_theta_range``/``stream_stream_join``
    discipline — never a cross product); at most ONE version matches
    per probe by the validity-partition construction (zero-length
    same-day intervals can never match), so output is row-for-row
    with the probe stream.  At 100 TB: one shuffle each side on the
    entity key.  Reference heritage: none (SURVEY §2 charter
    extension, asof/temporal family)."""
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders").where(
        F.col("o_custkey") < 100
    )
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    scd = orders.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderdate").alias("valid_from"),
        F.lead("o_orderdate").over(w).alias("valid_to"),
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias(
            "price_cents"
        ),
    ).alias("s")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_shipdate"
    )
    probe = (
        li.join(
            load_table(spark, sf_dir, "orders")
            .where(F.col("o_custkey") < 100)
            .select("o_orderkey", "o_custkey"),
            li["l_orderkey"] == F.col("o_orderkey"),
        )
        .select(
            "l_orderkey",
            "l_linenumber",
            F.col("o_custkey").alias("custkey"),
            (F.col("l_shipdate") - F.expr("INTERVAL 365 DAYS")).alias("d"),
        )
        .alias("p")
    )
    cond = (
        (F.col("s.custkey") == F.col("p.custkey"))
        & (F.col("s.valid_from") <= F.col("p.d"))
        & (F.col("s.valid_to").isNull() | (F.col("p.d") < F.col("s.valid_to")))
    )
    return probe.join(scd, cond, "left").select(
        F.col("p.l_orderkey").alias("l_orderkey"),
        F.col("p.l_linenumber").cast("bigint").alias("l_linenumber"),
        F.col("p.custkey").cast("bigint").alias("custkey"),
        F.date_format(F.col("p.d"), "yyyy-MM-dd").alias("embargo_date"),
        F.col("s.o_orderkey").alias("version_key"),
        F.col("s.price_cents").alias("version_price_cents"),
        F.col("s.o_orderkey").isNotNull().alias("matched"),
    )
