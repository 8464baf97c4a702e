"""Join operators (SURVEY.md §2.B join family — all 7 declared queries).

The reference has **no joins at all** (SURVEY §2: "no SQL layer, no
joins"); its nearest primitive is hash-partitioning by key
(``src/worker.cc:176-179``), which is exactly the shuffle a distributed
equi-join is built from.  These queries are the relational-parity
contract on the star schema.

Scale design (100 TB lens, per query):
- fact ⋈ fact (orders⋈customer, events self-join): shuffle-on-key joins;
  AQE picks sort-merge vs shuffled-hash and splits skewed partitions.
- fact ⋈ dim: explicit ``F.broadcast`` ONLY on constant-cardinality
  dims (nation, region, literal band tables, scalar aggregates) — the
  dim ships to every executor once; the fact table never shuffles.
  Linear-growth tables (customer, supplier, part — even filtered to a
  constant FRACTION) are never hint-broadcast: Spark honors the hint
  regardless of size, so at 100 TB it would OOM the driver; they join
  unhinted and AQE's runtime broadcast conversion recovers the
  map-side join exactly while the side actually fits.  Every
  remaining ``F.broadcast`` site in this package carries a
  ``# broadcast-safe:`` tag stating its boundedness reason
  (audited repo-wide in round 7; see SURVEY.md §4).
- the theta/range join anchors on an equi key (user_id) so Catalyst
  plans a hash/sort-merge join with the range predicate as a post-join
  filter — never a broadcast-nested-loop over the raw cross product.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduceplusplus_spark.registry import query
from mapreduceplusplus_spark.sources.tables import load_table


@query(
    "join_inner_equi",
    oracle="""
    SELECT o_orderkey,
           c_custkey,
           c_mktsegment,
           round(o_totalprice, 2) AS totalprice
    FROM orders JOIN customer ON o_custkey = c_custkey
    """,
)
def join_inner_equi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plain inner equi-join orders ⋈ customer on custkey.

    Scale: both sides shuffle on the join key (sort-merge or shuffled
    hash, AQE's call); at sf0.01 AQE converts to broadcast since customer
    is tiny — both plans are correct, we assert semantics not strategy.
    o_orderkey is unique, so the output is hash-stable row-level.
    """
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    return orders.join(
        customer, orders.o_custkey == customer.c_custkey, "inner"
    ).select(
        "o_orderkey",
        "c_custkey",
        "c_mktsegment",
        F.round("o_totalprice", 2).alias("totalprice"),
    )


@query(
    "join_broadcast",
    oracle="""
    SELECT r_name,
           n_name,
           count(*)               AS n_customers,
           round(sum(c_acctbal), 2) AS sum_acctbal
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name, n_name
    """,
)
def join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact ⋈ small dims with explicit broadcast hints.

    nation (25 rows) and region (5 rows) are broadcast to every executor;
    the customer scan never shuffles for the join — only the final 25-ish
    group aggregate exchanges partial rows.  This is THE pattern for dim
    lookups at 100 TB (a shuffled join here would move the whole fact
    table to co-locate with 25 rows).
    """
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    return (
        # broadcast-safe: nation (<=25 rows) / region (5 rows) are
        # constant-cardinality dims at any SF
        customer.join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(
            F.count("*").alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("sum_acctbal"),
        )
    )


@query(
    "join_multiway",
    oracle="""
    SELECT n_name,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM customer
    JOIN orders    ON c_custkey = o_custkey
    JOIN lineitem  ON l_orderkey = o_orderkey
    JOIN supplier  ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation    ON s_nationkey = n_nationkey
    JOIN region    ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1997-01-01'
    GROUP BY n_name
    """,
)
def join_multiway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-table star join with local-supplier predicate.

    Scale: the two big tables (lineitem, orders) shuffle once each on
    their join keys; supplier/customer are mid-size (broadcast at test
    SF via AQE); nation/region get explicit broadcast hints.  The
    region+date filters are pushed below the joins by Catalyst, shrinking
    the orders side before the fact shuffle — the optimizer work §4.1
    says the reference lacks entirely.
    """
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    return (
        customer.join(orders, F.col("c_custkey") == F.col("o_custkey"))
        .join(lineitem, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            supplier,
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        # broadcast-safe: nation (<=25 rows) / region (5 rows) are
        # constant-cardinality dims at any SF
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .where(
            (F.col("r_name") == "ASIA")
            & (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .groupBy("n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
    )


@query(
    "join_left_outer",
    oracle="""
    SELECT c_custkey,
           CAST(count(o_orderkey) AS BIGINT)        AS n_orders,
           round(coalesce(sum(o_totalprice), 0), 2) AS total_spent
    FROM customer LEFT JOIN orders ON c_custkey = o_custkey
    GROUP BY c_custkey
    """,
)
def join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join with null-extension: every customer appears, the
    order-less ones with n_orders = 0 (count skips the null-extended
    rows) and total_spent coalesced to 0.
    """
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return (
        customer.join(orders, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.round(F.coalesce(F.sum("o_totalprice"), F.lit(0.0)), 2).alias("total_spent"),
        )
    )


@query(
    "join_semi",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer
    WHERE EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_orderstatus = 'P')
    """,
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS-style left semi join: customers with ≥1 'P'-status order.

    Scale: semi joins never multiply rows — the probe side short-circuits
    on first match, and the build side carries only the join key after
    column pruning.
    """
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "P")
    return customer.join(
        orders, F.col("c_custkey") == F.col("o_custkey"), "left_semi"
    ).select("c_custkey", "c_name")


@query(
    "join_anti",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey AND o_orderstatus = 'P')
    """,
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT EXISTS / anti join: customers with no 'P'-status order — the
    exact complement of ``join_semi`` (every synthetic key is referenced
    at least once, so the filtered right side keeps the result non-empty).
    """
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "P")
    return customer.join(
        orders, F.col("c_custkey") == F.col("o_custkey"), "left_anti"
    ).select("c_custkey", "c_name")


@query(
    "join_theta_range",
    oracle="""
    SELECT a.user_id                 AS user_id,
           a.event_id                AS event_a,
           b.event_id                AS event_b,
           a.event_type              AS type_a,
           b.event_type              AS type_b,
           CAST(date_diff('second', a.ts, b.ts) AS BIGINT) AS gap_sec
    FROM events a
    JOIN events b
      ON a.user_id = b.user_id
     AND b.ts > a.ts
     AND b.ts <= a.ts + INTERVAL 5 MINUTE
    """,
)
def join_theta_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-equi range join: per-user event pairs within a 5-minute band.

    Scale: the equi conjunct (user_id) anchors a hash/sort-merge join —
    the range predicates are evaluated as a post-join filter *within* a
    user's partition, so cost is Σ per-user pairs in the band, never the
    |events|² cross product a raw theta join would plan (BNLJ).  For
    time-band joins with no equi key at all, the scale path is bucketing
    ts into coarse epochs and joining on adjacent buckets.
    """
    events = load_table(spark, sf_dir, "events")
    a = events.alias("a")
    b = events.alias("b")
    cond = (
        (F.col("a.user_id") == F.col("b.user_id"))
        & (F.col("b.ts") > F.col("a.ts"))
        & (F.col("b.ts") <= F.col("a.ts") + F.expr("INTERVAL 5 MINUTES"))
    )
    return a.join(b, cond, "inner").select(
        F.col("a.user_id").alias("user_id"),
        F.col("a.event_id").alias("event_a"),
        F.col("b.event_id").alias("event_b"),
        F.col("a.event_type").alias("type_a"),
        F.col("b.event_type").alias("type_b"),
        (F.unix_timestamp(F.col("b.ts")) - F.unix_timestamp(F.col("a.ts"))).alias(
            "gap_sec"
        ),
    )


def salted_join(
    big: DataFrame,
    small: DataFrame,
    big_key: str,
    small_key: str,
    unique_col: str,
    salt: int = 8,
) -> DataFrame:
    """Inner equi-join with manual key salting — the classic skew
    defense for when one join key holds a disproportionate share of the
    big side (a celebrity user, a null-ish default key).

    The big side gains a deterministic per-row salt (``xxhash64`` of a
    unique column mod ``salt``), the small side is replicated ``salt``
    times; joining on (key, salt) spreads the hot key's rows over
    ``salt`` shuffle partitions instead of one straggler task.  Output
    is row-identical to the unsalted join (each big row meets exactly
    the one replica of its match that carries its salt).

    When to prefer this over AQE's skew-join splitting: AQE splits
    oversized SORT-MERGE partitions after the shuffle has already
    placed them; salting re-routes at shuffle time, composes with
    shuffled-hash joins, and keeps working when the skewed relation
    feeds a downstream aggregation on the same key.  Cost: the small
    side is materialized ``salt``× (only acceptable because it is
    small — for dims small enough to broadcast, broadcast instead)."""
    b = big.withColumn("_salt_b", F.pmod(F.xxhash64(unique_col), F.lit(salt)))
    s = small.withColumn(
        "_salt_s", F.explode(F.sequence(F.lit(0), F.lit(salt - 1)))
    )
    return (
        b.join(
            s.hint("shuffle_hash"),
            (b[big_key] == s[small_key]) & (b["_salt_b"] == s["_salt_s"]),
            "inner",
        )
        .drop("_salt_b", "_salt_s")
    )


@query(
    "join_skew_salted",
    oracle="""
    SELECT c_mktsegment, count(*) AS n, round(sum(o_totalprice), 2) AS sum_price
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
)
def join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders ⋈ customer via ``salted_join`` (salt=8, shuffled-hash
    hinted so the salted path is actually exercised instead of AQE
    broadcasting the dim), aggregated per market segment.  The oracle is
    the PLAIN unsalted join — proving salting is result-invariant."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    j = salted_join(
        orders, customer, "o_custkey", "c_custkey", unique_col="o_orderkey"
    )
    return j.groupBy("c_mktsegment").agg(
        F.count("*").alias("n"),
        F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
    )


def write_bucketed(
    spark: SparkSession,
    df: DataFrame,
    name: str,
    key: str,
    n_buckets: int = 8,
    path: str | None = None,
) -> None:
    """Persist ``df`` as a bucketed+sorted table on ``key`` — the layout
    that lets every future equi-join or aggregation on ``key`` skip its
    shuffle entirely (bucket id = hash(key) % n_buckets is fixed at
    write time, so matching buckets are co-located by construction).
    ``path`` makes it an EXTERNAL table (data at the given location
    instead of the session warehouse dir — used by the demo query so
    nothing lands in the caller's cwd)."""
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    w = df.write.mode("overwrite").bucketBy(n_buckets, key).sortBy(key)
    if path is not None:
        w = w.option("path", path)
    w.saveAsTable(name)


def bucketed_join(spark: SparkSession, sf_dir: str, base_dir: str) -> DataFrame:
    """orders ⋈ customer with BOTH sides bucketed by the join key
    (8 buckets each): Spark's bucketed-scan rule aligns bucket i with
    bucket i and plans a sort-merge join with NO Exchange on either
    side (pinned by ``test_bucketed_join_has_no_shuffle``).  Caller
    owns dropping the catalog tables and ``base_dir``."""
    from mapreduceplusplus_spark.sources.tables import load_table as _lt

    orders = _lt(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
    customer = _lt(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    write_bucketed(spark, orders, "bj_orders", "o_custkey", path=f"{base_dir}/orders")
    write_bucketed(spark, customer, "bj_customer", "c_custkey", path=f"{base_dir}/customer")
    o = spark.table("bj_orders")
    c = spark.table("bj_customer")
    # MERGE hint: at tiny fixture scale the planner would broadcast the
    # dim and never touch the bucketed path; at real scale (both sides
    # over the broadcast threshold) SMJ is what it picks anyway — the
    # hint makes the fixture exercise the plan the layout exists for
    return o.join(c.hint("merge"), o.o_custkey == c.c_custkey, "inner")


@query(
    "join_bucketed_colocated",
    oracle="""
    SELECT c_nationkey, count(*) AS n, round(sum(o_totalprice), 2) AS sum_price
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_nationkey
    """,
)
def join_bucketed_colocated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The brief's "bucketing for co-located joins" made concrete:
    both join sides are written bucketed by the key, the join plans
    WITHOUT a shuffle on either side, and the aggregate equals the
    plain-join oracle on the original tables.  At 100 TB this is the
    standard answer to a repeated fact⋈fact join: pay the bucket
    shuffle once at ingest, never again.  Eagerly materialized (the
    catalog tables are dropped before returning)."""
    import shutil
    import tempfile

    base = tempfile.mkdtemp(prefix="bucketed_join_")
    try:
        j = bucketed_join(spark, sf_dir, base)
        result = j.groupBy("c_nationkey").agg(
            F.count("*").alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
        )
        rows = result.collect()
        return spark.createDataFrame(rows, result.schema)
    finally:
        spark.sql("DROP TABLE IF EXISTS bj_orders")
        spark.sql("DROP TABLE IF EXISTS bj_customer")
        shutil.rmtree(base, ignore_errors=True)


@query(
    "join_full_outer",
    oracle="""
    SELECT coalesce(c.c_custkey, o.o_custkey)     AS cust_key,
           (c.c_custkey IS NOT NULL)              AS has_customer,
           CAST(coalesce(o.n_orders, 0) AS BIGINT) AS n_orders,
           round(coalesce(o.total_spent, 0), 2)   AS total_spent
    FROM (SELECT c_custkey FROM customer WHERE c_acctbal > 0) c
    FULL JOIN (SELECT o_custkey,
                      count(*)          AS n_orders,
                      sum(o_totalprice) AS total_spent
               FROM orders GROUP BY o_custkey) o
      ON c.c_custkey = o.o_custkey
    """,
)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join with null-extension on BOTH sides: positive-
    balance customers vs per-customer order totals.  Left-only rows are
    positive-balance customers who never ordered; right-only rows are
    orders whose customer has a non-positive balance (filtered off the
    left side), surfacing as ``has_customer = false``.

    Scale: a full outer join cannot broadcast either side (both must be
    null-extended), so Spark plans a shuffled sort-merge join — one
    shuffle per side on the key, exactly what you'd want at 100 TB.  The
    pre-aggregation shrinks the orders side to |customers| rows before
    the join instead of null-extending raw orders.
    """
    cust = (
        load_table(spark, sf_dir, "customer")
        .where(F.col("c_acctbal") > 0)
        .select("c_custkey")
    )
    per_cust = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum("o_totalprice").alias("total_spent"),
        )
    )
    return cust.join(per_cust, F.col("c_custkey") == F.col("o_custkey"), "full").select(
        F.coalesce("c_custkey", "o_custkey").alias("cust_key"),
        F.col("c_custkey").isNotNull().alias("has_customer"),
        F.coalesce("n_orders", F.lit(0)).cast("bigint").alias("n_orders"),
        F.round(F.coalesce("total_spent", F.lit(0.0)), 2).alias("total_spent"),
    )


@query(
    "join_interval_overlap",
    oracle="""
    WITH e AS (
      SELECT user_id, ts FROM events WHERE user_id < 40
    ),
    m AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w > INTERVAL 12 HOUR
                  THEN 1 ELSE 0 END AS brk
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    g AS (
      SELECT user_id, ts,
             sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                            ROWS UNBOUNDED PRECEDING) AS sid
      FROM m
    ),
    sess AS (
      SELECT user_id, sid, min(ts) AS s0, max(ts) AS s1
      FROM g GROUP BY user_id, sid
    )
    SELECT a.user_id                       AS user_a,
           b.user_id                       AS user_b,
           strftime(a.s0, '%Y-%m-%d %H:%M:%S.%f') AS start_a,
           strftime(b.s0, '%Y-%m-%d %H:%M:%S.%f') AS start_b,
           epoch_us(least(a.s1, b.s1)) - epoch_us(greatest(a.s0, b.s0))
                                           AS overlap_us
    FROM sess a JOIN sess b
      ON a.user_id < b.user_id AND a.s0 <= b.s1 AND b.s0 <= a.s1
    """,
)
def join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap join with NO equi key — the range-join shape
    ``join_theta_range``'s docstring defers to: find every pair of
    concurrent sessions across different users.

    A raw theta join (``a.s0 <= b.s1 AND b.s0 <= a.s1``) plans as a
    nested-loop cross product — the classic range-join scale killer.
    The distributed pattern used here is TIME BUCKETING:

    1. build the intervals (12-hour-gap sessionization: lag + running
       sum of breaks + min/max per session — one shuffle on user_id);
    2. explode each interval into the DAY buckets it covers
       (``sequence(date_trunc(s0), date_trunc(s1))`` — generated in
       the plan, bounded by interval length / bucket size);
    3. hash equi-join on the bucket — only intervals sharing a
       calendar day ever meet.  LOSSLESS: two overlapping intervals
       both cover the day containing the overlap's start;
    4. exact overlap predicate + per-pair dedup (an overlapping pair
       shares every bucket the overlap spans, so duplicates are
       expected and removed on the session key pair).

    Bucket granularity trades fan-out (longer intervals explode into
    more buckets) against hot-bucket size (how many intervals coexist
    per bucket) — pick ~ the typical interval length; AQE skew-join
    splitting backstops burst days.  Overlap is reported in exact
    integer MICROSECONDS (``unix_micros`` difference) — float-free
    and engine-identical.
    """
    from pyspark.sql import Window as W

    e = (
        load_table(spark, sf_dir, "events")
        .where(F.col("user_id") < 40)
        .select("user_id", "ts")
    )
    w = W.partitionBy("user_id").orderBy("ts")
    brk = (
        F.when(
            F.lag("ts").over(w).isNull()
            | (F.col("ts") - F.lag("ts").over(w) > F.expr("INTERVAL 12 HOURS")),
            1,
        ).otherwise(0)
    )
    g = e.withColumn("brk", brk).withColumn(
        "sid",
        F.sum("brk").over(
            W.partitionBy("user_id").orderBy("ts").rowsBetween(W.unboundedPreceding, 0)
        ),
    )
    sess = g.groupBy("user_id", "sid").agg(
        F.min("ts").alias("s0"), F.max("ts").alias("s1")
    )
    day = lambda c: F.date_trunc("DAY", F.col(c))  # noqa: E731
    bucketed = sess.select(
        "user_id",
        "sid",
        "s0",
        "s1",
        F.explode(
            F.sequence(day("s0"), day("s1"), F.expr("interval 1 day"))
        ).alias("bkt"),
    )
    a = bucketed.alias("a")
    b = bucketed.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.bkt") == F.col("b.bkt"))
            & (F.col("a.user_id") < F.col("b.user_id"))
            & (F.col("a.s0") <= F.col("b.s1"))
            & (F.col("b.s0") <= F.col("a.s1")),
        )
        .select(
            F.col("a.user_id").alias("user_a"),
            F.col("a.sid").alias("sid_a"),
            F.col("b.user_id").alias("user_b"),
            F.col("b.sid").alias("sid_b"),
            F.col("a.s0").alias("a0"),
            F.col("a.s1").alias("a1"),
            F.col("b.s0").alias("b0"),
            F.col("b.s1").alias("b1"),
        )
        .dropDuplicates(["user_a", "sid_a", "user_b", "sid_b"])
    )
    return pairs.select(
        "user_a",
        "user_b",
        F.date_format("a0", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("start_a"),
        F.date_format("b0", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("start_b"),
        (
            F.unix_micros(F.least("a1", "b1"))
            - F.unix_micros(F.greatest("a0", "b0"))
        ).alias("overlap_us"),
    )


@query(
    "join_market_basket",
    oracle="""
    SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
           CAST(count(*) AS BIGINT) AS n_orders
    FROM lineitem a JOIN lineitem b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY a.l_partkey, b.l_partkey
    ORDER BY n_orders DESC, part_a, part_b
    LIMIT 20
    """,
)
def join_market_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence — the top part pairs bought in the
    same order, via a self-equi-join of lineitem on the basket key.
    The ordered predicate ``part_a < part_b`` halves the pair space and
    canonicalizes the pair; the top-k carries the full (count, part_a,
    part_b) tiebreak so the limit is deterministic.

    At 100 TB: the self-join hash-partitions both sides on l_orderkey
    (one co-keyed shuffle — Catalyst reuses the exchange for the two
    identical scans), and per-basket fan-out is m·(m-1)/2 with m =
    lines per order, bounded at 7 in TPC-H-shaped data — so the join
    output is a small constant multiple of the input.  Pipelines with
    unbounded basket sizes cap m first (slice the per-key list) — the
    standard A-Priori candidate bound; the final TakeOrdered(20) never
    materializes the full pair distribution on the driver.

    SHUFFLE_HASH hint: a self-join's sort-merge pays two full sorts of
    the same relation for nothing (the basket key is hashable and the
    per-key group is tiny); hash build per partition is 2.6× faster
    measured at sf0.1 (0.85 s vs 2.2 s) and the build side is one
    shuffle partition of the table — bounded by partition count, not
    corpus size."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a = li.alias("a")
    b = li.hint("shuffle_hash").alias("b")
    pairs = a.join(
        b,
        (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        & (F.col("a.l_partkey") < F.col("b.l_partkey")),
    ).select(
        F.col("a.l_partkey").alias("part_a"), F.col("b.l_partkey").alias("part_b")
    )
    return (
        pairs.groupBy("part_a", "part_b")
        .agg(F.count("*").cast("bigint").alias("n_orders"))
        .orderBy(F.col("n_orders").desc(), "part_a", "part_b")
        .limit(20)
    )


@query(
    "join_nullsafe_eq",
    oracle="""
    WITH l AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 7 = 0 THEN NULL
                  ELSE o_custkey % 50 END AS k
      FROM orders WHERE o_orderkey < 2000
    ),
    r AS (
      SELECT CASE WHEN n_nationkey = 0 THEN NULL ELSE n_nationkey % 50 END AS k,
             n_name
      FROM nation
    )
    SELECT l.o_orderkey, r.n_name
    FROM l JOIN r ON l.k IS NOT DISTINCT FROM r.k
    """,
)
def join_nullsafe_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-safe equi-join (``<=>`` / IS NOT DISTINCT FROM): NULL keys
    MATCH each other instead of vanishing — the semantics dimension a
    plain equi-join cannot express (its NULL rows silently drop, see
    ``filter_null_semantics`` for the scalar version of the trap).
    Both sides derive keys with planted NULLs so the NULL↔NULL match
    path is actually exercised.

    Physical note: ``<=>`` is still a HASH-partitionable equality — all
    NULLs hash to one key, so Catalyst plans a normal shuffled equi-join
    (NOT a nested loop, which a ``coalesce(k, sentinel)`` rewrite or an
    OR-form predicate would force).  At 100 TB the NULL bucket is the
    hot key to watch: if NULL-heavy, filter-and-union or AQE skew
    splitting handles it."""
    orders = load_table(spark, sf_dir, "orders").where(F.col("o_orderkey") < 2000)
    nation = load_table(spark, sf_dir, "nation")
    l = orders.select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 7 == 0, F.lit(None)).otherwise(
            F.col("o_custkey") % 50
        ).alias("k"),
    )
    r = nation.select(
        F.when(F.col("n_nationkey") == 0, F.lit(None)).otherwise(
            F.col("n_nationkey") % 50
        ).alias("k"),
        "n_name",
    )
    return l.join(r, l["k"].eqNullSafe(r["k"])).select("o_orderkey", "n_name")


@query(
    "tpch_q3_shipping",
    oracle="""
    SELECT l_orderkey,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
           o_orderpriority
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1996-06-01'
      AND l_shipdate  > TIMESTAMP '1996-06-01'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def tpch_q3_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape (shipping-priority): the classic 3-table
    benchmark join with filters on all three tables and a top-k over
    grouped revenue.  Complements ``join_multiway`` (Q5 shape) and
    ``subquery_correlated`` (Q17 shape) so the recognizable TPC-H
    trio is covered.

    Scale: both filters are pushed below the join (customer's segment
    filter shrinks the broadcastable side; the date filters prune
    orders and lineitem at the scan), facts shuffle once each on the
    join keys, and the top-10 is TakeOrderedAndProject — no global
    sort materializes.  ``l_orderkey`` in the ORDER BY makes the limit
    deterministic under revenue ties."""
    customer = load_table(spark, sf_dir, "customer").where(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1996-06-01").cast("timestamp")
    )
    lineitem = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1996-06-01").cast("timestamp")
    )
    return (
        customer.join(orders, F.col("c_custkey") == F.col("o_custkey"))
        .join(lineitem, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_orderpriority",
        )
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
    )


@query(
    "join_broadcast_range_lookup",
    oracle="""
    SELECT t.tier,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS sum_cents
    FROM orders o
    JOIN (VALUES (0.0,     50000.0,  'small'),
                 (50000.0, 200000.0, 'medium'),
                 (200000.0, 1e9,     'large')) AS t(lo, hi, tier)
      ON o.o_totalprice >= t.lo AND o.o_totalprice < t.hi
    GROUP BY t.tier
    """,
)
def join_broadcast_range_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded-dimension range lookup — classifying a fact column
    against a tiny table of [lo, hi) bands, the non-equi join every
    pricing/tiering/SLA pipeline runs.  The band table is BROADCAST, so
    the physical plan is a BroadcastNestedLoopJoin that is really a
    map-side scan: each fact row tests 3 bands, no shuffle of the fact
    side at all — the ONE case where a nested-loop join is the right
    plan at 100 TB (contrast ``join_theta_range``, which buckets two
    FACT-sized sides to avoid exactly this plan).  Integer-cents sum
    keeps the aggregate engine-exact."""
    orders = load_table(spark, sf_dir, "orders")
    tiers = spark.createDataFrame(
        [(0.0, 50000.0, "small"), (50000.0, 200000.0, "medium"), (200000.0, 1e9, "large")],
        "lo double, hi double, tier string",
    )
    return (
        orders.join(
            # broadcast-safe: tiers is a 3-row literal band table
            F.broadcast(tiers),
            (F.col("o_totalprice") >= F.col("lo")) & (F.col("o_totalprice") < F.col("hi")),
        )
        .groupBy("tier")
        .agg(
            F.count("*").cast("bigint").alias("n_orders"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("sum_cents"),
        )
    )


@query(
    "join_lateral_topn",
    oracle="""
    SELECT c.c_custkey, c.c_mktsegment, l.o_orderkey,
           CAST(round(l.o_totalprice * 100) AS BIGINT) AS price_cents
    FROM customer c
    JOIN LATERAL (SELECT o_orderkey, o_totalprice
                  FROM orders
                  WHERE o_custkey = c.c_custkey
                  ORDER BY o_totalprice DESC, o_orderkey
                  LIMIT 2) l ON true
    WHERE c.c_custkey < 200
    """,
)
def join_lateral_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL join — the correlated table subquery (SQL:1999 LATERAL /
    CROSS APPLY): for every customer, their top-2 orders by price.
    Declaratively this is a nested per-row query; Catalyst DECORRELATES
    it (DecorrelateInnerQuery) into the same window-top-k + equi-join
    shape ``window_topk_per_group`` builds by hand — so the row pins
    that the decorrelation rewrite, not a per-customer re-scan, is what
    executes.  A per-row execution would be O(|customers|) scans of
    orders; the decorrelated plan is one shuffle of each side.

    Expressed through ``spark.sql`` because LATERAL is a SQL-syntax
    feature with no DataFrame-API equivalent — the dialect text is
    shared with the oracle verbatim (both engines parse the same
    query)."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    return spark.sql(
        """
        SELECT c.c_custkey, c.c_mktsegment, l.o_orderkey,
               CAST(round(l.o_totalprice * 100) AS BIGINT) AS price_cents
        FROM customer c
        JOIN LATERAL (SELECT o_orderkey, o_totalprice
                      FROM orders
                      WHERE o_custkey = c.c_custkey
                      ORDER BY o_totalprice DESC, o_orderkey
                      LIMIT 2) l
        WHERE c.c_custkey < 200
        """
    )


@query(
    "join_prefilter_bitmap",
    oracle="""
    SELECT o_orderpriority,
           count(*) AS n_orders,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS sum_cents
    FROM orders
    WHERE o_custkey IN (SELECT c_custkey FROM customer
                        WHERE c_mktsegment = 'BUILDING')
    GROUP BY o_orderpriority
    """,
)
def join_prefilter_bitmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-style runtime pre-filter join: before the exact semi join,
    the fact side is pre-filtered by a BROADCAST HASH-BUCKET BITMAP of
    the dim keys — ``pmod(xxhash64(key), m)`` bucket ids, distinct-ed
    to ≤ m rows — then the surviving candidate superset (false
    positives possible, false negatives impossible) is resolved by the
    exact broadcast semi join.  This is a k=1 Bloom filter made
    explicit in the DataFrame algebra; it is exactly the shape Spark's
    own InjectRuntimeFilter rewrites to internally (bloom_filter_agg /
    might_contain are not exposed to the public API, so the engine
    surfaces the pattern portably).

    Why it matters at 100 TB: when the dim's key set is too big for a
    plain IN-list but its BUCKET SET is small (m = 4096 here; even
    m = 2^26 is an 8 MB broadcast as a bitmap), the fact scan drops
    non-matching rows map-side BEFORE any shuffle or join build —
    for a 1%-selective dim that is a ~99% reduction in shuffled
    bytes.  Only the BITMAP is hint-broadcast (bounded ≤ m rows by
    construction); the exact semi join against the linearly-growing
    dim key set joins UNHINTED — AQE converts it to a broadcast while
    it fits and degrades to a shuffle join of the already-reduced
    candidates beyond, instead of OOMing the driver at 100 TB.

    The oracle is the plain exact semi join — the bitmap is pure
    optimization, provably result-invariant (superset then exact)."""
    m = 4096
    orders = load_table(spark, sf_dir, "orders")
    dim_keys = (
        load_table(spark, sf_dir, "customer")
        .where(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    buckets = dim_keys.select(
        F.pmod(F.xxhash64("c_custkey"), F.lit(m)).alias("bkt")
    ).distinct()
    candidates = orders.join(
        # broadcast-safe: DISTINCT bucket ids are ≤ m = 4096 rows at
        # any SF — bounded by the modulus, not the data
        F.broadcast(buckets),
        F.pmod(F.xxhash64("o_custkey"), F.lit(m)) == F.col("bkt"),
    ).drop("bkt")
    # no broadcast hint: dim_keys is a constant fraction of the
    # linearly-growing customer table — AQE converts while it fits
    exact = candidates.join(
        dim_keys,
        F.col("o_custkey") == F.col("c_custkey"),
        "left_semi",
    )
    return exact.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("sum_cents"),
    )


#: spatial-join scale: coordinates in integer milli-units, radius R
_SPATIAL_R = 300


@query(
    "join_spatial_grid",
    oracle=f"""
    WITH p AS (
      SELECT p_partkey AS id,
             CAST(p_size * 200 AS BIGINT) AS x,
             CAST(round(p_retailprice * 100) AS BIGINT) - 90000 AS y
      FROM part
    )
    SELECT a.id AS id_a, b.id AS id_b,
           CAST((a.x - b.x) * (a.x - b.x)
                + (a.y - b.y) * (a.y - b.y) AS BIGINT) AS dist2
    FROM p a JOIN p b
      ON a.id < b.id
     AND (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
         <= {_SPATIAL_R} * {_SPATIAL_R}
    """,
)
def join_spatial_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial self-join by GRID BUCKETING — the distance join every
    geo/embedding workload needs, made equi-joinable: points (parts in
    integer (size, price) milli-unit space) hash into R-sized grid
    cells, each LEFT point is expanded to its 3×3 cell neighborhood,
    candidates come from an EQUI-join on the cell key, and an exact
    integer distance² predicate verifies.  Lossless by construction:
    two points within R differ by at most one cell index per axis, so
    every true pair meets in some neighborhood cell; the a<b key plus
    ``distinct``-free single-home-cell-right design yields each pair
    exactly once (the left side's 9 cells never overlap for one
    neighbor's single home cell).

    Why not the oracle's naive θ-join: that is O(n²) distance checks —
    at 10⁸ points it is dead; the grid form does O(n) expansion rows
    and only intra-cell work, the same structural-skew cap as every
    banding dedup in ``llm/``.  All-integer coordinates keep the
    predicate engine-exact (no float epsilon disagreements on the
    boundary).

    Plan: one 9× narrow expansion (generator, no shuffle), one hash
    shuffle per side on the cell key, codegen'd verify."""
    part = load_table(spark, sf_dir, "part")
    pts = part.select(
        F.col("p_partkey").alias("id"),
        (F.col("p_size") * 200).cast("bigint").alias("x"),
        (F.round(F.col("p_retailprice") * 100).cast("bigint") - 90000).alias(
            "y"
        ),
    )
    r = F.lit(_SPATIAL_R)
    home = pts.select(
        "id",
        "x",
        "y",
        F.expr(f"x div {_SPATIAL_R}").alias("cx"),
        F.expr(f"y div {_SPATIAL_R}").alias("cy"),
    )
    shifts = F.array(
        *[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dx in (-1, 0, 1)
            for dy in (-1, 0, 1)
        ]
    )
    left = home.select(
        F.col("id").alias("id_a"),
        F.col("x").alias("xa"),
        F.col("y").alias("ya"),
        F.explode(shifts).alias("s"),
        "cx",
        "cy",
    ).select(
        "id_a",
        "xa",
        "ya",
        (F.col("cx") + F.col("s.dx")).alias("jx"),
        (F.col("cy") + F.col("s.dy")).alias("jy"),
    )
    right = home.select(
        F.col("id").alias("id_b"),
        F.col("x").alias("xb"),
        F.col("y").alias("yb"),
        F.col("cx").alias("jx"),
        F.col("cy").alias("jy"),
    )
    d2 = (F.col("xa") - F.col("xb")) * (F.col("xa") - F.col("xb")) + (
        F.col("ya") - F.col("yb")
    ) * (F.col("ya") - F.col("yb"))
    return (
        left.join(right, ["jx", "jy"])
        .where((F.col("id_a") < F.col("id_b")) & (d2 <= r * r))
        .select("id_a", "id_b", d2.cast("bigint").alias("dist2"))
    )


@query(
    "join_lateral_df_api",
    oracle="""
    SELECT c.c_custkey, c.c_mktsegment, l.o_orderkey,
           CAST(round(l.o_totalprice * 100) AS BIGINT) AS price_cents
    FROM customer c
    JOIN LATERAL (SELECT o_orderkey, o_totalprice
                  FROM orders
                  WHERE o_custkey = c.c_custkey
                  ORDER BY o_totalprice DESC, o_orderkey
                  LIMIT 2) l ON true
    WHERE c.c_custkey < 200
    """,
)
def join_lateral_df_api(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``DataFrame.lateralJoin`` (Spark 4.0) — the DataFrame-API form
    of the correlated table subquery that previously existed only as
    SQL LATERAL (``join_lateral_topn``, whose docstring records the
    pre-4.0 state): the inner frame references the outer row via
    ``F.col(...).outer()``, and Catalyst decorrelates it into the same
    window-top-k + join shape — this row pins that the NEW API path
    hits the same decorrelation rewrite the SQL path does (same oracle,
    same results).  Reference heritage: none (SURVEY §2 charter
    extension, join family)."""
    cust = load_table(spark, sf_dir, "customer").where(F.col("c_custkey") < 200)
    orders = load_table(spark, sf_dir, "orders")
    per_cust_top2 = (
        orders.where(F.col("o_custkey") == F.col("c_custkey").outer())
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(2)
        .select("o_orderkey", "o_totalprice")
    )
    return cust.lateralJoin(per_cust_top2).select(
        "c_custkey",
        "c_mktsegment",
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("price_cents"),
    )


@query(
    "join_runtime_bloom_filter",
    oracle="""
    SELECT p.p_size,
           count(DISTINCT p.p_partkey) AS n_parts,
           count(*) AS n_lineitems,
           CAST(sum(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
    FROM part p JOIN lineitem l ON l.l_partkey = p.p_partkey
    WHERE p.p_brand = 'Brand#23' AND p.p_size < 10
    GROUP BY p.p_size
    """,
)
def join_runtime_bloom_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The RUNTIME-FILTERED fact-dimension join: a highly selective
    dimension predicate (~0.35% of ``part``) drives a join against the
    fact table, and Spark's runtime bloom-filter injection
    (``InjectRuntimeFilter``, on by default via
    ``spark.sql.optimizer.runtime.bloomFilter.enabled``) builds a
    bloom filter from the filtered dim keys and applies it as a
    ``might_contain`` semi-filter ON THE FACT SCAN — so at 100 TB the
    ~99.6% of lineitem rows whose part can never match are dropped
    BEFORE the join's shuffle, not after.  This is the shuffle-join
    counterpart of ``join_dpp_partition_pruned`` (which needs a
    partitioned layout; the bloom filter needs none) and of the manual
    ``join_prefilter_bitmap``: same idea, but the optimizer derives it
    from the plan instead of the author wiring it.

    The QUERY is declared as the plain declarative join — correctness
    never depends on whether the filter injects (below the size
    thresholds Spark simply runs the unfiltered join; AQE broadcasts
    the 7-row dim at test scale).  The injection itself is pinned in
    ``tests/test_operator_edges.py`` under a session with the
    documented thresholds lowered, asserting ``bloom_filter_agg`` /
    ``might_contain`` attached to the lineitem side.  Aggregate output
    (per-size part census, lineitem count, integer quantity sum) keeps
    the oracle exact.  Reference heritage: none (SURVEY §2 charter
    extension, join family)."""
    part = load_table(spark, sf_dir, "part").where(
        (F.col("p_brand") == "Brand#23") & (F.col("p_size") < 10)
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity"
    )
    return (
        li.join(part, li["l_partkey"] == part["p_partkey"])
        .groupBy("p_size")
        .agg(
            F.countDistinct("p_partkey").alias("n_parts"),
            F.count("*").alias("n_lineitems"),
            F.sum(F.col("l_quantity").cast("bigint"))
            .cast("bigint")
            .alias("sum_qty"),
        )
    )
