"""Scan / source / sink operators (reference heritage: A1 whole-file text
scan ``src/worker.cc:127-133``, A9 text sink ``src/worker.cc:231-243``).

The reference reads whole text files (one map task per file, no schema,
no pushdown).  Our scans are Parquet: vectorized columnar reads with
predicate pushdown and column pruning (verify with
``df.explain('formatted')`` → ``PushedFilters`` / ``ReadSchema``).
"""

from __future__ import annotations

import shutil
import tempfile
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduceplusplus_spark.registry import query
from mapreduceplusplus_spark.session import ensure_utc
from mapreduceplusplus_spark.sources.tables import TABLES, load_table

#: tokenizer of the reference's flagship word-count query
#: (``mr/word_count.h:22-31``): maximal runs of ASCII letters,
#: case-sensitive; every other byte separates.
TOKEN_RE = "[A-Za-z]+"


def tokenize(col) -> F.Column:
    """Reference A3 tokenizer as a vectorized JVM expression — no Python
    UDF in the hot path."""
    return F.expr(f"regexp_extract_all({col}, '{TOKEN_RE}', 0)")


def word_count(df: DataFrame, text_col: str = "text") -> DataFrame:
    """The reference's flagship query (A2+A3+A7+A8): tokenize → count per
    word.  Map-side partial aggregation means the shuffle carries one
    (word, partial_count) per task instead of one record per token — the
    combiner the reference lacks (``src/worker.cc:173-182``)."""
    return (
        df.select(F.explode(tokenize(text_col)).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )


@query(
    "scan_parquet",
    oracle="""
    SELECT 'region' AS tbl, count(*) AS n FROM region
    UNION ALL SELECT 'nation', count(*) FROM nation
    UNION ALL SELECT 'customer', count(*) FROM customer
    UNION ALL SELECT 'supplier', count(*) FROM supplier
    UNION ALL SELECT 'part', count(*) FROM part
    UNION ALL SELECT 'orders', count(*) FROM orders
    UNION ALL SELECT 'lineitem', count(*) FROM lineitem
    UNION ALL SELECT 'events', count(*) FROM events
    UNION ALL SELECT 'documents', count(*) FROM documents
    UNION ALL SELECT 'embeddings', count(*) FROM embeddings
    """,
)
def scan_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan every table, count rows.  Counts come from parquet row-group
    metadata (no data pages read) — the degenerate-scan fast path."""
    ensure_utc(spark)
    counts = [
        load_table(spark, sf_dir, t).agg(
            F.lit(t).alias("tbl"), F.count("*").alias("n")
        )
        for t in TABLES
    ]
    return reduce(DataFrame.unionByName, counts)


@query(
    "scan_text_wordcount",
    oracle="""
    SELECT word, count(*) AS cnt
    FROM (SELECT unnest(regexp_extract_all(text, '[A-Za-z]+')) AS word
          FROM documents) t
    GROUP BY word
    """,
)
def scan_text_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference demo (8 Gutenberg books → word counts) on the
    ``documents`` fixture, as a pure Catalyst plan."""
    ensure_utc(spark)
    return word_count(load_table(spark, sf_dir, "documents"), "text")


@query(
    "sink_roundtrip",
    oracle="""
    SELECT l_returnflag, count(*) AS n, round(sum(l_extendedprice), 2) AS sum_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write a projection to Parquet, read it back, aggregate (reference
    A9 text sink → our columnar sink).  Spark's FileOutputCommitter gives
    the tmp-write + atomic-rename protocol the reference hand-rolls
    (``src/worker.cc:184-200``).

    The roundtrip must materialize eagerly (the temp dir is deleted after
    the aggregate is computed), so this query collects the small
    aggregate and re-parallelizes it — the returned DataFrame is the
    3-row result, not a plan over the deleted path.
    """
    ensure_utc(spark)
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice"
    )
    out = tempfile.mkdtemp(prefix="sink_roundtrip_")
    try:
        li.write.mode("overwrite").parquet(out)
        # known schema: the temp dir is fresh per call, so inferring it
        # would be one more Spark job on every build
        result = (
            spark.read.schema(li.schema).parquet(out)
            .groupBy("l_returnflag")
            .agg(
                F.count("*").alias("n"),
                F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
            )
        )
        rows = result.collect()
        return spark.createDataFrame(rows, result.schema)
    finally:
        shutil.rmtree(out, ignore_errors=True)


@query(
    "sink_csv_roundtrip",
    oracle="""
    SELECT o_orderstatus, count(*) AS n, round(sum(o_totalprice), 2) AS sum_price
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def sink_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV sink + source roundtrip: write a projection as headered CSV,
    read it back with an explicit schema, aggregate.  The aggregate
    equals the oracle computed on the ORIGINAL table — i.e. the text
    roundtrip is lossless (Spark writes doubles with Java's
    shortest-round-trip rendering).  CSV is the closest analogue of the
    reference's text sink (``src/worker.cc:231-243``), upgraded with
    schema-on-read and splittable parallel scan."""
    ensure_utc(spark)
    proj = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    out = tempfile.mkdtemp(prefix="sink_csv_roundtrip_")
    try:
        proj.write.mode("overwrite").option("header", True).csv(out)
        result = (
            spark.read.schema("o_orderkey bigint, o_orderstatus string, o_totalprice double")
            .option("header", True)
            .csv(out)
            .groupBy("o_orderstatus")
            .agg(
                F.count("*").alias("n"),
                F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
            )
        )
        rows = result.collect()
        return spark.createDataFrame(rows, result.schema)
    finally:
        shutil.rmtree(out, ignore_errors=True)


@query(
    "sink_json_roundtrip",
    oracle="""
    SELECT c_mktsegment, count(*) AS n, round(sum(c_acctbal), 2) AS sum_bal
    FROM customer
    GROUP BY c_mktsegment
    """,
)
def sink_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines sink + source roundtrip with explicit schema-on-read,
    aggregated and checked against the original table (lossless numeric
    roundtrip, same contract as the CSV variant)."""
    ensure_utc(spark)
    proj = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    out = tempfile.mkdtemp(prefix="sink_json_roundtrip_")
    try:
        proj.write.mode("overwrite").json(out)
        result = (
            spark.read.schema("c_custkey bigint, c_mktsegment string, c_acctbal double")
            .json(out)
            .groupBy("c_mktsegment")
            .agg(
                F.count("*").alias("n"),
                F.round(F.sum("c_acctbal"), 2).alias("sum_bal"),
            )
        )
        rows = result.collect()
        return spark.createDataFrame(rows, result.schema)
    finally:
        shutil.rmtree(out, ignore_errors=True)


@query(
    "sink_orc_roundtrip",
    oracle="""
    SELECT p_brand, count(*) AS n, round(sum(p_retailprice), 2) AS sum_price
    FROM part
    GROUP BY p_brand
    """,
)
def sink_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink + source roundtrip — the second columnar format Spark
    ships natively (predicate pushdown + column pruning work the same
    as Parquet's).  Write a projection, read it back, aggregate; the
    aggregate equals the oracle computed on the ORIGINAL table, proving
    the roundtrip lossless.  Same eager-materialization shape as the
    other sinks (the temp dir is deleted before returning)."""
    ensure_utc(spark)
    proj = load_table(spark, sf_dir, "part").select("p_brand", "p_retailprice")
    out = tempfile.mkdtemp(prefix="sink_orc_roundtrip_")
    try:
        proj.write.mode("overwrite").orc(out)
        result = (
            spark.read.orc(out)
            .groupBy("p_brand")
            .agg(
                F.count("*").alias("n"),
                F.round(F.sum("p_retailprice"), 2).alias("sum_price"),
            )
        )
        rows = result.collect()
        return spark.createDataFrame(rows, result.schema)
    finally:
        shutil.rmtree(out, ignore_errors=True)


@query(
    "sink_partitioned_pruned",
    oracle="""
    SELECT lang, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS sum_chars
    FROM documents
    WHERE lang IN ('en', 'de')
    GROUP BY lang
    """,
)
def sink_partitioned_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-style partitioned write + partition-pruned read — THE layout
    decision for a 100 TB corpus: ``partitionBy(lang)`` places each
    language in its own directory, and a reader filtering on the
    partition column never opens the other directories (Catalyst turns
    the filter into partition pruning at planning time — verified by
    ``test_partitioned_write_prunes``, which counts the scanned files).
    The aggregate equals the oracle on the ORIGINAL table, proving the
    layout roundtrip lossless."""
    ensure_utc(spark)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    out = tempfile.mkdtemp(prefix="sink_partitioned_")
    try:
        docs.write.mode("overwrite").partitionBy("lang").parquet(out)
        # explicit schema: an EMPTY partitioned layout has no files to
        # infer from (partition values live in dir names), and inference
        # would throw UNABLE_TO_INFER_SCHEMA on a zero-row table
        result = (
            spark.read.schema(docs.schema).parquet(out)
            .where(F.col("lang").isin("en", "de"))
            .groupBy("lang")
            .agg(
                F.count("*").alias("n"),
                F.sum("n_chars").cast("bigint").alias("sum_chars"),
            )
        )
        rows = result.collect()
        return spark.createDataFrame(rows, result.schema)
    finally:
        shutil.rmtree(out, ignore_errors=True)


@query(
    "dq_observe_metrics",
    oracle="""
    SELECT CAST(count(*) AS BIGINT)                        AS n_rows,
           CAST(count(CASE WHEN o_totalprice <= 0 THEN 1 END) AS BIGINT)
                                                           AS n_nonpositive_price,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                                                           AS sum_cents,
           CAST(max(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                                                           AS max_cents
    FROM orders
    """,
)
def dq_observe_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``Observation`` API — Spark's zero-extra-pass pipeline
    observability surface: metrics are accumulated AS A SIDE CHANNEL of
    the main job (here a noop-sink write of the orders scan), not by a
    second scan.  This is how production pipelines assert row counts /
    invariants on every run without paying for a monitoring query; the
    oracle recomputes the same metrics declaratively, proving the
    side-channel values equal the first-class aggregation.

    The bounded ``collect``-like step is ``obs.get`` — four scalars off
    the driver-side listener, independent of data size.  (Spark
    restricts observe() metrics to deterministic non-DISTINCT built-in
    aggregates — count/sum/min/max shapes like these.)"""
    from pyspark.sql import Observation

    ensure_utc(spark)
    obs = Observation("dq")
    orders = load_table(spark, sf_dir, "orders").observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.count(F.when(F.col("o_totalprice") <= 0, 1)).alias("n_nonpositive_price"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias("sum_cents"),
        F.max(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias("max_cents"),
    )
    orders.write.format("noop").mode("overwrite").save()
    m = obs.get

    # sum/max over ZERO rows observe as None (SQL NULL) — keep the
    # NULL rather than int()-crashing on an empty table (the oracle's
    # sum/max are NULL there too; counts are always integers)
    def _i(v):
        return None if v is None else int(v)

    return spark.createDataFrame(
        [
            (
                int(m["n_rows"]),
                int(m["n_nonpositive_price"]),
                _i(m["sum_cents"]),
                _i(m["max_cents"]),
            )
        ],
        "n_rows bigint, n_nonpositive_price bigint, sum_cents bigint, max_cents bigint",
    )


@query(
    "join_dpp_partition_pruned",
    oracle="""
    SELECT strftime(o_orderdate, '%Y-%m') AS month,
           count(*) AS n_orders,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS sum_cents
    FROM orders
    WHERE strftime(o_orderdate, '%Y-%m') IN ('1996-01', '1996-02', '1996-03')
    GROUP BY strftime(o_orderdate, '%Y-%m')
    """,
)
def join_dpp_partition_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning (DPP): the fact table is laid out
    Hive-partitioned by month, the query joins it to a small filtered
    dimension on the PARTITION column, and Spark prunes the fact scan
    AT RUNTIME to only the partitions the dimension selects — the
    filter values come from executing the dim side first (a
    ``dynamicpruningexpression`` subquery in the physical plan,
    asserted by ``tests/test_plan_shapes.py``), not from any static
    predicate on the fact.

    This is THE 100 TB access-path feature static pruning can't give:
    a star-schema query "this quarter's months" never states the
    months literally — they arrive via the calendar/dim join — and
    without DPP the fact side would scan all ~80 month partitions
    instead of 3.  Complements ``sink_partitioned_pruned`` (static
    partition pruning from a literal predicate).

    The dimension here is a 3-row quarter→month table built inline
    (filtered on ``quarter = '1996-Q1'`` so the plan has the selective
    dim Filter DPP keys off); the oracle states the equivalent literal
    month predicate, proving the runtime-pruned join computes exactly
    the statically-pruned aggregate.  Same eager write→read→cleanup
    shape as the other sink queries (bounded collect of the 3-row
    aggregate so the temp layout can be deleted)."""
    ensure_utc(spark)
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_totalprice",
        "o_orderdate",
        F.date_format("o_orderdate", "yyyy-MM").alias("o_month"),
    )
    dim = spark.createDataFrame(
        [("1996-01", "1996-Q1"), ("1996-02", "1996-Q1"),
         ("1996-03", "1996-Q1"), ("1996-04", "1996-Q2")],
        "d_month string, d_quarter string",
    ).where(F.col("d_quarter") == "1996-Q1")
    out = tempfile.mkdtemp(prefix="dpp_fact_")
    try:
        orders.write.mode("overwrite").partitionBy("o_month").parquet(out)
        # explicit schema — zero-row layouts have nothing to infer from
        fact = spark.read.schema(orders.schema).parquet(out)
        result = (
            # broadcast-safe: dim is a 4-row literal quarter map
            fact.join(F.broadcast(dim), fact["o_month"] == dim["d_month"])
            .groupBy("o_month")
            .agg(
                F.count("*").alias("n_orders"),
                F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
                .cast("bigint")
                .alias("sum_cents"),
            )
            .select(F.col("o_month").alias("month"), "n_orders", "sum_cents")
        )
        rows = result.collect()
        return spark.createDataFrame(rows, result.schema)
    finally:
        shutil.rmtree(out, ignore_errors=True)


@query(
    "source_schema_evolution",
    oracle="""
    SELECT lang,
           count(*) AS n_rows,
           count(CASE WHEN doc_id >= 250 THEN n_chars END) AS n_with_chars,
           CAST(coalesce(sum(CASE WHEN doc_id >= 250 THEN n_chars END), 0)
                AS BIGINT) AS sum_chars
    FROM documents
    GROUP BY lang
    """,
)
def source_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on read (``mergeSchema``): a table whose earliest files
    were written BEFORE a column existed — file v1 carries (doc_id,
    lang), file v2 adds ``n_chars`` — is read as ONE relation with the
    union schema; rows from the pre-evolution file surface NULL for
    the later column (never a junk default, never a read error).

    This is a daily reality of a 100 TB lake: columns are added over
    months of ingest and a reader must span the whole history.
    Parquet's footer-per-file schema plus Spark's ``mergeSchema``
    reconciliation (by NAME, not position) is the engine surface being
    pinned; the aggregate proves both halves land with the right
    nullability — counts per lang equal the original table, non-null
    ``n_chars`` exists only for v2 rows.

    Scale note: ``mergeSchema`` reads every file footer at planning
    time — on a million-file table one sets the union schema
    explicitly (``spark.read.schema(...)``) instead; both paths
    produce this same relation, the demo keeps the self-describing
    form.  Same eager write→read→cleanup shape as the sibling sink
    queries (3-ish-row bounded collect)."""
    ensure_utc(spark)
    docs = load_table(spark, sf_dir, "documents")
    out = tempfile.mkdtemp(prefix="schema_evo_")
    try:
        docs.where(F.col("doc_id") < 250).select("doc_id", "lang").write.mode(
            "overwrite"
        ).parquet(f"{out}/v1")
        docs.where(F.col("doc_id") >= 250).select(
            "doc_id", "lang", "n_chars"
        ).write.mode("overwrite").parquet(f"{out}/v2")
        merged = spark.read.option("mergeSchema", "true").parquet(
            f"{out}/v1", f"{out}/v2"
        )
        result = merged.groupBy("lang").agg(
            F.count("*").alias("n_rows"),
            F.count("n_chars").alias("n_with_chars"),
            F.coalesce(F.sum("n_chars"), F.lit(0))
            .cast("bigint")
            .alias("sum_chars"),
        )
        rows = result.collect()
        return spark.createDataFrame(rows, result.schema)
    finally:
        shutil.rmtree(out, ignore_errors=True)


#: column spec for the profiler oracle: (name, kind) drives which
#: metric rows the hand-written oracle emits; the Spark side derives
#: the SAME plan from df.schema — the point of the query is that the
#: engine side is GENERIC (works on any table) while the oracle pins
#: this table's profile exactly
_PROFILE_COLS = [
    ("o_orderkey", "int"),
    ("o_custkey", "int"),
    ("o_orderstatus", "str"),
    ("o_totalprice", "double"),
    ("o_orderdate", "ts"),
    ("o_orderpriority", "str"),
]


def _profile_oracle() -> str:
    parts = []
    for name, kind in _PROFILE_COLS:
        parts.append(
            f"SELECT '{name}' AS column_name, 'n_nulls' AS metric,"
            f" CAST(count(*) - count({name}) AS DOUBLE) AS value_num,"
            f" CAST(NULL AS VARCHAR) AS value_str FROM orders"
        )
        parts.append(
            f"SELECT '{name}', 'n_distinct',"
            f" CAST(count(DISTINCT {name}) AS DOUBLE), NULL FROM orders"
        )
        if kind == "int":
            parts.append(
                f"SELECT '{name}', 'min', CAST(min({name}) AS DOUBLE),"
                f" NULL FROM orders"
            )
            parts.append(
                f"SELECT '{name}', 'max', CAST(max({name}) AS DOUBLE),"
                f" NULL FROM orders"
            )
        elif kind == "double":
            parts.append(
                f"SELECT '{name}', 'min', round(min({name}), 4),"
                f" NULL FROM orders"
            )
            parts.append(
                f"SELECT '{name}', 'max', round(max({name}), 4),"
                f" NULL FROM orders"
            )
        elif kind == "ts":
            parts.append(
                f"SELECT '{name}', 'min', NULL,"
                f" strftime(min({name}), '%Y-%m-%d') FROM orders"
            )
            parts.append(
                f"SELECT '{name}', 'max', NULL,"
                f" strftime(max({name}), '%Y-%m-%d') FROM orders"
            )
        else:
            parts.append(
                f"SELECT '{name}', 'min', NULL, min({name}) FROM orders"
            )
            parts.append(
                f"SELECT '{name}', 'max', NULL, max({name}) FROM orders"
            )
    return "\nUNION ALL\n".join(parts)


def profile_table(df: DataFrame) -> DataFrame:
    """Generic one-pass column profiler: for EVERY column of any input
    DataFrame emit (column_name, metric, value_num, value_str) rows —
    null count, distinct count, and type-appropriate min/max (numerics
    rounded, timestamps rendered to dates, strings verbatim).  All
    metrics compute in ONE aggregate over one scan (a single
    ``df.agg`` with 4·|columns| expressions — Spark evaluates them in
    one pass, the multi-distinct via EXPAND), then pivot to long form
    with ``stack``-style unioned literals driver-side (the aggregate
    result is one row; the reshape is free)."""
    from pyspark.sql.types import (
        DoubleType,
        FloatType,
        IntegerType,
        LongType,
        TimestampNTZType,
        TimestampType,
    )

    aggs = []
    for f_ in df.schema.fields:
        c = f_.name
        aggs.append((F.count(F.lit(1)) - F.count(c)).alias(f"{c}__n_nulls"))
        aggs.append(F.countDistinct(c).alias(f"{c}__n_distinct"))
        if isinstance(f_.dataType, (IntegerType, LongType)):
            aggs.append(F.min(c).cast("double").alias(f"{c}__min"))
            aggs.append(F.max(c).cast("double").alias(f"{c}__max"))
        elif isinstance(f_.dataType, (DoubleType, FloatType)):
            aggs.append(F.round(F.min(c), 4).alias(f"{c}__min"))
            aggs.append(F.round(F.max(c), 4).alias(f"{c}__max"))
        elif isinstance(f_.dataType, (TimestampType, TimestampNTZType)):
            aggs.append(
                F.date_format(F.min(c), "yyyy-MM-dd").alias(f"{c}__min")
            )
            aggs.append(
                F.date_format(F.max(c), "yyyy-MM-dd").alias(f"{c}__max")
            )
        else:
            aggs.append(F.min(c).alias(f"{c}__min"))
            aggs.append(F.max(c).alias(f"{c}__max"))
    wide = df.agg(*aggs)
    rows = []
    for f_ in wide.schema.fields:
        col, metric = f_.name.rsplit("__", 1)
        is_num = f_.dataType.typeName() in ("double", "long", "bigint")
        rows.append(
            F.struct(
                F.lit(col).alias("column_name"),
                F.lit(metric).alias("metric"),
                (
                    F.col(f_.name).cast("double")
                    if is_num
                    else F.lit(None).cast("double")
                ).alias("value_num"),
                (
                    F.lit(None).cast("string")
                    if is_num
                    else F.col(f_.name).cast("string")
                ).alias("value_str"),
            )
        )
    return wide.select(F.explode(F.array(*rows)).alias("m")).select(
        "m.column_name", "m.metric", "m.value_num", "m.value_str"
    )


@query("dq_profile_all_columns", oracle=_profile_oracle())
def dq_profile_all_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Automatic whole-table profiling — the engine derives null
    counts, distinct counts, and typed min/max for EVERY column FROM
    THE SCHEMA (no per-table code), the way warehouse auto-profilers
    (Deequ profiles, dbt-osmosis, BigQuery column stats) work; the
    oracle hand-states the expected 24-row profile of ``orders``,
    pinning that the generic derivation produces exactly the
    per-column truth.

    One scan, one aggregate (the distinct counts share the EXPAND),
    1-row result reshaped to long form in-plan — at 100 TB this is
    strictly cheaper than the N separate profiling queries it
    replaces.  Complements ``dq_observe_metrics`` (pipeline
    side-channel) and ``dq_constraint_check`` (assertions)."""
    ensure_utc(spark)
    return profile_table(load_table(spark, sf_dir, "orders"))


@query(
    "sink_xml_roundtrip",
    oracle="""
    SELECT n_regionkey,
           count(*) AS n,
           CAST(sum(s_suppkey) AS BIGINT) AS sum_suppkey
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    GROUP BY n_regionkey
    """,
)
def sink_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML sink + source roundtrip — Spark 4's NATIVE XML data source
    (the spark-xml package folded into core, SPARK-44265): write the
    supplier⋈nation projection as row-tagged XML, read it back with
    explicit schema-on-read, aggregate; the aggregate equals the
    oracle computed on the ORIGINAL tables, proving the roundtrip
    lossless.  Integer-only measures so text serialization cannot
    introduce float drift.  Same eager-materialization shape as the
    other sink roundtrips (temp dir deleted before returning).  XML is
    the interchange format the enterprise-ingest edge of a corpus
    pipeline still meets (feeds, sitemaps, PubMed/patent dumps);
    schema-on-read + splittable row tags make it a parallel scan like
    CSV.  Reference heritage: text sink (``src/worker.cc:231-243``),
    upgraded to a structured hierarchical format."""
    ensure_utc(spark)
    sup = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nat = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    # broadcast-safe: nation is a bounded 25-row dimension
    proj = sup.join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey).select(
        "s_suppkey", "n_regionkey"
    )
    out = tempfile.mkdtemp(prefix="sink_xml_roundtrip_")
    try:
        proj.write.format("xml").option("rootTag", "suppliers").option(
            "rowTag", "supplier"
        ).mode("overwrite").save(out)
        result = (
            spark.read.format("xml")
            .schema("s_suppkey bigint, n_regionkey bigint")
            .option("rowTag", "supplier")
            .load(out)
            .groupBy("n_regionkey")
            .agg(
                F.count("*").alias("n"),
                F.sum("s_suppkey").cast("bigint").alias("sum_suppkey"),
            )
        )
        rows = result.collect()
        return spark.createDataFrame(rows, result.schema)
    finally:
        shutil.rmtree(out, ignore_errors=True)
