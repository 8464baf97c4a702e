"""The MapReduce UDF surface as declared queries (SURVEY.md §2.B rows
``udtf_flatmap_generator``, ``udaf_fold``, ``mr_pipeline_api``).

These are the reference's *defining feature*: arbitrary user Python in
the map (``/root/reference/mr/word_count.h:16-32`` — a coroutine yielding
KV pairs) and reduce (``mr/word_count.h:34-38`` — a fold over one key's
values), driven by the engine (``/root/reference/src/worker.cc:135,
173-182,237-243``).  The engine API lives in
``mapreduceplusplus_spark.mr``; these queries instantiate it with the
reference's shipped word-count semantics (plus a numeric fold) so the
DuckDB oracle can hash-check the *instantiation* even though the generic
contract is not SQL-expressible (SURVEY §2.B ground rules).

Scale posture: the map/reduce callables run as Arrow-batched
``mapInPandas`` / ``applyInPandas`` — the deliberate slow-path escape
hatch.  Everything here is embarrassingly parallel per batch / per key
group; the single shuffle is the ``repartition(R, key)`` inside
``map_reduce`` (the reference's ``hash(key) % R``, ``src/worker.cc:176-179``).
"""

from __future__ import annotations

import re

import pandas as pd
from collections.abc import Iterable
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduceplusplus_spark.mr import flat_map, fold_by_key, map_reduce
# the Q1 text is SHARED with agg_groupby's oracle (one constant) —
# executed verbatim on both engines by sql_passthrough_q1 below
from mapreduceplusplus_spark.operators.aggregates import TPCH_Q1_SQL as _Q1_SHARED_SQL
from mapreduceplusplus_spark.registry import query
from mapreduceplusplus_spark.sources.tables import load_table

#: the reference tokenizer (``mr/word_count.h:22-31``): maximal runs of
#: ASCII letters, case-sensitive — compiled once per executor interpreter.
_TOKEN = re.compile("[A-Za-z]+")


def _wc_map(row: dict[str, Any]) -> Iterable[tuple[str, int]]:
    """Python port of the reference map coroutine: yield (word, 1) per
    token of one document (stands in for one input file)."""
    for word in _TOKEN.findall(row["text"] or ""):
        yield (word, 1)


def _sum_reduce(key: Any, values: list[Any]):
    """The reference reduce: ``std::accumulate(first, last, 0)``
    (``mr/word_count.h:34-38``)."""
    return sum(values)


@query(
    "udtf_flatmap_generator",
    oracle="""
    SELECT unnest(regexp_extract_all(text, '[A-Za-z]+')) AS word,
           CAST(1 AS BIGINT) AS one
    FROM documents
    """,
)
def udtf_flatmap_generator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UDTF stage alone: the user generator over every row, distributed
    via Arrow-batched ``mapInPandas`` (lazy per batch — the coroutine
    semantics of ``include/generator.h`` map onto the iterator-of-batches
    protocol).  Output is the raw (word, 1) stream the reference's map
    tasks write to shuffle files — hash-checked against SQL tokenization.
    """
    docs = load_table(spark, sf_dir, "documents").select("text")
    return flat_map(docs, _wc_map, schema="word string, one bigint")


@query(
    "udaf_fold",
    oracle="""
    SELECT l_orderkey AS key, round(sum(l_quantity), 2) AS value
    FROM lineitem
    GROUP BY l_orderkey
    """,
)
def udaf_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UDAF stage alone: the user fold per key (``V reduce(K, values)``)
    via ``applyInPandas`` — one Arrow batch per key group, many groups
    per task.  Folds l_quantity per order; rounded on both sides so
    Python float summation order cannot flip the hash."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("key"), F.col("l_quantity").alias("value")
    )
    folded = fold_by_key(li, "key", "value", _sum_reduce)
    return folded.select("key", F.round("value", 2).alias("value"))


@query(
    "mr_pipeline_api",
    oracle="""
    SELECT word, count(*) AS cnt
    FROM (SELECT unnest(regexp_extract_all(text, '[A-Za-z]+')) AS word
          FROM documents) t
    GROUP BY word
    """,
)
def mr_pipeline_api(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end ``map_reduce(df, map_fn, reduce_fn, R)`` — the full
    reference job (``run_demo.sh`` with ``MR_REDUCE_NUM_TASKS=3``):
    user map generator → map-side combine (the combiner the reference
    lacks) → R-way hash shuffle → user fold per key.  The word-count
    instantiation hash-matches the SQL tokenization oracle, proving the
    pipeline reproduces the reference's flagship output exactly."""
    docs = load_table(spark, sf_dir, "documents").select("text")
    return map_reduce(
        docs,
        _wc_map,
        _sum_reduce,
        num_partitions=3,
        kv_schema="word string, cnt bigint",
        combine_fn=_sum_reduce,
    )


@query(
    "udtf_python_native",
    oracle="""
    SELECT doc_id, w AS word, CAST(len(w) AS INT) AS wlen
    FROM (SELECT doc_id,
                 unnest(regexp_extract_all(text, '[A-Za-z]+')) AS w
          FROM documents)
    """,
)
def udtf_python_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4's NATIVE Python UDTF API (``@udtf`` class + LATERAL
    call): the closest literal analogue of the reference's map
    coroutine — a user class whose ``eval`` yields any number of rows
    per input row, invoked per row from SQL.

    Deliberately registered ALONGSIDE ``udtf_flatmap_generator`` (the
    Arrow ``mapInPandas`` form of the same computation): the class UDTF
    is row-at-a-time Python — the API-parity demonstration — while the
    Arrow form is the throughput path a 100 TB job must use (~10-100×
    per the Pandas-UDF vs row-UDF gap)."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="word string, wlen int")
    class SplitWords:
        def eval(self, text: str):
            for w in _TOKEN.findall(text or ""):
                yield (w, len(w))

    spark.udtf.register("split_words", SplitWords)
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("udtf_docs")
    return spark.sql(
        """
        SELECT d.doc_id, s.word, s.wlen
        FROM udtf_docs d, LATERAL split_words(d.text) s
        """
    )


@query(
    "udtf_arrow_vectorized",
    oracle="""
    SELECT doc_id, w AS word, CAST(len(w) AS INT) AS wlen
    FROM (SELECT doc_id,
                 unnest(regexp_extract_all(text, '[A-Za-z]+')) AS w
          FROM documents)
    """,
)
def udtf_arrow_vectorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4.1's VECTORIZED Python UDTF (``@arrow_udtf``) — the
    throughput twin of ``udtf_python_native`` (VERDICT r9 stretch):
    ``eval`` receives whole PyArrow RecordBatches and yields Arrow
    Tables, so the word explosion runs as pandas vectorized
    ``str.findall`` + ``explode`` over each batch with ZERO per-row
    Python dispatch — the same computation the row-at-a-time class
    UDTF performs one ``yield`` at a time.  Because the batch carries
    every input column, the correlation key (``doc_id``) flows through
    the table argument directly — no LATERAL join needed.

    This completes the UDTF taxonomy: native row UDTF (API parity),
    Arrow ``mapInPandas`` generator (``udtf_flatmap_generator``), and
    now the first-class vectorized UDTF.  Measured per-row cost vs the
    row UDTF is recorded in BASELINE.md.  Scale: map-side only — one
    Arrow exchange in the scan stage, no shuffle; batch size follows
    ``spark.sql.execution.arrow.maxRecordsPerBatch``.  Reference
    heritage: the map coroutine contract (``mr/word_count.h:16-21``),
    vectorized face."""
    import pyarrow as pa
    from pyspark.sql.functions import arrow_udtf

    @arrow_udtf(returnType="doc_id bigint, word string, wlen int")
    class SplitWordsArrow:
        def eval(self, batch: "pa.RecordBatch"):
            pdf = batch.to_pandas()
            words = pdf["text"].fillna("").str.findall(_TOKEN)
            out = pdf[["doc_id"]].assign(word=words).explode("word")
            out = out.dropna(subset=["word"])
            out["wlen"] = out["word"].str.len()
            schema = pa.schema(
                [
                    ("doc_id", pa.int64()),
                    ("word", pa.string()),
                    ("wlen", pa.int32()),
                ]
            )
            yield pa.Table.from_pandas(
                out[["doc_id", "word", "wlen"]], preserve_index=False
            ).cast(schema)

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return SplitWordsArrow(docs.asTable())


@query("sql_passthrough_q1", oracle=_Q1_SHARED_SQL)
def sql_passthrough_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The raw-SQL API surface: register the parquet table as a temp
    view and run the flagship Q1 through ``spark.sql`` — the SAME text
    the DuckDB oracle executes (dialect-intersection SQL, no
    translation).  Companion to ``agg_groupby``, which builds the
    identical plan through the DataFrame API: Catalyst compiles both
    entry points to one logical plan, so this row pins the SQL parser
    path specifically."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(_Q1_SHARED_SQL)


@query(
    "udf_pandas_scalar",
    oracle="""
    SELECT doc_id,
           CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
                AS BIGINT) AS n_letters,
           CAST(length(text) AS BIGINT) AS n_chars
    FROM documents
    """,
)
def udf_pandas_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCALAR ``@pandas_udf`` — the Arrow-vectorized per-row UDF form
    (Series → Series), completing the Python-UDF taxonomy next to the
    native row UDTF (``udtf_python_native``), the Arrow ``flat_map``
    generator, the ``applyInPandas`` fold, and the ``mapInPandas`` /
    ``mapInArrow`` decoders: the letter-count here is computed by
    pandas' vectorized ``str.count`` over whole Arrow batches (no
    per-row Python dispatch — the 10-100× margin over row UDFs the
    charter cites), and the DuckDB oracle recomputes it with a pure-SQL
    regexp, so the UDF's Python semantics are differentialed exactly.
    Scale: map-side only — the UDF adds one Arrow exchange to the scan
    stage, no shuffle, and vectorization keeps the Python cost
    per-batch.  Reference heritage: the map-UDF contract
    (``mr/word_count.h:16-21``) — this is its scalar-column face."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("bigint")
    def n_letters(s: pd.Series) -> pd.Series:
        return s.str.count(r"[A-Za-z]").astype("int64")

    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        n_letters(F.col("text")).alias("n_letters"),
        F.length("text").cast("bigint").alias("n_chars"),
    )


@query(
    "udaf_pandas_grouped_agg",
    oracle="""
    SELECT l_returnflag AS flag,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                    * CAST(round(l_quantity) AS BIGINT))
                // CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT)
                AS BIGINT) AS wavg_price_cents,
           count(*) AS n_rows
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def udaf_pandas_grouped_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPED_AGG ``@pandas_udf`` — the vectorized custom-AGGREGATE
    form (Series… → scalar), the last Python-UDF shape the taxonomy
    was missing: usable directly inside ``groupBy().agg()`` (and over
    unbounded windows), unlike the ``applyInPandas`` fold which owns
    the whole group's frame.  The UDAF computes a quantity-weighted
    mean price in integer cents — all arithmetic on int64 inside
    pandas (cents·qty products, integer floor division), so the result
    is partition-order-exact and the DuckDB oracle reproduces it with
    pure-SQL integer math.  Scale: Spark evaluates GROUPED_AGG pandas
    UDFs with partial aggregation DISABLED — each group's full column
    set crosses the shuffle (unlike built-in sum/avg which combine
    map-side).  That is the honest cost of a custom Python aggregate;
    the docstring of ``mr.fold_by_key`` documents when the
    sort-based fold wins instead.  Reference heritage: the reduce-UDF
    contract (``mr/word_count.h:24-31``) — its vectorized face."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("bigint")
    def wavg_cents(cents: pd.Series, qty: pd.Series) -> int:
        num = int((cents.astype("int64") * qty.astype("int64")).sum())
        den = int(qty.astype("int64").sum())
        return num // den if den else 0

    # Spark forbids mixing GROUPED_AGG pandas UDFs with built-in
    # aggregates in one agg() (INVALID_PANDAS_UDF_PLACEMENT), so the
    # row count is a second pandas UDAF — the restriction itself is
    # part of the surface this query documents
    @pandas_udf("bigint")
    def n_rows(cents: pd.Series) -> int:
        return len(cents)

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("flag"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("cents"),
        F.round(F.col("l_quantity")).cast("bigint").alias("qty"),
    )
    return li.groupBy("flag").agg(
        wavg_cents(F.col("cents"), F.col("qty")).alias("wavg_price_cents"),
        n_rows(F.col("cents")).alias("n_rows"),
    )
