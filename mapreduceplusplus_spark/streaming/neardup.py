"""Continuous-ingest near-dedup: each arriving document is judged
against everything that arrived before it (the corpus and the stream's
own earlier documents) without rescanning corpus text.

Two forms, one contract:

* ``stream_dedup_near`` (registered, DuckDB-oracled) is the batch
  replay.  A streamed doc (``doc_id % INGEST_NEAR_MOD = 0``) is a
  near-dup iff a corpus doc, or a streamed doc with a smaller
  ``doc_id``, shares a MinHash band bucket with it and passes exact
  Jaccard at ``JACCARD_T``.  An earlier streamed doc counts whatever
  its own verdict, so micro-batch boundaries cannot change a verdict.
  ``batch_seq = doc_id DIV STREAM_BATCH_WIDTH``: arrival order is
  doc_id order.

* ``streaming_neardup_pipeline`` is the Structured Streaming form
  (``readStream`` → ``foreachBatch``) over the near-dup store of
  ``llm/dedup.py`` (``NEARDUP_BANDS``/``NEARDUP_SHINGLES``; ``src`` is
  ``'corpus'`` for ``build_neardup_store`` rows and ``'stream'`` for
  appended batches).  Each micro-batch bands its own docs, probes the
  band partitions named by its ``pk`` census, verifies against the
  shingle partitions named by the candidates' ``sk`` census (Spark
  prunes the rest at file listing), writes its report and appends its
  bands and shingles, so the next micro-batch sees it.  Fed in arrival
  order, the union of its reports equals ``stream_dedup_near``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from mapreduceplusplus_spark.llm.dedup import (
    INGEST_NEAR_MOD,
    JACCARD_T_DEN,
    JACCARD_T_NUM,
    MINHASH_BAND_CTE,
    _doc_bands,
    _doc_shingles,
    _minhash_bands,
    _shingle_frame,
    _spread,
    _verify_sql,
    candidate_sks,
    neardup_append,
    neardup_candidates,
    neardup_verdicts,
)
from mapreduceplusplus_spark.registry import query
from mapreduceplusplus_spark.session import ensure_utc, sql
from mapreduceplusplus_spark.sources.tables import load_table

#: micro-batch width in doc_id units: arrival order is doc_id order,
#: so ``batch_seq = doc_id DIV STREAM_BATCH_WIDTH`` tiles the stream
#: into fixed-width micro-batches (the fixture's 20 streamed docs span
#: ids 0..475 → 3 batches; larger SFs simply have more batches, which
#: is what a longer-running stream looks like)
STREAM_BATCH_WIDTH = 200

#: the report columns over a ``(mc, ms)`` verdict row, NULL for none
_COUNTS = """coalesce(mc, 0L) AS matches_corpus,
               coalesce(ms, 0L) AS matches_stream,
               CASE WHEN coalesce(mc, 0L) + coalesce(ms, 0L) > 0
                    THEN 'drop' ELSE 'keep' END AS verdict"""


@query(
    "stream_dedup_near",
    oracle=f"""
    WITH {MINHASH_BAND_CTE},
    sb AS (SELECT * FROM band WHERE doc_id % {INGEST_NEAR_MOD} = 0),
    cand AS (
      SELECT DISTINCT s.doc_id AS ds, o.doc_id AS dd,
             (o.doc_id % {INGEST_NEAR_MOD} <> 0) AS is_corpus
      FROM sb s JOIN band o
        ON s.band = o.band AND s.bkey = o.bkey
       AND (o.doc_id % {INGEST_NEAR_MOD} <> 0 OR o.doc_id < s.doc_id)
    ),
    cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT c.ds, c.dd, c.is_corpus, count(*) AS i
      FROM cand c
      JOIN sh x ON x.doc_id = c.ds
      JOIN sh y ON y.doc_id = c.dd AND y.s = x.s
      GROUP BY c.ds, c.dd, c.is_corpus
    ),
    ver AS (
      SELECT i.ds,
             count(*) FILTER (i.is_corpus)     AS mc,
             count(*) FILTER (NOT i.is_corpus) AS ms
      FROM inter i
      JOIN cnt a ON a.doc_id = i.ds
      JOIN cnt b ON b.doc_id = i.dd
      WHERE i.i * {JACCARD_T_DEN} >= {JACCARD_T_NUM} * (a.n + b.n - i.i)
      GROUP BY i.ds
    )
    SELECT d.doc_id,
           CAST(d.doc_id // {STREAM_BATCH_WIDTH} AS INTEGER) AS batch_seq,
           COALESCE(v.mc, 0) AS matches_corpus,
           COALESCE(v.ms, 0) AS matches_stream,
           CASE WHEN COALESCE(v.mc, 0) + COALESCE(v.ms, 0) > 0
                THEN 'drop' ELSE 'keep' END AS verdict
    FROM (SELECT doc_id FROM documents
          WHERE doc_id % {INGEST_NEAR_MOD} = 0) d
    LEFT JOIN ver v ON v.ds = d.doc_id
    """,
)
def stream_dedup_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrival-order near-dedup report, batch form (see module
    docstring).  One row per streamed doc (``doc_id %
    INGEST_NEAR_MOD = 0`` — today's crawl, the same fixture split as
    ``dedup_incremental_ingest_near``): its micro-batch, verified
    near-dup match counts against the corpus and against
    earlier-arriving streamed docs, and the keep/drop verdict.

    Plan shape: the shared memoized MinHash band table feeds one
    (band, bkey) equi-join with the arrival-order predicate applied
    INSIDE the join (no pair ever materializes outside a shared
    bucket), then exact Jaccard on the candidates' distinct-shingle
    arrays (``array_intersect`` on a candidate set that tracks true
    pairs), one rollup per streamed doc, and a left join back for the
    all-clear rows.  Integer cross-multiplied threshold — the verify
    is bit-exact in both engines."""
    ensure_utc(spark)
    # one parsed statement over the memoized frames: one Catalyst
    # analysis where DataFrame steps pay one each
    return sql(
        spark,
        f"""
        WITH cand AS (
          SELECT DISTINCT ds, dd, is_corpus FROM (
            SELECT doc_id AS ds, band, bkey FROM {{bands}}
            WHERE doc_id % {INGEST_NEAR_MOD} = 0)
          JOIN (
            SELECT doc_id AS dd, band, bkey,
                   doc_id % {INGEST_NEAR_MOD} <> 0 AS is_corpus
            FROM {{bands}})
          USING (band, bkey)
          WHERE is_corpus OR dd < ds
        ),
        ver AS ({_verify_sql("SELECT doc_id AS dd, sh AS shb FROM {sh}")})
        SELECT ds AS doc_id,
               CAST(ds DIV {STREAM_BATCH_WIDTH} AS INT) AS batch_seq,
               {_COUNTS}
        FROM (SELECT doc_id AS ds FROM {{docs}}
              WHERE doc_id % {INGEST_NEAR_MOD} = 0)
        LEFT JOIN ver USING (ds)""",
        bands=_doc_bands(spark, sf_dir),
        sh=_doc_shingles(spark, sf_dir),
        docs=load_table(spark, sf_dir, "documents"),
    )


def build_neardup_store(spark: SparkSession, docs: DataFrame, index_dir: str) -> None:
    """Write the ``(doc_id, text)`` corpus ``docs`` to the near-dup
    store at ``index_dir`` with ``src = 'corpus'``."""
    sh = _shingle_frame(_spread(spark, docs))
    neardup_append(index_dir, "corpus", sh, _minhash_bands(sh))


def streaming_neardup_pipeline(
    spark: SparkSession,
    source_dir: str,
    schema,
    index_dir: str,
    report_dir: str,
):
    """``readStream`` over ``(doc_id, text)`` parquet files →
    ``foreachBatch``; the caller attaches ``.start()``.  Each
    micro-batch appends its ``(doc_id, batch_seq, matches_corpus,
    matches_stream, verdict)`` report to ``report_dir`` (``batch_seq``
    is the epoch id) and its own bands and shingles to the store at
    ``index_dir``."""

    def on_batch(bdf: DataFrame, batch_id: int) -> None:
        sp = bdf.sparkSession
        sh = _shingle_frame(bdf).persist()
        bands = _minhash_bands(sh).persist()
        cand = neardup_candidates(sp, index_dir, bands).persist()
        try:
            sql(
                sp,
                f"""
                SELECT ds AS doc_id, {int(batch_id)} AS batch_seq, {_COUNTS}
                FROM (SELECT doc_id AS ds FROM {{docs}})
                LEFT JOIN {{ver}} USING (ds)""",
                docs=bdf,
                ver=neardup_verdicts(
                    sp, index_dir, cand, sh, bands, candidate_sks(cand)
                ),
            ).write.mode("append").parquet(report_dir)
            neardup_append(index_dir, "stream", sh, bands)
        finally:
            for df in (cand, bands, sh):
                df.unpersist()

    stream = spark.readStream.schema(schema).parquet(source_dir)
    return stream.writeStream.foreachBatch(on_batch)
