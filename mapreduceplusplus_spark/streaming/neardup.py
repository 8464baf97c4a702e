"""Continuous-ingest NEAR-dedup (SURVEY §2.B row ``stream_dedup_near``)
— the streaming twin of ``dedup_incremental_ingest_near``.

The reference has no streaming (SURVEY §0); this is the charter's
training-data-pipeline extension for the shape production crawls
actually take: documents arrive CONTINUOUSLY, and each arrival must be
judged against everything that arrived before it — the frozen corpus
AND the stream's own earlier documents — without ever rescanning
corpus text.

Two forms, same contract (the family convention set by
``stream_dedup`` / ``stream_session_window``):

* ``stream_dedup_near`` (registered, DuckDB-oracled) is the BATCH
  replay of the arrival-order semantic: a streamed doc ``d`` is a
  near-dup iff some document with an earlier arrival position — any
  corpus doc, or a streamed doc with smaller ``doc_id`` — shares a
  MinHash LSH band bucket with it AND passes exact-Jaccard
  verification at ``JACCARD_T``.  The report carries per-doc verified
  match counts split by origin (``matches_corpus`` /
  ``matches_stream``) plus the micro-batch the doc falls into
  (``batch_seq = doc_id DIV STREAM_BATCH_WIDTH`` — arrival order is
  doc_id order, so fixed-width id ranges ARE the micro-batches).
  The greedy pairwise rule matches ``dedup_incremental_ingest_near``:
  an earlier streamed doc counts as a match regardless of its OWN
  verdict — which is exactly what an append-all-probed-docs index
  yields, so micro-batch boundaries cannot change any verdict.

* ``streaming_neardup_pipeline`` is the real Structured Streaming
  wiring: ``readStream → foreachBatch``; every micro-batch (a) bands
  its own documents in one shuffle-free pass, (b) probes the PERSISTED
  band store (``pk``-partitioned like the incremental-ingest index, so
  the probe reads only its own buckets via ``PartitionFilters``),
  (c) exact-verifies candidates against the persisted SHINGLE store
  (``sk``-pruned — corpus text is never rescanned), (d) self-joins its
  own bands for in-batch smaller-id matches, and (e) APPENDS its bands
  and shingles to the stores (a dynamic-partition parquet append) so
  the next micro-batch sees this one.  Batch/stream equivalence —
  including a near-pair SPLIT ACROSS a micro-batch boundary — is
  pinned in ``tests/test_streaming.py``.

Scale: both probe sides shuffle ONCE on (band, bkey); candidate volume
tracks true near-pairs (never |batch|·|history|); the recurring cost
per micro-batch is O(batch) band computation + a partition-pruned read
of O(probed buckets), and the store append is O(batch).  State lives
in the store, not in executor memory — at 100 TB the "state" is a
parquet dataset a micro-batch prunes at file-listing time, the same
layout argument as ``dedup_incremental_ingest_near`` (llm/dedup.py).
Reference heritage: none (SURVEY §2 charter extension, stream family).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduceplusplus_spark.llm.dedup import (
    INGEST_NEAR_MOD,
    JACCARD_T_DEN,
    JACCARD_T_NUM,
    MINHASH_BAND_CTE,
    _INGEST_NB,
    _INGEST_NS,
    _doc_shingles,
    _minhash_bands,
    shingles_of_tokens,
    tokens,
)
from mapreduceplusplus_spark.registry import query
from mapreduceplusplus_spark.session import ensure_utc, sql
from mapreduceplusplus_spark.sources.memo import memo
from mapreduceplusplus_spark.sources.tables import load_table

#: micro-batch width in doc_id units: arrival order is doc_id order,
#: so ``batch_seq = doc_id DIV STREAM_BATCH_WIDTH`` tiles the stream
#: into fixed-width micro-batches (the fixture's 20 streamed docs span
#: ids 0..475 → 3 batches; larger SFs simply have more batches, which
#: is what a longer-running stream looks like)
STREAM_BATCH_WIDTH = 200


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
    sh = _doc_shingles(spark, sf_dir)
    bands = memo(
        spark, sf_dir, "documents", "mh_bands", lambda: _minhash_bands(sh).persist()
    )
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
        ver AS (
          SELECT ds,
                 CAST(sum(CASE WHEN is_corpus THEN 1 ELSE 0 END) AS BIGINT) AS mc,
                 CAST(sum(CASE WHEN is_corpus THEN 0 ELSE 1 END) AS BIGINT) AS ms
          FROM cand
          JOIN (SELECT doc_id AS ds, sh AS sha FROM {{sh}}) USING (ds)
          JOIN (SELECT doc_id AS dd, sh AS shb FROM {{sh}}) USING (dd)
          WHERE size(array_intersect(sha, shb)) * {JACCARD_T_DEN}
                >= {JACCARD_T_NUM}
                   * (size(sha) + size(shb) - size(array_intersect(sha, shb)))
          GROUP BY ds
        )
        SELECT ds AS doc_id,
               CAST(ds DIV {STREAM_BATCH_WIDTH} AS INT) AS batch_seq,
               coalesce(mc, 0L) AS matches_corpus,
               coalesce(ms, 0L) AS matches_stream,
               CASE WHEN coalesce(mc, 0L) + coalesce(ms, 0L) > 0
                    THEN 'drop' ELSE 'keep' END AS verdict
        FROM (SELECT doc_id AS ds FROM {{docs}}
              WHERE doc_id % {INGEST_NEAR_MOD} = 0)
        LEFT JOIN ver USING (ds)""",
        bands=bands,
        sh=sh,
        docs=load_table(spark, sf_dir, "documents"),
    )


# ---------------------------------------------------------------------------
# real Structured Streaming wiring (exercised in tests/test_streaming.py)
# ---------------------------------------------------------------------------

def _pk() -> F.Column:
    """Band-bucket partition key (built lazily — a module-level Column
    would need an active SparkContext at import time, which the
    registry's no-session loaders don't have)."""
    return (
        F.col("band") * _INGEST_NB + F.pmod(F.col("bkey"), F.lit(_INGEST_NB))
    ).cast("int")


_BAND_SCHEMA = "doc_id BIGINT, band INT, bkey BIGINT, src STRING, pk INT"
_SHINGLE_SCHEMA = "doc_id BIGINT, sh ARRAY<STRING>, src STRING, sk INT"


def _bands_of(docs: DataFrame) -> DataFrame:
    """(doc_id, band, bkey) for a free-standing (doc_id, text) frame —
    the same md5 universal family as the corpus path, computed in one
    shuffle-free pass (micro-batches are small; no memoization)."""
    sh = docs.select(
        "doc_id", shingles_of_tokens(tokens(F.col("text"))).alias("sh")
    ).where(F.size("sh") > 0)
    return _minhash_bands(sh), sh


def build_neardup_store(spark: SparkSession, docs: DataFrame, index_dir: str) -> None:
    """One-time corpus store build: ``bands/`` partitioned by ``pk``
    (band-bucket) and ``shingles/`` partitioned by ``sk`` (doc_id mod
    ``_INGEST_NS``) — the ``dedup_incremental_ingest_near`` layout with
    an ``src`` origin column so reports can split corpus vs stream
    matches.  Micro-batches append to the same directories."""
    bands, sh = _bands_of(docs)
    (
        bands.withColumn("src", F.lit("corpus"))
        .withColumn("pk", _pk())
        .repartition(8, F.col("pk"))
        .write.mode("overwrite")
        .partitionBy("pk")
        .parquet(os.path.join(index_dir, "bands"))
    )
    (
        sh.withColumn("src", F.lit("corpus"))
        .withColumn("sk", F.pmod(F.col("doc_id"), F.lit(_INGEST_NS)).cast("int"))
        .repartition(4, F.col("sk"))
        .write.mode("overwrite")
        .partitionBy("sk")
        .parquet(os.path.join(index_dir, "shingles"))
    )


def streaming_neardup_pipeline(
    spark: SparkSession,
    source_dir: str,
    schema,
    index_dir: str,
    report_dir: str,
):
    """``readStream`` over (doc_id, text) parquet files →
    ``foreachBatch``: probe the persisted stores, verify, report, and
    append the micro-batch's own bands/shingles so the NEXT batch sees
    it.  Returns the started-query handle factory (caller attaches
    ``.start()`` and drives with ``processAllAvailable``).

    Each batch report row carries (doc_id, batch_seq, matches_corpus,
    matches_stream, verdict) — ``batch_seq`` is foreachBatch's own
    epoch id, so when batches are fed in arrival order the union of
    reports equals the registered ``stream_dedup_near`` output
    row-for-row (the pinned equivalence).  The probe reads the band
    store ``WHERE pk IN (batch's own buckets)`` — a bounded census
    collect (≤ band·NB ints) that Catalyst turns into
    ``PartitionFilters`` — and the shingle store pruned to the
    candidates' ``sk`` buckets; corpus text is never read."""

    def on_batch(bdf: DataFrame, batch_id: int) -> None:
        sp = bdf.sparkSession
        docs = bdf.select("doc_id", "text").persist()
        try:
            if not docs.head(1):
                return
            bands, sh = _bands_of(docs)
            bands = bands.withColumn("pk", _pk()).persist()
            sh = sh.persist()
            probe_pks = sorted(
                r[0] for r in bands.select("pk").distinct().collect()
            )
            # ---- probe the persisted history (pk-pruned file listing)
            idx = (
                sp.read.schema(_BAND_SCHEMA)
                .parquet(os.path.join(index_dir, "bands"))
                .where(F.col("pk").isin(probe_pks))
            )
            hist = bands.join(
                idx.select(
                    F.col("doc_id").alias("dd"),
                    "band",
                    "bkey",
                    (F.col("src") == "corpus").alias("is_corpus"),
                ),
                ["band", "bkey"],
            ).select(F.col("doc_id").alias("ds"), "dd", "is_corpus")
            # ---- in-batch smaller-id matches (same greedy rule)
            inb = (
                bands.select(F.col("doc_id").alias("ds"), "band", "bkey")
                .join(
                    bands.select(F.col("doc_id").alias("dd"), "band", "bkey"),
                    ["band", "bkey"],
                )
                .where(F.col("dd") < F.col("ds"))
                .select("ds", "dd", F.lit(False).alias("is_corpus"))
            )
            cand = hist.unionByName(inb).distinct().persist()
            # ---- exact verify: batch side from this batch's shingles,
            # history side from the persisted store (sk-pruned)
            cand_sks = sorted(
                r[0]
                for r in cand.select(
                    F.pmod(F.col("dd"), F.lit(_INGEST_NS)).cast("int").alias("sk")
                )
                .distinct()
                .collect()
            )
            stored_sh = (
                sp.read.schema(_SHINGLE_SCHEMA)
                .parquet(os.path.join(index_dir, "shingles"))
                .where(F.col("sk").isin(cand_sks))
                if cand_sks
                else sp.createDataFrame([], _SHINGLE_SCHEMA)
            )
            # in-batch partners verify against the batch's own shingle
            # frame (they are not in the store yet)
            hside = stored_sh.select(
                F.col("doc_id").alias("dd"), F.col("sh").alias("shb")
            ).unionByName(
                sh.select(F.col("doc_id").alias("dd"), F.col("sh").alias("shb"))
            )
            i = F.size(F.array_intersect("sha", "shb"))
            ver = (
                cand.join(
                    sh.select(F.col("doc_id").alias("ds"), F.col("sh").alias("sha")),
                    "ds",
                )
                .join(hside, "dd")
                .where(
                    i * F.lit(JACCARD_T_DEN)
                    >= F.lit(JACCARD_T_NUM) * (F.size("sha") + F.size("shb") - i)
                )
                .groupBy("ds")
                .agg(
                    F.sum(F.when(F.col("is_corpus"), 1).otherwise(0))
                    .cast("long")
                    .alias("mc"),
                    F.sum(F.when(F.col("is_corpus"), 0).otherwise(1))
                    .cast("long")
                    .alias("ms"),
                )
            )
            mc = F.coalesce(F.col("mc"), F.lit(0).cast("long"))
            ms = F.coalesce(F.col("ms"), F.lit(0).cast("long"))
            report = (
                docs.select(F.col("doc_id").alias("ds"))
                .join(ver, "ds", "left")
                .select(
                    F.col("ds").alias("doc_id"),
                    F.lit(int(batch_id)).cast("int").alias("batch_seq"),
                    mc.alias("matches_corpus"),
                    ms.alias("matches_stream"),
                    F.when(mc + ms > 0, F.lit("drop"))
                    .otherwise(F.lit("keep"))
                    .alias("verdict"),
                )
            )
            report.write.mode("append").parquet(report_dir)
            # ---- append this batch to the stores (next batch sees it)
            (
                bands.withColumn("src", F.lit("stream"))
                .write.mode("append")
                .partitionBy("pk")
                .parquet(os.path.join(index_dir, "bands"))
            )
            (
                sh.withColumn("src", F.lit("stream"))
                .withColumn(
                    "sk", F.pmod(F.col("doc_id"), F.lit(_INGEST_NS)).cast("int")
                )
                .write.mode("append")
                .partitionBy("sk")
                .parquet(os.path.join(index_dir, "shingles"))
            )
            cand.unpersist()
            bands.unpersist()
            sh.unpersist()
        finally:
            docs.unpersist()

    stream = spark.readStream.schema(schema).parquet(source_dir)
    return stream.writeStream.foreachBatch(on_batch)
