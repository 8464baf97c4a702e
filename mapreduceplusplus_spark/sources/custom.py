"""Custom data source via Spark 4's Python DataSource API — the
extension point that mirrors the reference's pluggable input readers
(``/root/reference/src/worker.cc:127-143`` reads whole files handed out
by the master; a DataSource's ``partitions()`` + ``read(partition)`` is
the same split-then-read contract, formalized).

The demo source is a deterministic generator (no I/O) so the DuckDB
oracle can reproduce it closed-form — the point under test is the
PROTOCOL: schema declaration, planner-visible partitioning, per-partition
iteration on executors.  A real connector (an internal KV store, a
proprietary log format, an HTTP API) replaces only ``read()``.

Scale posture: one ``SeqPartition`` per parallel unit — the planner
schedules each to an executor core, identical to file splits; a real
source derives partitions from its native sharding (file ranges, topic
partitions, key ranges) so reads start balanced without a shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)

from mapreduceplusplus_spark.registry import query

#: generator extent — total rows and parallel splits
SEQ_ROWS = 10_000
SEQ_PARTS = 8


class SeqPartition(InputPartition):
    def __init__(self, start: int, end: int):
        self.start, self.end = start, end


class SeqReader(DataSourceReader):
    def partitions(self):
        step = SEQ_ROWS // SEQ_PARTS
        return [
            SeqPartition(i * step, SEQ_ROWS if i == SEQ_PARTS - 1 else (i + 1) * step)
            for i in range(SEQ_PARTS)
        ]

    def read(self, partition: SeqPartition):
        # runs ON THE EXECUTOR, one call per partition — the stand-in
        # for a real connector's range/shard scan
        for i in range(partition.start, partition.end):
            yield (i, i * i, i % 7)


class SeqDataSource(DataSource):
    """``spark.read.format("mrpp_seq")`` — deterministic integer
    sequence with squares and a bucket column."""

    @classmethod
    def name(cls) -> str:
        return "mrpp_seq"

    def schema(self) -> str:
        return "i bigint, sq bigint, bucket int"

    def reader(self, schema) -> SeqReader:
        return SeqReader()

    def simpleStreamReader(self, schema) -> "SeqStreamReader":
        # the SIMPLE streaming hook (driver-side reads, offsets as
        # dicts); the partition-parallel ``streamReader`` hook is the
        # full-API sibling a high-volume connector implements
        return SeqStreamReader()


def register_seq_source(spark: SparkSession) -> None:
    """Idempotent registration of the custom format."""
    spark.dataSource.register(SeqDataSource)


@query(
    "source_python_datasource",
    oracle=f"""
    SELECT CAST(i % 7 AS INT)            AS bucket,
           count(*)                      AS n,
           CAST(sum(i * i) AS BIGINT)    AS sum_sq
    FROM range(0, {SEQ_ROWS}) t(i)
    GROUP BY 1
    """,
)
def source_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read through the registered custom source and aggregate per
    bucket; DuckDB reproduces the generator closed-form with
    ``range()`` — two engines, two generators, same relation.  The scan
    itself shows up in the plan as a ``BatchScan`` over 8 planner-known
    partitions (Arrow-batched executor-side Python)."""
    register_seq_source(spark)
    seq = spark.read.format("mrpp_seq").load()
    return seq.groupBy(F.col("bucket").cast("int").alias("bucket")).agg(
        F.count("*").alias("n"),
        F.sum("sq").cast("bigint").alias("sum_sq"),
    )


#: deterministic on-disk binary fixture for the ``binaryFile`` source —
#: content restricted to printable ASCII so DuckDB's ``decode(content)``
#: (valid-UTF-8 requirement) hashes the SAME raw bytes Spark's
#: ``md5(binary)`` does.  Lives UNDER THIS CHECKOUT (not a world-shared
#: /tmp path — ADVICE r6: on shared /tmp another user could squat the
#: directory or plant stale .bin files that BOTH engines would read,
#: keeping the differential green while results go environment-
#: dependent); per-checkout also means per-user on any sane layout.
import os as _os

_BINSRC_DIR = _os.path.join(
    _os.path.dirname(_os.path.dirname(_os.path.dirname(_os.path.abspath(__file__)))),
    ".binsrc",
)
_BINSRC_N = 8


def _ensure_binsrc_fixture() -> None:
    import os

    import time

    os.makedirs(_BINSRC_DIR, exist_ok=True)
    expected = {f"doc_{i}.bin" for i in range(_BINSRC_N)}
    for name in os.listdir(_BINSRC_DIR):
        # drop anything not in the expected doc_0..doc_7 set (stale
        # files from an older _BINSRC_N, abandoned .tmp writes) BEFORE
        # reading — both engines glob *.bin, so a stray file would
        # feed both sides identically and hide real drift.  A LIVE
        # concurrent writer's temp file must survive though (deleting
        # it between its write and os.replace would break the atomic
        # temp+rename protocol below), so ".tmp." files are only
        # reaped once clearly abandoned (>60 s old).
        if name in expected:
            continue
        path = os.path.join(_BINSRC_DIR, name)
        try:
            if ".tmp." in name and time.time() - os.path.getmtime(path) < 60:
                continue
            os.remove(path)
        except OSError:
            pass
    for i in range(_BINSRC_N):
        body = "".join(
            chr(32 + (i * 7 + j) % 95) for j in range(100 * (i + 1))
        )
        payload = f"BLOB {i}\n{body}".encode("ascii")
        path = os.path.join(_BINSRC_DIR, f"doc_{i}.bin")
        current = None
        if os.path.exists(path):
            with open(path, "rb") as f:
                current = f.read()
        if current != payload:
            # atomic temp+rename so a concurrent reader (parallel test
            # workers) never observes a half-written payload
            tmp = f"{path}.tmp.{os.getpid()}"
            with open(tmp, "wb") as f:
                f.write(payload)
            os.replace(tmp, path)


@query(
    "source_binary_files",
    oracle=f"""
    SELECT regexp_extract(filename, '([^/]+)$', 1) AS file,
           CAST(size AS BIGINT) AS n_bytes,
           md5(decode(content)) AS digest
    FROM read_blob('{_BINSRC_DIR}/*.bin')
    """,
)
def source_binary_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``binaryFile`` source — Spark's ingestion path for opaque
    media payloads (the on-disk half of the multimodal contract:
    ``llm/multimodal.py`` processes binary COLUMNS; this reads binary
    FILES into such a column).  Emits (path, modificationTime, length,
    content) per file; the query projects basename, byte length, and
    the md5 of the raw bytes, differentially checked against DuckDB's
    ``read_blob`` over the same directory.

    The fixture is 8 deterministic printable-ASCII files written
    idempotently by the query itself (same bytes every run — ASCII
    because DuckDB's md5 hashes VARCHARs, so ``decode(content)`` must
    be valid UTF-8 to reproduce Spark's binary md5).

    Scale: binaryFile lists and assigns FILES to tasks (a file never
    splits — fine for media objects, which are processed whole);
    at 100 TB the listing itself is the bottleneck, so real pipelines
    shard the directory tree and let ``pathGlobFilter``/partition
    directories prune — the same partition-pruning machinery
    ``sink_partitioned_pruned`` pins for parquet."""
    _ensure_binsrc_fixture()
    df = spark.read.format("binaryFile").load(_BINSRC_DIR + "/*.bin")
    return df.select(
        F.regexp_extract(F.col("path"), r"([^/]+)$", 1).alias("file"),
        F.col("length").cast("bigint").alias("n_bytes"),
        F.md5(F.col("content")).alias("digest"),
    )


#: deterministic dirty-CSV fixture for the PERMISSIVE-quarantine
#: source — same per-checkout placement rationale as _BINSRC_DIR
_CSVSRC_DIR = _os.path.join(
    _os.path.dirname(_os.path.dirname(_os.path.dirname(_os.path.abspath(__file__)))),
    ".csvsrc",
)
_CSVSRC_PATH = _os.path.join(_CSVSRC_DIR, "dirty.csv")
#: header + 5 well-formed rows + 3 malformed shapes (token-count
#: mismatch low/high, non-numeric field) + 1 legal empty-field row
_CSVSRC_BODY = "\n".join(
    [
        "id,kind,amount",
        "1,click,10.50",
        "2,view,3.25",
        "badline-without-commas",
        "4,purchase,notanumber",
        "5,click,7.00,extrafield",
        "6,error,",
        "7,signup,0.75",
        "8,view,12.00",
        "9,click,1.25",
    ]
)


def _ensure_csvsrc_fixture() -> None:
    import os

    os.makedirs(_CSVSRC_DIR, exist_ok=True)
    payload = _CSVSRC_BODY.encode("ascii")
    current = None
    if os.path.exists(_CSVSRC_PATH):
        with open(_CSVSRC_PATH, "rb") as f:
            current = f.read()
    if current != payload:
        tmp = f"{_CSVSRC_PATH}.tmp.{os.getpid()}"
        with open(tmp, "wb") as f:
            f.write(payload)
        os.replace(tmp, _CSVSRC_PATH)


@query(
    "source_csv_quarantine",
    oracle=f"""
    WITH lines AS (
      SELECT unnest(string_split(content, chr(10))) AS line
      FROM read_text('{_CSVSRC_PATH}')
    ),
    body AS (
      SELECT line, string_split(line, ',') AS p
      FROM lines WHERE line <> 'id,kind,amount' AND line <> ''
    ),
    cls AS (
      SELECT line, p,
             NOT (len(p) = 3
                  AND regexp_matches(p[1], '^-?[0-9]+$')
                  AND (p[3] = ''
                       OR regexp_matches(p[3], '^-?[0-9]+(\\.[0-9]+)?$')))
               AS quarantined
      FROM body
    )
    SELECT CASE WHEN quarantined THEN NULL
                ELSE CAST(p[1] AS BIGINT) END          AS id,
           CASE WHEN quarantined THEN NULL ELSE p[2] END AS kind,
           CASE WHEN quarantined OR p[3] = '' THEN NULL
                ELSE CAST(round(CAST(p[3] AS DOUBLE) * 100) AS BIGINT)
           END                                          AS amount_cents,
           quarantined,
           CASE WHEN quarantined THEN line END          AS raw
    FROM cls
    """,
)
def source_csv_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERMISSIVE CSV ingestion with a malformed-row QUARANTINE — the
    ingest-side error contract every production loader needs: good
    rows parse, bad rows survive VERBATIM in a corrupt-record column
    instead of killing the job (FAILFAST) or silently vanishing
    (DROPMALFORMED).  The query reads a deterministic dirty fixture
    (token-count mismatches both directions, a non-numeric field, and
    one LEGAL empty field that must NOT quarantine) through
    ``columnNameOfCorruptRecord`` and emits the split: parsed fields
    for clean rows, (NULLs + raw line) for quarantined ones.

    The oracle is a genuinely independent reimplementation of the
    quarantine contract: DuckDB reads the same file as raw TEXT
    (``read_text`` + newline split — not its CSV reader, whose
    malformed-row policy differs) and classifies each line with
    regexes.  Two parsers, one declared contract, hash-compared.

    Scale: Spark's CSV source splits large files at newline
    boundaries and parses per task; the quarantine column rides the
    row, so triage (count, alert, replay) is ordinary DataFrame work
    downstream — ``WHERE quarantined`` is a predicate-pushdown-
    friendly filter, no side channel, no driver involvement.
    Reference heritage: the reference slurps whole text files and has
    no malformed-record concept (``src/worker.cc:127-133``); this is
    the SURVEY §2 charter's ingestion-robustness extension."""
    _ensure_csvsrc_fixture()
    df = (
        spark.read.schema("id bigint, kind string, amount double, _bad string")
        .option("header", "true")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_bad")
        .csv(_CSVSRC_PATH)
    )
    q = F.col("_bad").isNotNull()
    return df.select(
        F.when(~q, F.col("id")).alias("id"),
        F.when(~q, F.col("kind")).alias("kind"),
        F.when(~q, F.round(F.col("amount") * 100).cast("bigint")).alias(
            "amount_cents"
        ),
        q.alias("quarantined"),
        F.col("_bad").alias("raw"),
    )


#: streaming generator extent — total rows and per-micro-batch chunk
STREAM_ROWS = 5_000
STREAM_CHUNK = 500


class SeqStreamReader(SimpleDataSourceStreamReader):
    """Micro-batch half of the custom source (Spark 4's
    ``SimpleDataSourceStreamReader``): offsets are a plain dict, each
    ``read(start)`` returns (rows, next_offset) for one micro-batch —
    the protocol a real connector implements against a queue/changelog
    cursor.  The generator is bounded: past ``STREAM_ROWS`` it returns
    an empty batch with an UNCHANGED offset, which is how a source
    reports "no new data" (``processAllAvailable`` then unblocks).
    ``readBetweenOffsets`` is the RECOVERY contract — after a restart
    Spark re-reads exactly the (start, end] offset range of any
    planned-but-uncommitted batch; there is NO default (the base class
    raises NotImplementedError — the checkpoint-recovery test caught
    this), and it must return the identical rows ``read`` produced,
    trivial here because the generator is a pure function of the
    offset range."""

    def initialOffset(self) -> dict:
        return {"pos": 0}

    def _rows(self, start_pos: int, end_pos: int):
        return iter([(i, i * i, i % 7) for i in range(start_pos, end_pos)])

    def read(self, start: dict):
        pos = int(start["pos"])
        if pos >= STREAM_ROWS:
            return iter([]), start
        end = min(pos + STREAM_CHUNK, STREAM_ROWS)
        return self._rows(pos, end), {"pos": end}

    def readBetweenOffsets(self, start: dict, end: dict):
        return self._rows(int(start["pos"]), int(end["pos"]))

    def commit(self, end: dict) -> None:
        pass


@query(
    "source_python_stream",
    oracle=f"""
    SELECT CAST(i % 7 AS INT)            AS bucket,
           count(*)                      AS n,
           CAST(sum(i * i) AS BIGINT)    AS sum_sq
    FROM range(0, {STREAM_ROWS}) t(i)
    GROUP BY 1
    """,
)
def source_python_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING read through the custom Python data source — the
    other half of the Spark 4 DataSource API (``streamReader``), and
    the protocol a Python connector to a queue/changelog implements:
    ``spark.readStream.format("mrpp_seq")`` drives
    ``SeqStreamReader`` through {STREAM_ROWS}/{STREAM_CHUNK} = 10
    micro-batches (offset dict → rows → next offset), a complete-mode
    aggregation accumulates across batches, and the query drains with
    ``processAllAvailable`` once the bounded source reports no new
    data.  The final per-bucket totals must equal the closed-form
    DuckDB oracle — i.e. micro-batched delivery through streaming
    state lands on exactly the batch answer (the same
    mode-independence contract the ``stream_*`` window queries pin).
    Scale: offsets/commit give exactly-once micro-batches; a real
    connector swaps the generator for a cursor fetch, and the
    downstream aggregation shuffles per micro-batch only the chunk,
    never the history (state carries the totals).  Reference
    heritage: pluggable input readers (``src/worker.cc:127-143``),
    extended to the incremental-delivery case the reference never
    had."""
    import shutil
    import tempfile
    import uuid

    register_seq_source(spark)
    sink = f"pystream_sink_{uuid.uuid4().hex[:8]}"
    chk = tempfile.mkdtemp(prefix="pystream_chk_")
    try:
        agg = (
            spark.readStream.format("mrpp_seq")
            .load()
            .groupBy(F.col("bucket").cast("int").alias("bucket"))
            .agg(
                F.count("*").alias("n"),
                F.sum("sq").cast("bigint").alias("sum_sq"),
            )
        )
        q = (
            agg.writeStream.format("memory")
            .queryName(sink)
            .outputMode("complete")
            .option("checkpointLocation", chk)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        result = spark.sql(f"SELECT * FROM {sink}")
        rows = result.collect()
        return spark.createDataFrame(rows, result.schema)
    finally:
        # the memory sink registers a temp view holding its rows for
        # the session lifetime — drop it (review r8: every invocation
        # leaked one uuid-named in-memory table)
        spark.catalog.dropTempView(sink)
        shutil.rmtree(chk, ignore_errors=True)
