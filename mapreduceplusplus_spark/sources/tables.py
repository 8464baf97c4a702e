"""Table sources.

The reference's input model is "a list of whole files named on the master
command line" (reference ``src/master.cc:297-299``); its only format is
raw text slurped per map task (``src/worker.cc:127-133``).  Our canonical
sources are schema-ful Parquet tables (columnar, vectorized scan,
predicate pushdown + column pruning for free), with a whole-file /
line-oriented text source preserved for reference parity.

Scale note: `spark.read.parquet` split-plans by
``spark.sql.files.maxPartitionBytes`` (default 128 MB) — at 100 TB that
is ~800k input splits, scheduled by locality; nothing here assumes
single-node inputs.  Schema inference (Spark's footer-merge job) runs
once per file version per process: ``read_parquet`` remembers each
path's inferred schema under its ``path_fingerprint`` stamp, and later
builds read with that schema and launch no job.  Every query-path read
of a Parquet path whose schema is not known in code goes through
``read_parquet``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

#: every driver-provided table (TESTDATA.md); one parquet file per table.
TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one synthetic table from a scale-factor directory.

    ``events.ts`` layout compatibility: some dataset generations write it
    as Parquet TIMESTAMP(NANOS), which Spark's vectorized reader rejects;
    others write plain TIMESTAMP(MICROS), which reads natively.  The
    loader is type-driven, not generation-pinned: a plain read that
    succeeds with a timestamp ``ts`` passes through untouched; a nanos
    file triggers the ``nanosAsLong`` legacy conf, surfaces ``ts`` as
    BIGINT nanos, and is truncated to a microsecond timestamp — the same
    µs truncation DuckDB applies, so the oracle sees identical instants.
    Integer ``div`` (not ``/``) avoids double-precision loss on ~1.7e18
    values.

    Engine invariant (deliberate, session-wide): once set for a nanos
    file, ``nanosAsLong`` stays set.  It cannot be scoped with
    save/restore because Spark captures the conf at *plan/execution*
    time, not at ``read()`` time — restoring it immediately would break
    the lazy scan.  The conf is a no-op for µs/ms columns, so µs-layout
    reads are unaffected either way.
    """
    path = f"{sf_dir}/{name}.parquet"
    if name == "events":
        from pyspark.errors import AnalysisException

        try:
            df = read_parquet(spark, path)
        except AnalysisException as exc:
            # Only the TIMESTAMP(NANOS) schema refusal is retryable;
            # anything else (missing file, corrupt footer, permissions)
            # must surface as-is rather than be masked by a session-wide
            # conf flip and a confusing second failure.
            msg = str(exc)
            if "Illegal Parquet type" not in msg and "NANOS" not in msg:
                raise
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
            df = read_parquet(spark, path)
        from pyspark.sql.types import LongType, TimestampNTZType

        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, LongType):
            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        elif isinstance(ts_type, TimestampNTZType):
            # Interpret the naive wall clock as UTC *independent of the
            # session timezone* (a plain CAST would shift instants under
            # a non-UTC session): µs-since-epoch via timestampdiff on
            # NTZ, then timestamp_micros — same instants as the nanos
            # branch, and the same naive values DuckDB sees.
            df = df.withColumn(
                "ts",
                F.expr(
                    "timestamp_micros(timestampdiff(MICROSECOND, "
                    "TIMESTAMP_NTZ '1970-01-01 00:00:00', ts))"
                ),
            )
        return df
    return read_parquet(spark, path)


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TABLES}


def path_fingerprint(path: str) -> tuple:
    """(relpath, mtime_ns, size) of every file at ``path`` (one file, or
    every file under a directory) — a cheap content-version stamp: an
    in-process rewrite changes it, so a memo keyed on it (the schema
    memo below, the IVF / MinHash-band index dirs) is rebuilt instead of
    silently read stale.  Empty when nothing is there."""
    if os.path.isfile(path):
        st = os.stat(path)
        return ((os.path.basename(path), st.st_mtime_ns, st.st_size),)
    entries = []
    if os.path.isdir(path):
        for root, _dirs, files in os.walk(path):
            for fn in files:
                p = os.path.join(root, fn)
                st = os.stat(p)
                entries.append(
                    (os.path.relpath(p, path), st.st_mtime_ns, st.st_size)
                )
    return tuple(sorted(entries))


def dataset_fingerprint(sf_dir: str, table: str) -> tuple:
    """``path_fingerprint`` of ``<sf_dir>/<table>.parquet``."""
    return path_fingerprint(os.path.join(sf_dir, f"{table}.parquet"))


#: session confs that change what Parquet schema inference returns
_INFER_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.sources.partitionColumnTypeInference.enabled",
    "spark.sql.caseSensitive",
)

#: abspath -> ((fingerprint, inference confs), inferred schema).  One
#: entry per path: a new file version or conf set replaces the entry,
#: so the memo stays bounded and needs no release hook.
_SCHEMA_MEMO: dict[str, tuple[tuple, StructType]] = {}


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` that infers the schema once per file
    version.  Inference is a Spark job (the footer merge runs even with
    ``mergeSchema`` off); a repeat read of an unchanged path with the
    same inference confs passes the remembered schema instead and
    launches none.  Same DataFrame schema and plan as a cold read.
    Failed reads (a TIMESTAMP(NANOS) refusal, a zero-file directory)
    are not remembered, and an empty stamp (nothing local to stamp)
    never hits."""
    where = os.path.abspath(path)
    fp = path_fingerprint(path)
    key = (fp, tuple(spark.conf.get(c, None) for c in _INFER_CONFS))
    memo = _SCHEMA_MEMO.get(where)
    if memo is not None and memo[0] == key:
        return spark.read.schema(memo[1]).parquet(path)
    df = spark.read.parquet(path)
    if fp:
        _SCHEMA_MEMO[where] = (key, df.schema)
    return df


def load_whole_text_files(spark: SparkSession, glob: str) -> DataFrame:
    """Exact whole-file semantics of the reference's map-task input:
    one record per file, (path, content).  RDD escape hatch because the
    DataFrame reader has no whole-file text mode; used only for parity
    tests on small corpora — whole-file slurping does not scale and the
    engine's real sources are splittable."""
    rdd = spark.sparkContext.wholeTextFiles(glob)
    return rdd.toDF(["path", "content"])
