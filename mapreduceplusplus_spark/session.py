"""SparkSession factory tuned for this engine.

The reference exposes two scale knobs: M = number of input files and
R = ``MR_REDUCE_NUM_TASKS`` (reference ``CMakeLists.txt:43-45``).  Spark's
analogue of R is ``spark.sql.shuffle.partitions``; M is implicit in the
file-scan split planning (``spark.sql.files.maxPartitionBytes``).

Scale posture (100 TB design, local[cores] test):
- AQE on: runtime partition coalescing, skew-join splitting, and
  broadcast-join conversion replace any hand-tuned static plan.
- shuffle.partitions sized to cores locally; on a real cluster this is
  overridden upward (or left to AQE's initialPartitionNum).
- Arrow enabled so the Pandas-UDF escape hatches (the reference's
  arbitrary-UDF model) move columnar batches, not pickled rows.
- session timezone pinned UTC so timestamp semantics are stable across
  engines (DuckDB oracle is UTC-naive).
- Python workers run ``pyspark_graft_worker`` (repo root) as their
  worker module.  Stock PySpark calls ``importlib.invalidate_caches()``
  before every task, and CPython 3.11's ``zipimporter`` answers by
  re-reading the whole directory of ``pyspark.zip``, the ``spark-core``
  jar and the py4j zip, once per importer (16 reads): 0.14-0.24 s per
  task, timed inside a warm worker on a 4-core Xeon.  The module
  re-reads an archive only when its mtime or size changed.  Only
  sessions built here get it: a session built elsewhere (such as the
  driver's own session behind ``__spark_entry__.py``) runs stock
  workers, with the same results.
- ``spark.python.sql.dataFrameDebugging.enabled`` is off.  When on,
  PySpark wraps ``F.col`` and every ``Column`` method to
  record the Python call site for error messages, which costs 10 py4j
  round trips per call (``F.col("v")``: 13 commands and 1.1 ms on, 3
  and 0.54 ms off, on a 4-vCPU box).  Only the Python file:line part of
  an error's DataFrame context is lost; the error class and message
  stay (``DIVIDE_BY_ZERO`` still names itself).  Limits: the conf is
  static, and PySpark reads it once per process, at the first Column
  call that has an active session.  A session built elsewhere (such as
  a vanilla session handed to ``__spark_entry__.py``) keeps stock
  behaviour; in a process that mixes the two, the session active
  at that first call decides for both.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession

#: the directory holding ``pyspark_graft_worker.py``; put on the Python
#: workers' path so they find the module from any working directory
_WORKER_MODULE_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "mapreduceplusplus_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) a local SparkSession with the engine's defaults."""
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 1))
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.python.worker.module", "pyspark_graft_worker")
        .config("spark.executorEnv.PYTHONPATH", _WORKER_MODULE_DIR)
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def ensure_utc(spark: SparkSession) -> SparkSession:
    """Pin the session timezone to UTC (runtime-settable SQL conf).

    Every declared query calls this so timestamp→string rendering matches
    the UTC-naive DuckDB oracle even when the caller built the session.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return spark


def conf_for_scale(
    input_bytes: int,
    executors: int = 1,
    cores_per_executor: int = 32,
    executor_mem_bytes: int = 128 << 30,
) -> dict[str, str]:
    """Cluster-sizing recipe: the Spark confs this engine recommends for
    a given input size — the arithmetic behind every "would this hold at
    100 TB?" claim in the operator docstrings, stated once, executable,
    and unit-tested.

    Reasoning per knob:
    - ``spark.sql.files.maxPartitionBytes``: scan tasks should be
      128–256 MiB so a task neither starves the scheduler (too many)
      nor stalls stragglers (too few).  Kept at 256 MiB for large
      inputs — with 100 TB that is ~400k scan tasks, a fine granularity
      for 32k cores.
    - ``spark.sql.shuffle.partitions``: target ~200 MiB of pre-spill
      shuffle input per partition, floored at 2× total cores (always
      enough parallelism to occupy the cluster) and ceilinged at 200k
      (file-handle and scheduler sanity).  AQE coalesces DOWN from this
      at runtime, so erring high is safe; erring low cannot be fixed
      at runtime and spills.
    - ``spark.sql.adaptive.advisoryPartitionSizeInBytes``: 128 MiB —
      the post-coalesce target AQE aims for.
    - ``spark.sql.autoBroadcastJoinThreshold``: ~1% of executor memory,
      capped at 256 MiB: a broadcast table is materialized on the
      driver AND per-executor, so the ceiling protects both.

    Deliberately NOT set: executor/driver memory (cluster-manager
    territory), AQE toggles (always on, see ``get_spark``)."""
    total_cores = max(1, executors * cores_per_executor)
    scan_part = 256 << 20
    shuffle_parts = min(
        200_000,
        max(2 * total_cores, input_bytes // (200 << 20) or 1),
    )
    broadcast_cap = min(256 << 20, executor_mem_bytes // 100)
    return {
        "spark.sql.files.maxPartitionBytes": str(scan_part),
        "spark.sql.shuffle.partitions": str(shuffle_parts),
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": str(128 << 20),
        "spark.sql.autoBroadcastJoinThreshold": str(broadcast_cap),
    }


def floor_div_sql(num: str, den: str, dialect: str) -> str:
    """SQL fragment computing FLOOR(num/den) for integer expressions
    with a POSITIVE denominator, with identical results on both
    engines.  Needed because neither dialect's integer division
    floors: Spark's ``div`` and DuckDB's ``//`` BOTH truncate toward
    zero (empirically: DuckDB 1.0 ``(-7001)//2 = -3500``), so a bare
    quotient agrees across engines but violates the floor contract
    every negative-sum mean/centroid in this repo documents.  The
    CASE routes negative numerators through ``-((-n + d - 1) / d)``
    whose operands are nonnegative — where truncation IS floor.

    One definition, both dialects: a one-sided edit (fixing the Spark
    expression but not the oracle SQL) is exactly the bug class a
    review pass caught in ``events_cusum_drift`` — emitting both
    fragments from here makes it unrepresentable.

    Precondition: operands must be 64-bit-typed EXPRESSIONS (column
    aggregates are; bare SQL integer literals type as INT32 in DuckDB,
    where the internal ``−n + d − 1`` can overflow — cast literals to
    BIGINT first)."""
    op = {"spark": "div", "duckdb": "//"}[dialect]
    return (
        f"CASE WHEN ({num}) >= 0 THEN ({num}) {op} ({den})"
        f" ELSE -((-({num}) + ({den}) - 1) {op} ({den})) END"
    )


def qln_micro(x):
    """THE quantized-ln device shared by every log-space-exact
    operator (mixture entropy, perplexity, TF-IDF, Naive Bayes,
    Kaplan-Meier): ``floor(ln(x)·1e6)`` as BIGINT — evaluated once per
    DISTINCT count so all downstream sums are exact integers and no
    accumulation-order float noise can flip a result between engines
    or partitionings.  One definition: diverging local copies of the
    quantum or the cast would silently break the cross-engine
    bit-exactness these queries document (review r9).

    ``x`` is a pyspark Column (any numeric type)."""
    from pyspark.sql import functions as F

    return F.floor(F.log(x.cast("double")) * 1000000).cast("bigint")


def sql(spark: SparkSession, query: str, **frames: DataFrame) -> DataFrame:
    """``spark.sql(query, **frames)`` that leaves persisted frames cached.

    Each ``{name}`` in ``query`` is replaced by a temporary view of
    ``frames[name]``, and the views are dropped once the statement is
    analyzed (the returned frame keeps its plan).  PySpark's own
    ``spark.sql(query, **frames)`` drops its views through
    ``Catalog.dropTempView``, which also uncaches the view's plan: passing
    it a persisted frame (a ``sources/memo.py`` entry) would silently
    drop that frame's cache.  Here the views leave the session catalog
    without touching the cache.  ``query`` is a ``str.format`` template,
    so a literal brace must be doubled."""
    names = {k: f"_q{uuid.uuid4().hex}" for k in frames}
    for k, df in frames.items():
        df.createOrReplaceTempView(names[k])
    try:
        return spark.sql(query.format(**names))
    finally:
        catalog = spark._jsparkSession.sessionState().catalog()
        for name in names.values():
            catalog.dropTempView(name)
