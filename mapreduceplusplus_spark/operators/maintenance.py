"""Data-layout / table-maintenance operators: Z-order clustering and
file-compaction planning — the two layout jobs every large parquet
lake runs continuously (Delta ``OPTIMIZE ZORDER BY``, Iceberg
``rewrite_data_files`` bin-packing), re-expressed as declarative
Spark plans over the engine's own tables.

Both queries share their FULL SQL text with the DuckDB oracle
(dialect-intersection arithmetic only: ``floor``/``CAST`` instead of
dialect-specific integer division, no date functions), so the Spark
side runs the identical statement through ``spark.sql`` — these rows
double as raw-SQL-surface coverage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F  # noqa: F401  (parity with sibling modules)

from mapreduceplusplus_spark.registry import query
from mapreduceplusplus_spark.sources.tables import load_table


def _bit(expr: str, i: int) -> str:
    """Dialect-neutral extraction of bit ``i`` of a small nonneg int."""
    return f"(CAST(floor(({expr}) / {1 << i}) AS BIGINT) % 2)"


def _morton16(x: str, y: str) -> str:
    """Interleave the low 8 bits of ``x`` and ``y`` into a 16-bit
    Morton (Z-order) value: z = Σ x_i·4^i + Σ y_i·2·4^i.  Operands are
    ≤ 255 so every intermediate is exact in both BIGINT and DOUBLE."""
    terms = []
    for i in range(8):
        terms.append(f"{_bit(x, i)} * {1 << (2 * i)}")
        terms.append(f"{_bit(y, i)} * {1 << (2 * i + 1)}")
    return " + ".join(terms)


#: normalize a bounded integer column onto 0..255 with pure integer
#: arithmetic — (v - mn) * 255 / (mx - mn), floored; exact in DOUBLE
#: because v ≤ ~1e5 here so (v-mn)*255 ≤ 2^53
def _norm255(v: str, mn: str, mx: str) -> str:
    return (
        f"CAST(floor((({v}) - ({mn})) * 255.0 / "
        f"(CASE WHEN ({mx}) > ({mn}) THEN ({mx}) - ({mn}) ELSE 1 END)) AS BIGINT)"
    )


_X = _norm255("p_size", "b.mn_size", "b.mx_size")
_Y = _norm255(
    "CAST(round(p_retailprice * 100) AS BIGINT)", "b.mn_cents", "b.mx_cents"
)

_ZORDER_SQL = f"""
    WITH b AS (
      SELECT min(p_size) AS mn_size, max(p_size) AS mx_size,
             min(CAST(round(p_retailprice * 100) AS BIGINT)) AS mn_cents,
             max(CAST(round(p_retailprice * 100) AS BIGINT)) AS mx_cents
      FROM part
    ),
    z AS (
      SELECT {_X} AS x, {_Y} AS y,
             {_morton16(_X, _Y)} AS zval
      FROM part CROSS JOIN b
    )
    SELECT CAST(floor(zval / 4096.0) AS BIGINT) AS zbucket,
           count(*)    AS n_rows,
           CAST(min(x) AS BIGINT) AS min_x, CAST(max(x) AS BIGINT) AS max_x,
           CAST(min(y) AS BIGINT) AS min_y, CAST(max(y) AS BIGINT) AS max_y,
           CAST(min(zval) AS BIGINT) AS min_z, CAST(max(zval) AS BIGINT) AS max_z
    FROM z
    GROUP BY CAST(floor(zval / 4096.0) AS BIGINT)
"""


@query("layout_zorder", oracle=_ZORDER_SQL)
def layout_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton-curve) clustering key — the multi-dimensional
    data-layout primitive behind Delta's ``OPTIMIZE ZORDER BY`` and
    ClickHouse/Databricks liquid clustering: both dimensions are
    normalized onto 0..255 with exact integer arithmetic, their bits
    interleaved into a 16-bit Morton value, and rows grouped by the
    top-4-bit Z-bucket.  Writing files in ``zval`` order makes every
    file's per-column min/max stats TIGHT IN BOTH DIMENSIONS at once
    (each bucket here provably spans ≤ 64 of 256 normalized units per
    axis — pinned by ``test_zorder_buckets_are_2d_tiles``), so a
    reader filtering on EITHER ``p_size`` or ``p_retailprice`` (or
    both) can skip most files — a 1-D sort gives that for one column
    only.

    At 100 TB the production form is ``df.withColumn("z", <this
    expression>).repartitionByRange(N, "z").sortWithinPartitions("z")
    .write...`` — one range shuffle, then the layout pays for itself
    on every subsequent scan.  The registered query materializes the
    per-bucket envelope (the file-skipping index a lakehouse manifest
    would store): one narrow codegen'd projection + one hash agg; the
    min/max CTE is a 1-row broadcast.

    The full SQL text (bit math via ``floor``/``CAST`` only — exact in
    the dialect intersection) is shared verbatim with the DuckDB
    oracle."""
    load_table(spark, sf_dir, "part").createOrReplaceTempView("part")
    return spark.sql(_ZORDER_SQL)


#: compaction target: bins of ~2000 chars of documents per source —
#: stand-in for the real knob (e.g. 512 MB of parquet per output file)
_COMPACT_TARGET = 2000

_COMPACTION_SQL = f"""
    WITH sized AS (
      SELECT doc_id, source, n_chars,
             sum(n_chars) OVER (PARTITION BY source
                                ORDER BY n_chars DESC, doc_id
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND CURRENT ROW) AS csum
      FROM documents
    )
    SELECT doc_id, source, n_chars,
           CAST(ceil(csum / {_COMPACT_TARGET}.0) AS BIGINT) AS bin_id
    FROM sized
"""


@query("maintenance_compaction_plan", oracle=_COMPACTION_SQL)
def maintenance_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction planner — the table-maintenance job that
    keeps a 100 TB lake readable: within each partition (``source``),
    files (documents standing in, ``n_chars`` as size) are ordered
    largest-first and packed greedily into target-size bins by a
    cumulative-sum window; every file in bin k is then rewritten into
    one output file.  Largest-first next-fit is the classic
    Iceberg/Delta binning heuristic: deterministic, single-pass, and
    within a constant factor of optimal bin count.

    Scale: the window is hash-partitioned on the layout partition key
    — one shuffle, each task plans its own partitions independently;
    no global state, no driver loop.  The plan (doc→bin assignment)
    is itself a DataFrame, so the follow-up rewrite is a
    ``repartition(source, bin_id)`` + write.  All-integer output
    (ceil of an exact integer sum over an integral target), shared
    SQL text with the oracle."""
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(_COMPACTION_SQL)


def _skew_block(rel: str, key: str, tag: str) -> str:
    """Per-(relation, key-column) skew-audit CTE chain: key counts →
    1-row stats → deterministic heaviest key (smallest id on ties) →
    one report row.  ``skew_ppm`` = max_cnt / mean_cnt in parts per
    million and ``salt_factor`` = ceil(max_cnt / mean_cnt) — the
    number of salt buckets that levels the heaviest key to the mean —
    both exact in DOUBLE at any realistic cardinality (max_cnt·n_keys
    ≤ n_rows² and the fixture/production ratios stay far inside
    2^53)."""
    return f"""
    c{tag} AS (SELECT {key} AS k, count(*) AS cnt
               FROM {rel} GROUP BY {key}),
    s{tag} AS (SELECT count(*) AS nk, CAST(sum(cnt) AS BIGINT) AS nr,
                      max(cnt) AS mx FROM c{tag}),
    h{tag} AS (SELECT min(k) AS hk FROM c{tag} CROSS JOIN s{tag}
               WHERE c{tag}.cnt = s{tag}.mx),
    r{tag} AS (SELECT '{rel}' AS rel, '{key}' AS key_col,
                      nr AS n_rows, nk AS n_keys, mx AS max_cnt,
                      CAST(hk AS BIGINT) AS heavy_key,
                      CAST(floor(mx * 1000000.0 * nk / nr) AS BIGINT)
                        AS skew_ppm,
                      CAST(ceil(mx * 1.0 * nk / nr) AS BIGINT)
                        AS salt_factor
               FROM s{tag} CROSS JOIN h{tag})"""


#: the shuffle keys the engine's heavy joins/aggs actually hash on —
#: the relations a skew audit must clear before a 100 TB run
_SKEW_KEYS = [
    ("lineitem", "l_orderkey", "a"),
    ("lineitem", "l_suppkey", "b"),
    ("orders", "o_custkey", "c"),
    ("events", "user_id", "d"),
]

_SKEW_SQL = (
    "WITH "
    + ",".join(_skew_block(r, k, t) for r, k, t in _SKEW_KEYS)
    + "\n    "
    + "\n    UNION ALL ".join(f"SELECT * FROM r{t}" for _, _, t in _SKEW_KEYS)
)


@query("dq_skew_report", oracle=_SKEW_SQL)
def dq_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-key skew audit (r16) — the governance readout a 100 TB
    job reads BEFORE picking its skew mitigations: for every key
    column the engine's heavy joins/aggs hash-partition on, one row
    with the key-space size, the heaviest key and its count, the
    max/mean skew ratio in exact ppm, and the salt factor that would
    level the heaviest key to the mean (``ceil(max_cnt/mean_cnt)`` —
    1 means "no salting needed"; the AQE skew-join threshold and the
    ``F.rand``-salt fan-out of ``join_skew_salted`` are both sized
    from exactly this number).

    Plan shape per audited key: ONE hash aggregation (map-side combine
    absorbs the per-row count, the shuffle carries one partial row per
    key per task), a 1-row stats reduce, and a 1-row CROSS JOIN fuse
    to pick the deterministic heaviest key (min id on ties) — no
    window over the key space, no driver loop, output = 4 rows.  The
    audit costs one pass per relation regardless of skew; at 100 TB it
    is the cheap precursor that decides whether the EXPENSIVE
    mitigation (salting's 2nd shuffle) is worth paying anywhere.
    Shared SQL text with the DuckDB oracle (dialect-intersection
    arithmetic only).  Reference heritage: none (SURVEY §2 charter
    extension, dq family)."""
    for rel in {r for r, _, _ in _SKEW_KEYS}:
        load_table(spark, sf_dir, rel).createOrReplaceTempView(rel)
    return spark.sql(_SKEW_SQL)
