"""The Parquet schema memo of ``sources/tables.py`` (``read_parquet``).

A read without a schema makes Spark run a schema-merge job on every
build.  ``read_parquet`` infers once per file version and then reads
with the remembered schema: no job, same DataFrame schema, same plan.
A rewritten file, a changed inference conf or a failed read must never
be served from the memo.
"""

from __future__ import annotations

import ast
import os
import re
import shutil
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException

from mapreduceplusplus_spark import registry
from mapreduceplusplus_spark.sources import tables
from mapreduceplusplus_spark.sources.tables import load_table, read_parquet
from tests.conftest import SF_DIR_ORACLE

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _jobs(spark, fn):
    """(fn(), number of Spark jobs fn launched)."""
    sc = spark.sparkContext
    group = f"schema-memo-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _plan(df, which: str) -> str:
    qe = df._jdf.queryExecution()
    return re.sub(r"#\d+L?", "#", getattr(qe, which)().toString())


def _cols(df) -> list[str]:
    return [f.name for f in df.schema.fields]


@pytest.fixture
def sf_copy(tmp_path):
    """A private copy of the oracle dataset's lineitem: no other test
    has read it, so the first read is cold."""
    d = tmp_path / "sf"
    d.mkdir()
    shutil.copy(f"{SF_DIR_ORACLE}/lineitem.parquet", d / "lineitem.parquet")
    return str(d)


def test_second_load_of_unchanged_table_runs_no_job(spark, sf_copy):
    cold, n_cold = _jobs(spark, lambda: load_table(spark, sf_copy, "lineitem"))
    warm, n_warm = _jobs(spark, lambda: load_table(spark, sf_copy, "lineitem"))
    assert (n_cold, n_warm) == (1, 0)
    assert warm.schema == cold.schema
    assert warm.count() == cold.count() == 60_000


@pytest.mark.parametrize("uri", [False, True], ids=["path", "file_uri"])
def test_rewrite_at_same_path_is_read_with_its_own_schema(spark, tmp_path, uri):
    """A ``file:`` URI cannot be stamped as a local path, so it is
    never served from the memo."""
    local = str(tmp_path / "t.parquet")
    path = f"file://{local}" if uri else local
    pq.write_table(pa.table({"a": [1, 2], "b": ["x", "y"]}), local)
    assert _cols(read_parquet(spark, path)) == ["a", "b"]
    assert _cols(read_parquet(spark, path)) == ["a", "b"]

    # a wider rewrite: the new column shows up, with its values
    pq.write_table(
        pa.table({"a": [1, 2, 3], "b": ["x", "y", "z"], "c": [0.5, 1.5, 2.5]}),
        local,
    )
    df, n = _jobs(spark, lambda: read_parquet(spark, path))
    assert n == 1
    assert _cols(df) == ["a", "b", "c"]
    assert sorted(tuple(r) for r in df.collect()) == [
        (1, "x", 0.5),
        (2, "y", 1.5),
        (3, "z", 2.5),
    ]

    # a narrower rewrite: the stale wider schema would show a null "c"
    pq.write_table(pa.table({"a": [7]}), local)
    df = read_parquet(spark, path)
    assert _cols(df) == ["a"]
    assert [tuple(r) for r in df.collect()] == [(7,)]


def test_zero_file_directory_raises_then_reads_once_a_file_appears(
    spark, tmp_path
):
    d = tmp_path / "empty.parquet"
    d.mkdir()
    with pytest.raises(AnalysisException, match="(?i)infer schema"):
        read_parquet(spark, str(d))
    assert os.path.abspath(d) not in tables._SCHEMA_MEMO
    pq.write_table(pa.table({"k": [1, 2, 3]}), str(d / "part-0.parquet"))
    df = read_parquet(spark, str(d))
    assert _cols(df) == ["k"]
    assert sorted(r.k for r in df.collect()) == [1, 2, 3]


def test_nanos_events_load_the_same_rows_cold_and_warm(spark, tmp_path):
    """``events.ts`` as Parquet TIMESTAMP(NANOS): the cold load may be
    refused first (then retried with ``nanosAsLong``); that refusal is
    not remembered, and the warm load reads the same instants."""
    sf = tmp_path / "sf"
    sf.mkdir()
    ns = [1_700_000_000_123_456_789, 1_700_000_001_000_000_999]
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([1, 2], pa.int64()),
                "ts": pa.array(ns, pa.timestamp("ns")),
            }
        ),
        str(sf / "events.parquet"),
        version="2.6",
    )
    assert pq.read_schema(str(sf / "events.parquet")).field("ts").type == (
        pa.timestamp("ns")
    )

    def rows():
        df = load_table(spark, str(sf), "events")
        return df, sorted(
            r[0] for r in df.selectExpr("unix_micros(ts)").collect()
        )

    (cold, cold_rows), _ = _jobs(spark, rows)
    # the nanos branch ran (now, or earlier in this session)
    assert spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true"
    warm, n_warm = _jobs(spark, lambda: load_table(spark, str(sf), "events"))
    assert n_warm == 0
    assert warm.schema == cold.schema
    assert cold_rows == [x // 1000 for x in ns]
    assert sorted(
        r[0] for r in warm.selectExpr("unix_micros(ts)").collect()
    ) == cold_rows


@pytest.mark.parametrize(
    "name",
    [
        "mr_pipeline_api",
        "udaf_fold",
        "udtf_flatmap_generator",
        "udtf_arrow_vectorized",
        "udaf_pandas_grouped_agg",
        "stream_stateful_running_total",
        "scan_text_wordcount",
        "sim_search_ivfpq",
    ],
)
def test_second_build_of_a_benchmark_query_runs_no_job(spark, name):
    """The ``mapreduce`` workload's queries and ``sim_search_ivfpq``
    (three IVF-PQ reads): every schema a build needs is remembered
    after the first build, so a rebuild is pure plan construction."""
    q = registry.queries()[name]
    q(spark, SF_DIR_ORACLE)
    _, n = _jobs(spark, lambda: q(spark, SF_DIR_ORACLE))
    assert n == 0


def test_second_build_of_ingest_near_lists_only_the_shingle_store(spark):
    """``dedup_incremental_ingest_near`` memoizes its batch frames, its
    store candidates and their ``sk`` census, and reads the band store
    only inside the candidates' memo: a rebuild launches at most one
    job, the listing of the shingle store's partition directories."""
    q = registry.queries()["dedup_incremental_ingest_near"]
    q(spark, SF_DIR_ORACLE)
    _, n = _jobs(spark, lambda: q(spark, SF_DIR_ORACLE))
    assert n <= 1


def test_memo_hit_gives_the_cold_schema_and_plan(spark, tmp_path):
    """Plain file and a partitioned directory (the IVF index layout:
    the partition column comes from directory names)."""
    flat = str(tmp_path / "orders.parquet")
    shutil.copy(f"{SF_DIR_ORACLE}/orders.parquet", flat)
    parted = str(tmp_path / "by_status")
    spark.read.parquet(flat).write.partitionBy("o_orderstatus").parquet(parted)

    for path, where in [
        (flat, "o_totalprice > 1000"),
        (parted, "o_orderstatus IN ('F', 'P') AND o_custkey % 7 = 1"),
    ]:
        tables._SCHEMA_MEMO.pop(os.path.abspath(path), None)
        cold, n_cold = _jobs(spark, lambda: read_parquet(spark, path))
        warm, n_warm = _jobs(spark, lambda: read_parquet(spark, path))
        assert (n_cold, n_warm) == (1, 0), path
        assert warm.schema == cold.schema
        for which in ("optimizedPlan", "executedPlan"):
            assert _plan(warm.where(where), which) == _plan(
                cold.where(where), which
            ), (path, which)
        assert sorted(warm.where(where).collect()) == sorted(
            cold.where(where).collect()
        )


def test_changed_inference_conf_is_not_served_from_the_memo(spark, tmp_path):
    path = str(tmp_path / "bin.parquet")
    pq.write_table(pa.table({"b": pa.array([b"ab"], pa.binary())}), path)
    key = "spark.sql.parquet.binaryAsString"
    old = spark.conf.get(key)
    try:
        spark.conf.set(key, "false")
        assert read_parquet(spark, path).schema["b"].dataType.typeName() == "binary"
        spark.conf.set(key, "true")
        assert read_parquet(spark, path).schema["b"].dataType.typeName() == "string"
    finally:
        spark.conf.set(key, old)


#: (module, function) whose Parquet read may infer its schema outside
#: ``sources/tables.py``: ``source_schema_evolution`` exists to show
#: ``mergeSchema`` inference
_INFER_ALLOWED = {("operators/scans.py", "source_schema_evolution")}


def _reader_chain(node: ast.expr) -> list[str]:
    """Method names of a call chain ``x.read.a(..).b(..)`` from ``read``
    on, or [] when the chain does not start at a batch ``.read``."""
    names = []
    while True:
        if isinstance(node, ast.Call):
            node = node.func
        elif isinstance(node, ast.Attribute):
            names.append(node.attr)
            if node.attr == "read":
                return names[::-1]
            node = node.value
        else:
            return []


def _inferring_reads(tree: ast.Module):
    """(enclosing function, line) of every ``<x>.read...parquet(..)``
    call in ``tree`` whose chain supplies no ``.schema(..)``."""

    def visit(node, func):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            func = node.name
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "parquet"
        ):
            chain = _reader_chain(node)
            if chain and "schema" not in chain:
                yield func, node.lineno
        for child in ast.iter_child_nodes(node):
            yield from visit(child, func)

    return visit(tree, None)


def test_no_parquet_schema_inference_outside_tables_module():
    """Every batch Parquet read in the engine either names its schema
    or lives in ``sources/tables.py``, so how a Parquet schema is
    obtained is decided in one module."""
    pkg = os.path.join(ROOT, "mapreduceplusplus_spark")
    found = []
    for root, _dirs, files in os.walk(pkg):
        for fn in files:
            if not fn.endswith(".py"):
                continue
            p = os.path.join(root, fn)
            rel = os.path.relpath(p, pkg).replace(os.sep, "/")
            if rel == "sources/tables.py":
                continue
            with open(p, encoding="utf-8") as f:
                tree = ast.parse(f.read())
            found += [
                f"{rel}:{line} ({func})"
                for func, line in _inferring_reads(tree)
                if (rel, func) not in _INFER_ALLOWED
            ]
    assert not found, found


def test_inference_lint_sees_the_reads_it_must_refuse():
    reads = list(
        _inferring_reads(
            ast.parse(
                "def f(spark, p):\n"
                "    a = spark.read.parquet(p)\n"
                "    b = spark.read.option('k', 'v')\\\n"
                "        .parquet(p)\n"
                "    c = spark.read.schema(s).parquet(p)\n"
                "    d = spark.readStream.schema(s).parquet(p)\n"
                "    df.write.parquet(p)\n"
            )
        )
    )
    assert reads == [("f", 2), ("f", 3)]
