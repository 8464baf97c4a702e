"""The in-process dataset memo (``sources/memo.py``): a rewritten table
is never served from it, and ``release()`` drops every entry and
unpersists every frame it held.  The one-memo lint is in
``tests/test_index_store.py``."""

from __future__ import annotations

import os
import shutil
import tempfile

import pyarrow.parquet as pq
import pytest
from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

from mapreduceplusplus_spark import registry
from mapreduceplusplus_spark.sources import memo as M
from tests.conftest import SF_DIR_ORACLE

registry.load_all()


def _rows(spark, name: str, sf_dir: str) -> list[str]:
    return sorted(
        repr(tuple(r)) for r in registry.queries()[name](spark, sf_dir).collect()
    )


# one query per memo family: shingle and band frames, the two textstats
# frames, the BPE state tuple, the semdedup gate, the SemDeDup ingest
# batch and its cid census, the IVF seed scalars
@pytest.mark.parametrize(
    "name, table",
    [
        ("dedup_minhash_near", "documents"),
        ("text_heavy_hitters", "documents"),
        ("text_winnowing_matches", "documents"),
        ("text_bpe_train", "documents"),
        ("dedup_semdedup", "embeddings"),
        ("dedup_semdedup_incremental", "embeddings"),
        ("sim_search_ivfpq", "embeddings"),
    ],
)
def test_a_rewritten_table_is_not_served_from_the_memo(
    spark, tmp_path, monkeypatch, name, table
):
    """Run, rewrite the table in place with its first half, run again
    warm: the warm result must equal a cold run's after ``release()``.
    The index stores built on the way go under ``tmp_path`` too."""
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    sf_dir = str(tmp_path)
    path = os.path.join(sf_dir, f"{table}.parquet")
    shutil.copy(os.path.join(SF_DIR_ORACLE, f"{table}.parquet"), path)
    M.release()
    try:
        _rows(spark, name, sf_dir)
        t = pq.read_table(path)
        pq.write_table(t.slice(0, t.num_rows // 2), path)
        warm = _rows(spark, name, sf_dir)
        M.release()
        assert warm == _rows(spark, name, sf_dir)
    finally:
        M.release()


def test_release_empties_the_memo_and_unpersists_every_frame(spark):
    for name in ("sim_search_ivfpq", "dedup_minhash_near", "text_bpe_train"):
        registry.queries()[name](spark, SF_DIR_ORACLE).collect()
    held = list(M._MEMO.items())
    assert {"ivf_seeds", "pq_seeds", "mh_bands"} <= {k[4] for k, _ in held}
    frames = [
        v
        for _, value in held
        for v in (value if isinstance(value, tuple) else (value,))
        if isinstance(v, DataFrame)
    ]
    assert len(frames) >= 4  # shingles, mh_bands, BPE merges and seg
    assert all(df.is_cached for df in frames)

    M.release()
    assert M._MEMO == {}
    for df in frames:
        assert not df.is_cached
        assert df.storageLevel == StorageLevel(False, False, False, False)



def test_recall_curve_leaves_nothing_cached_after_release(spark):
    """The recall curve reads the IVF store instead of a cached corpus
    pass: after it runs and ``release()`` drops the memo, Spark's cache
    holds no relation and no RDD stays persisted."""
    sc = spark.sparkContext
    M.release()
    spark.catalog.clearCache()  # start from an empty cache
    before = set(sc._jsc.getPersistentRDDs().keys())
    registry.queries()["sim_search_recall_curve"](spark, SF_DIR_ORACLE).collect()
    M.release()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    assert set(sc._jsc.getPersistentRDDs().keys()) <= before

#: memo tags of the IVF quantizer inputs (``llm/similarity.py``)
_IVF_SEED_TAGS = ("ivf_seeds", "probe_v", "pq_seeds")


def test_ivf_seed_memo_holds_only_bounded_quantizer_inputs(spark):
    """The IVF seed entries outlive a query, so they may hold only
    bounded quantizer inputs (seed centroids, probe vector, probe cids,
    PQ seeds), never DataFrames or query results."""
    from pyspark.sql import DataFrame, SparkSession

    import mapreduceplusplus_spark.llm.similarity as S
    from mapreduceplusplus_spark.sources import memo as M

    S._ivf_seed_lists(spark, SF_DIR_ORACLE)
    qs = registry.queries()
    qs["sim_search_ivfpq"](spark, SF_DIR_ORACLE)  # populates pq_seeds
    seeds = {k: v for k, v in M._MEMO.items() if k[4] in _IVF_SEED_TAGS}
    assert {k[4] for k in seeds} >= {"ivf_seeds", "pq_seeds"}, seeds

    def flat(x):
        if isinstance(x, (list, tuple)):
            for y in x:
                yield from flat(y)
        else:
            yield x

    for key, val in seeds.items():
        # keys: (session, sf_dir, table, fingerprint, tag) — the
        # session object, then bounded plain values
        assert isinstance(key[0], SparkSession), key
        for leaf in flat(key[1:]):
            assert isinstance(leaf, (str, int, float, tuple)), key
        leaves = list(flat(val))
        assert len(leaves) < 50_000, "memo entry is not bounded"
        for leaf in leaves:
            assert not isinstance(leaf, DataFrame), (
                "seed memo must never hold DataFrames"
            )
            assert isinstance(leaf, (int, float)), (key, type(leaf))


def test_ivf_seed_memo_evicts_superseded_fingerprints(spark, tmp_path):
    """A rewritten dataset under the same (session, sf_dir, table)
    changes the fingerprint key: the old entries, frames and scalars
    alike, are evicted (frames unpersisted) on the next miss.  Entries
    for another directory are left alone."""
    import shutil

    from mapreduceplusplus_spark.sources import memo as M

    sf_dir, other = str(tmp_path / "a"), str(tmp_path / "b")
    for d in (sf_dir, other):
        os.makedirs(d)
        shutil.copy(os.path.join(SF_DIR_ORACLE, "embeddings.parquet"), d)
    path = os.path.join(sf_dir, "embeddings.parquet")
    M.release()
    try:
        frame = M.memo(
            spark, sf_dir, "embeddings", "frame",
            lambda: spark.range(3).persist(),
        )
        frame.count()
        M.memo(spark, sf_dir, "embeddings", "scalar", lambda: [1, 2])
        kept = M.memo(spark, other, "embeddings", "scalar", lambda: [3])
        assert frame.is_cached and len(M._MEMO) == 3

        st = os.stat(path)  # a rewrite: same bytes, new mtime
        os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
        assert M.memo(spark, sf_dir, "embeddings", "scalar", lambda: [4]) == [4]
        assert not frame.is_cached
        assert [k[4] for k in M._MEMO if k[1] == sf_dir] == ["scalar"]
        assert M.memo(spark, other, "embeddings", "scalar", lambda: [5]) is kept
    finally:
        M.release()


def test_session_sql_keeps_a_persisted_frame_cached(spark):
    """``session.sql`` drops its temporary views without uncaching: a
    persisted frame passed as ``{name}`` stays cached, the statement
    reads it from the cache, and no view is left in the catalog.
    PySpark's ``spark.sql(text, name=frame)`` uncaches the frame."""
    from mapreduceplusplus_spark.session import sql

    df = spark.range(10).selectExpr("id * 3 AS x").persist()
    try:
        df.count()
        out = sql(spark, "SELECT x FROM {d} WHERE x > 1", d=df)
        cached = "InMemoryRelation"
        assert cached in out._jdf.queryExecution().optimizedPlan().toString()
        again = df.select("x")._jdf.queryExecution().optimizedPlan().toString()
        assert cached in again
        assert sorted(r.x for r in out.collect()) == [3 * i for i in range(1, 10)]
        assert not [t for t in spark.catalog.listTables() if t.name.startswith("_q")]
    finally:
        df.unpersist()
