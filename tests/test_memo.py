"""The in-process dataset memo (``sources/memo.py``): a rewritten table
is never served from it, and ``release()`` drops every entry and
unpersists every frame it held.  The eviction pin is in
``tests/test_r17_optimizations.py``; the one-memo lint in
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
# frames, the BPE state tuple, the semdedup gate, the IVF seed scalars
@pytest.mark.parametrize(
    "name, table",
    [
        ("dedup_minhash_near", "documents"),
        ("text_heavy_hitters", "documents"),
        ("text_winnowing_matches", "documents"),
        ("text_bpe_train", "documents"),
        ("dedup_semdedup", "embeddings"),
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
