"""The on-disk index-store protocol (``sources/index_store.py``), pinned
without Spark: each test gets its own store root under ``tmp_path``.
The Spark-side pins (every store adopted across a restart, a crashed
builder, partial and vanished stores, TTL GC) are in
``tests/test_llm_ops.py``."""

from __future__ import annotations

import os
import tempfile
import time

import pytest

from mapreduceplusplus_spark.sources import index_store
from mapreduceplusplus_spark.sources.index_store import ensure_store

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "mapreduceplusplus_spark",
)


@pytest.fixture
def root(tmp_path, monkeypatch):
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    return index_store._root()


def _builder(calls):
    def build(d):
        calls.append(d)
        os.makedirs(d)
        with open(os.path.join(d, "part-0.parquet"), "w") as fh:
            fh.write(str(len(calls)))

    return build


def test_adoption_refreshes_a_backdated_store_mtime(root):
    """A process that keeps serving a store must keep it young, or
    another process's TTL GC removes it from under the reader."""
    d = ensure_store("mrl_prefix", "/data/sf", ("fp",), _builder([]))
    old = time.time() - index_store._STORE_TTL_S - 60
    os.utime(d, (old, old))
    assert ensure_store("mrl_prefix", "/data/sf", ("fp",), _builder([])) == d
    assert time.time() - os.stat(d).st_mtime < 60


def test_a_layout_constant_in_fp_names_a_new_store(root):
    calls = []
    a = ensure_store("ivf_pq_index", "/data/sf", (("fp",), 16, 8), _builder(calls))
    b = ensure_store("ivf_pq_index", "/data/sf", (("fp",), 16, 4), _builder(calls))
    assert a != b
    assert len(calls) == 2
    assert os.path.isdir(a) and os.path.isdir(b)


def test_a_concurrent_winner_is_adopted_untouched(root):
    """The build's rename loses to a store another builder installed
    meanwhile: the winner is returned as it is, and the loser's
    staging dir is gone."""
    stamp = index_store._stamp("/data/sf", ("fp",))
    seen = {}

    def build(d):
        final = d.rsplit(".tmp", 1)[0]
        os.makedirs(final)
        with open(os.path.join(final, "part-0.parquet"), "w") as fh:
            fh.write("winner")
        with open(os.path.join(final, "_COMPLETE"), "w") as fh:
            fh.write(stamp)
        seen.update(
            (n, os.stat(os.path.join(final, n)).st_mtime_ns)
            for n in os.listdir(final)
        )
        os.makedirs(d)
        with open(os.path.join(d, "part-0.parquet"), "w") as fh:
            fh.write("loser")

    d = ensure_store("hamming_sketch", "/data/sf", ("fp",), build)
    assert {
        n: os.stat(os.path.join(d, n)).st_mtime_ns for n in os.listdir(d)
    } == seen
    with open(os.path.join(d, "part-0.parquet")) as fh:
        assert fh.read() == "winner"
    assert os.listdir(root) == [os.path.basename(d)]


def test_a_store_whose_dataset_is_gone_is_removed(root, tmp_path, monkeypatch):
    """The once-per-process GC drops a complete store whose stamped
    dataset dir was deleted, however young, and keeps the store of a
    dataset that still exists and one whose stamp does not parse."""
    gone, kept = tmp_path / "sf_gone", tmp_path / "sf_kept"
    gone.mkdir()
    kept.mkdir()
    d_gone = ensure_store("neardup_index", str(gone), ("fp",), _builder([]))
    d_kept = ensure_store("neardup_index", str(kept), ("fp",), _builder([]))
    garbled = os.path.join(root, "neardup_index_garbled")
    os.makedirs(garbled)
    with open(os.path.join(garbled, "_COMPLETE"), "w") as fh:
        fh.write("not a stamp (")
    gone.rmdir()
    monkeypatch.setattr(index_store, "_gc_done", False)
    assert index_store._root() == root
    assert not os.path.exists(d_gone)
    assert os.path.isdir(d_kept)
    assert os.path.isdir(garbled)


@pytest.mark.skipif(
    not hasattr(os, "getuid") or os.getuid() != 0,
    reason="handing the root to another uid needs root",
)
def test_a_root_owned_by_another_uid_is_refused(tmp_path, monkeypatch):
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    foreign = tmp_path / f"mrpp_index_u{os.getuid()}"
    foreign.mkdir()
    os.chown(foreign, 12345, 12345)
    with pytest.raises(RuntimeError, match="owned by uid 12345"):
        ensure_store("ivf_index", "/data/sf", ("fp",), _builder([]))


def _sources(sub=""):
    for d, _dirs, files in os.walk(os.path.join(PKG, sub)):
        for fn in files:
            if fn.endswith(".py"):
                p = os.path.join(d, fn)
                with open(p) as fh:
                    yield os.path.relpath(p, PKG), fh.read()


def test_one_store_protocol():
    """Index stores are made only through ``ensure_store``: nothing
    under ``llm/`` makes a temp dir, and the store module's staging
    sweep is the package's only exit hook."""
    for rel, text in _sources("llm"):
        assert "tempfile.mkdtemp(" not in text, rel
    hooks = sorted(rel for rel, text in _sources() if "atexit.register(" in text)
    assert hooks == [os.path.join("sources", "index_store.py")]


def test_one_memo():
    """In-process memos live in ``sources/memo.py``: the only other
    module-level dicts are the path-keyed Parquet schema memo and the
    query registry, and no module reaches into dedup's private memo
    names."""
    import ast

    allowed = {
        (os.path.join("sources", "tables.py"), "_SCHEMA_MEMO"),
        ("registry.py", "QUERIES"),
        ("registry.py", "ORACLES"),
    }
    dicts, leaks = [], []
    for rel, text in _sources():
        tree = ast.parse(text, rel)
        for node in tree.body:
            if isinstance(node, ast.Assign):
                targets, value = node.targets, node.value
            elif isinstance(node, ast.AnnAssign) and node.value is not None:
                targets, value = [node.target], node.value
            else:
                continue
            is_dict = (isinstance(value, ast.Dict) and not value.keys) or (
                isinstance(value, ast.Call)
                and isinstance(value.func, ast.Name)
                and value.func.id == "dict"
            )
            if is_dict and rel != os.path.join("sources", "memo.py"):
                for t in targets:
                    name = t.id if isinstance(t, ast.Name) else ast.dump(t)
                    if (rel, name) not in allowed:
                        dicts.append((rel, name))
        if rel == os.path.join("llm", "dedup.py"):
            continue
        for node in ast.walk(tree):
            if isinstance(node, ast.ImportFrom) and (
                node.module or ""
            ).endswith("llm.dedup"):
                leaks += [
                    (rel, a.name)
                    for a in node.names
                    if a.name.startswith("_")
                    and any(
                        s in a.name for s in ("CACHE", "MEMO", "docs_key", "aux")
                    )
                ]
    assert dicts == [], dicts
    assert leaks == [], leaks


def test_one_truncation():
    """Lineage is cut only through ``iterate.truncate``: no
    ``.localCheckpoint`` attribute is read anywhere else in the
    package."""
    import ast

    sites = [
        (rel, node.lineno)
        for rel, text in _sources()
        if rel != "iterate.py"
        for node in ast.walk(ast.parse(text, rel))
        if isinstance(node, ast.Attribute) and node.attr == "localCheckpoint"
    ]
    assert sites == [], sites
