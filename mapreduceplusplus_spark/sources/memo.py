"""In-process memo of what queries derive from a dataset.

Many queries derive the same intermediates from one table: the
persisted shingle and MinHash band frames of ``documents``, the BPE
merge table, the IVF seed centroids and probe of ``embeddings``.
``memo`` builds each once per dataset version and session and hands
every later caller the same value, so a warm query reuses the persisted
frame (or skips the bounded collect) instead of recomputing it.

Key.  ``(spark, sf_dir, table, dataset_fingerprint(sf_dir, table),
tag)``: ``tag`` names what ``build`` derives (any hashable, e.g.
``"mh_bands"`` or ``("bpe_state", n)``).  The fingerprint stamps the
file version, so an in-process rewrite of ``<sf_dir>/<table>.parquet``
is a miss, never a stale hit.

Scope.  The SparkSession object, not the application: sibling sessions
from ``spark.newSession()`` share one application but carry their own
conf, and a DataFrame resolved in one session runs under that session's
conf, so a hit across sessions would leak the builder's conf into the
reuser's plans.  A sibling session rebuilds its own entries.

Eviction.  On a miss, every entry for the same ``(spark, sf_dir,
table)`` under another fingerprint is dropped and its DataFrames
unpersisted first: that dataset version can never be asked for again,
so a session that rewrites a dataset repeatedly holds one version.

Release.  ``release()`` unpersists every DataFrame held, at top level
or inside a tuple, and empties the memo.  It is the one release hook:
``bench.py`` calls it after every timed run and tests call it around
``tmp_path`` datasets.  A caller whose frame should stay cached calls
``.persist()`` inside ``build``; there is no persist flag.  Callers
persist frames that feed two or three branches of a plan: whether
Spark's exchange reuse runs such a frame once is scheduler-dependent
(measured: the n-gram candidate stage took 2.3-4.2 s warm without the
persist, 1.4-2.2 s with it; MinHash 0.9-2.4 s against 0.5-1.0 s).

``read_parquet``'s schema memo (``_SCHEMA_MEMO`` in
``sources/tables.py``) stays outside: it is keyed by path alone, shared
by every session (an inferred schema carries no session state), holds
one entry per path that a new file version replaces, and has nothing
to unpersist, so it needs no release.
"""

from __future__ import annotations

from typing import Any, Callable, Hashable

from pyspark.sql import DataFrame, SparkSession

from mapreduceplusplus_spark.sources.tables import dataset_fingerprint

#: (spark, sf_dir, table, fingerprint, tag) -> what ``build`` returned
_MEMO: dict[tuple, Any] = {}


def _unpersist(value: Any) -> None:
    for v in value if isinstance(value, tuple) else (value,):
        if isinstance(v, DataFrame):
            try:
                v.unpersist()
            except Exception:
                pass  # session already stopped


def memo(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    tag: Hashable,
    build: Callable[[], Any],
) -> Any:
    """``build()`` once per session and version of
    ``<sf_dir>/<table>.parquet``; later calls return the same value."""
    key = (spark, sf_dir, table, dataset_fingerprint(sf_dir, table), tag)
    if key in _MEMO:
        return _MEMO[key]
    for k in [k for k in _MEMO if k[:3] == key[:3] and k[3] != key[3]]:
        _unpersist(_MEMO.pop(k))
    value = _MEMO[key] = build()
    return value


def release() -> None:
    """Unpersist every memoized DataFrame and empty the memo."""
    for value in _MEMO.values():
        _unpersist(value)
    _MEMO.clear()
