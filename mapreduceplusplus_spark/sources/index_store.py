"""On-disk index stores: build once, adopt everywhere.

Every persisted index the engine reads back (the MinHash band and
shingle stores, the semantic-ingest member store, the Hamming sketch,
the Matryoshka prefix store and the IVF store of every IVF codec) is
one directory made by ``ensure_store``, the MapReduce++ output-commit
rule applied to a shared filesystem: a store counts as written only
once it is complete.  Derived fixtures use the same protocol: the sf1
dataset that ``bench.py sf1`` times is a store built from its source
dataset.

Protocol.  A store's name derives from what it indexes, never from the
process: ``<prefix>_<md5 of the stamp>``, where the stamp is
``repr((abspath(sf_dir), fp))``.  ``fp`` is the caller's content
fingerprint of its input plus every layout constant the store's bytes
depend on, so a rewritten dataset or a changed layout names a new
store instead of adopting an old one.  A build runs ``build(tmp)`` into
a pid-suffixed staging dir ``<name>.tmp<pid>``, writes the stamp to
``_COMPLETE`` and renames the dir into place.  A store whose
``_COMPLETE`` holds the stamp is adopted without a build, by this
process or any later one.  If the rename fails because a concurrent
builder won, its store is adopted and the staging copy dropped; a
complete store is never removed by a racing builder, only a leftover
without a matching stamp (which serves nobody).

Lifecycle.  Complete stores outlive the process that built them.
Process exit removes only that process's own ``.tmp<pid>`` staging
dirs (one ``atexit`` hook): sweeping a complete store on exit would
pull it from under an overlapping process whose lazily consumed plan
is still reading it.  Cleanup is by age instead: a process's first
access to the root removes complete stores idle for longer than
``_STORE_TTL_S`` and staging dirs older than ``_STAGING_TTL_S``.  The
same pass removes a complete store whose stamped dataset dir no longer
exists, whatever its age: no later run can name it again.
Every adoption refreshes the store's dir mtime, so a store that any
process is serving cannot expire.  Remove the root to force cold
builds.

Security.  The root is ``<tempdir>/mrpp_index_u<uid>``, created 0700.
A fixed world-writable path would let another local user pre-create a
store with a forged ``_COMPLETE`` and have this user's queries serve
its contents, so the root is refused when another uid owns it.
"""

from __future__ import annotations

import ast
import atexit
import glob
import hashlib
import os
import shutil
import tempfile
import time
from typing import Callable

#: idle age past which a complete store is garbage (adoption refreshes
#: the dir mtime, so a store in use stays young)
_STORE_TTL_S = 6 * 3600
#: age past which a ``.tmp<pid>`` staging dir is a crashed builder's
#: debris (a live build finishes in seconds)
_STAGING_TTL_S = 3600

#: the GC runs once per process: the root holds a few dirs per dataset,
#: and listing it on every lookup would be churn
_gc_done = False


def ensure_store(
    prefix: str, sf_dir: str, fp: tuple, build: Callable[[str], None]
) -> str:
    """The complete store for ``(sf_dir, fp)``, built by ``build(dir)``
    only when no complete store exists (see the module docstring)."""
    stamp = _stamp(sf_dir, fp)
    final = os.path.join(
        _root(), f"{prefix}_{hashlib.md5(stamp.encode()).hexdigest()[:16]}"
    )
    if _complete(final, stamp):
        _touch(final)
        return final
    tmp = f"{final}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    build(tmp)
    with open(os.path.join(tmp, "_COMPLETE"), "w") as fh:
        fh.write(stamp)
    for _attempt in (1, 2):
        try:
            os.rename(tmp, final)
            return final
        except OSError:
            if _complete(final, stamp):  # a concurrent builder won
                shutil.rmtree(tmp, ignore_errors=True)
                _touch(final)
                return final
            # a leftover without a matching stamp serves nobody
            shutil.rmtree(final, ignore_errors=True)
    raise RuntimeError(f"could not install index store at {final}")


def _stamp(sf_dir: str, fp: tuple) -> str:
    return repr((os.path.abspath(sf_dir), fp))


def _root() -> str:
    uid = os.getuid() if hasattr(os, "getuid") else 0
    root = os.path.join(tempfile.gettempdir(), f"mrpp_index_u{uid}")
    os.makedirs(root, mode=0o700, exist_ok=True)
    st = os.stat(root)
    if hasattr(os, "getuid") and st.st_uid != os.getuid():
        raise RuntimeError(
            f"index store root {root} is owned by uid {st.st_uid}, "
            f"not the current user — refusing to trust its contents"
        )
    os.chmod(root, 0o700)
    _gc_root(root)
    return root


def _gc_root(root: str) -> None:
    """Remove complete stores idle past ``_STORE_TTL_S`` or whose
    dataset dir is gone, and staging dirs older than
    ``_STAGING_TTL_S``, once per process.  Only old or orphaned dirs
    go, so the GC is safe beside any number of live readers and
    builders."""
    global _gc_done
    if _gc_done:
        return
    _gc_done = True
    now = time.time()
    try:
        entries = os.listdir(root)
    except OSError:
        return
    for name in entries:
        d = os.path.join(root, name)
        try:
            age = now - os.stat(d).st_mtime
        except OSError:
            continue  # removed concurrently
        if ".tmp" in name:
            expired = age > _STAGING_TTL_S
        else:
            expired = age > _STORE_TTL_S or _orphaned(d)
        if expired:
            shutil.rmtree(d, ignore_errors=True)


def _orphaned(d: str) -> bool:
    """True when the dataset dir in ``d``'s ``_COMPLETE`` stamp no
    longer exists; a missing or unparsable stamp keeps the store."""
    try:
        with open(os.path.join(d, "_COMPLETE")) as fh:
            sf_dir, _fp = ast.literal_eval(fh.read())
    except (OSError, ValueError, TypeError, SyntaxError):
        return False
    return isinstance(sf_dir, str) and not os.path.exists(sf_dir)


def _complete(d: str, stamp: str) -> bool:
    try:
        with open(os.path.join(d, "_COMPLETE")) as fh:
            return fh.read() == stamp
    except OSError:
        return False


def _touch(d: str) -> None:
    try:
        os.utime(d, None)
    except OSError:
        pass


def _sweep_staging() -> None:
    """Exit hook: remove this process's ``.tmp<pid>`` staging dirs."""
    try:
        root = _root()
    except (OSError, RuntimeError):
        return
    for d in glob.glob(os.path.join(root, f"*.tmp{os.getpid()}")):
        shutil.rmtree(d, ignore_errors=True)


atexit.register(_sweep_staging)
