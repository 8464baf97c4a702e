"""Counters for one process tree, read from ``/proc``.

The tree is the benchmark's worker process and all its descendants:

- ``driver``: the root (driver Python, including py4j threads);
- ``jvm``: the ``java`` process (Spark driver and, in ``local[n]``, the
  executor threads);
- ``pyworker``: ``pyspark.daemon`` and the workers it forks.  Workers
  that have exited and been reaped are counted through the daemon's
  ``cutime``/``cstime``.

Bytes written (``/proc/<pid>/io``) cover live processes only.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _read(path: str) -> str | None:
    try:
        with open(path, "rb") as fh:
            return fh.read().decode(errors="replace")
    except OSError:  # the process ended between listing and reading
        return None


def tree(root: int) -> dict[int, list[str]]:
    """``pid -> stat fields`` for ``root`` and its live descendants;
    ``fields[0]`` is the state letter (field 3 of ``stat``)."""
    procs, children = {}, {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        stat = _read(f"/proc/{name}/stat")
        if stat is None:
            continue
        fields = stat[stat.rfind(")") + 2 :].split()
        procs[int(name)] = fields
        children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in procs:
            out[pid] = procs[pid]
            todo.extend(children.get(pid, ()))
    return out


def identities(procs: dict[int, list[str]]) -> set[tuple[int, str]]:
    """``(pid, start time)`` of every process of a ``tree``, so a process
    can be recognised after it is re-parented, and a reused pid is not."""
    return {(pid, f[19]) for pid, f in procs.items()}


def alive(ids: set[tuple[int, str]]) -> set[tuple[int, str]]:
    left = set()
    for pid, start in ids:
        stat = _read(f"/proc/{pid}/stat")
        if stat is not None:
            fields = stat[stat.rfind(")") + 2 :].split()
            if fields[19] == start and fields[0] != "Z":
                left.add((pid, start))
    return left


def pss_mb(procs: dict[int, list[str]]) -> float:
    """Resident memory of every process of a ``tree``, in MB, as PSS:
    pages shared between processes (the forked Python workers share most
    of theirs) are split among them instead of counted once per process."""
    total = 0
    for pid in procs:
        rollup = _read(f"/proc/{pid}/smaps_rollup")
        for line in (rollup or "").splitlines():
            if line.startswith("Pss:"):
                total += int(line.split()[1]) * 1024
                break
    return total / 1e6


def _kind(pid: int, root: int) -> str:
    if pid == root:
        return "driver"
    cmd = _read(f"/proc/{pid}/cmdline") or ""
    if "pyspark.daemon" in cmd or "pyspark/daemon" in cmd:
        return "pyworker"
    if os.path.basename(cmd.split("\0", 1)[0]) == "java":
        return "jvm"
    return "other"


class Snapshot:
    """CPU seconds per process kind and bytes written, at one instant."""

    def __init__(self, root: int):
        self.cpu = {"driver": 0.0, "jvm": 0.0, "pyworker": 0.0, "other": 0.0}
        self.write_bytes = 0
        for pid, f in tree(root).items():
            kind = _kind(pid, root)
            # fields after the state: utime=11, stime=12, cutime=13, cstime=14
            ticks = int(f[11]) + int(f[12])
            if kind == "pyworker":
                ticks += int(f[13]) + int(f[14])
            self.cpu[kind] += ticks / _TICK
            io = _read(f"/proc/{pid}/io")
            if io:
                for line in io.splitlines():
                    if line.startswith("write_bytes:"):
                        self.write_bytes += int(line.split()[1])

    def delta(self, before: "Snapshot") -> dict[str, float]:
        out = {f"{k}.cpu_s": self.cpu[k] - before.cpu[k] for k in self.cpu}
        out["disk.write_mb"] = (self.write_bytes - before.write_bytes) / 1e6
        return out


def host_ticks() -> list[int]:
    """The machine-wide ``cpu`` line of ``/proc/stat``: user, nice,
    system, idle, iowait, irq, softirq, steal, ... in clock ticks."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]
