"""One measured benchmark process: set up, run timed passes, check outputs.

Started by ``run.py`` in an isolated ``TMPDIR``; writes its raw
measurements as JSON to ``--out``.  It calls only the engine's public
entry points (``session.get_spark``, ``registry.queries()`` /
``registry.oracles()``) and Spark's own status tracker and status store,
and measures every layer from outside those calls.

Timeline: process start -> session -> registry import -> one warm-up
pass = set-up; then whole timed passes until ``--seconds`` have elapsed.
The warm-up pass is also the correctness pass: it collects each query's
output and compares it with the DuckDB oracle
(``tests/oracle_harness``).  The oracle's own time is measured and kept
out of ``setup_s``; the engine's time in that pass (building plans and
index stores, first-use compilation, collecting the output) stays in.
With ``--trace 1`` half the timed passes are traced (spans plus
counters), so the untraced passes of the same process give the tracing
overhead.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import sys
import tempfile
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import procfs  # noqa: E402
from py4j.protocol import Py4JJavaError  # noqa: E402

MB = 1e6
#: timed passes an untraced run's metrics cover: the first ones after set-up
PASSES = 3


def store_root() -> str:
    """The engine's persisted index-store root for this user."""
    return os.path.join(tempfile.gettempdir(), f"mrpp_index_u{os.getuid()}")


def _du(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            try:
                total += os.lstat(os.path.join(d, f)).st_size
            except OSError:
                pass
    return total


def store_census() -> dict[str, int]:
    """Each built index store -> the mtime of its completion mark.

    Two kinds exist: directories under the store root stamped with a
    ``_COMPLETE`` file, and ``ivf*`` directories made directly under the
    temp dir.  A rebuild in place rewrites ``_COMPLETE``, so a changed
    mtime counts as a new build."""
    out: dict[str, int] = {}
    root = store_root()
    if os.path.isdir(root):
        for d, _, files in os.walk(root):
            if "_COMPLETE" in files:
                out[d] = os.stat(os.path.join(d, "_COMPLETE")).st_mtime_ns
    tmp = tempfile.gettempdir()
    for name in os.listdir(tmp):
        p = os.path.join(tmp, name)
        if name.startswith("ivf") and os.path.isdir(p):
            out[p] = os.stat(p).st_mtime_ns
    return out


def stores_built(before: dict[str, int], after: dict[str, int]) -> list[str]:
    return [p for p, m in after.items() if before.get(p) != m]


class SparkCounters:
    """Per-span Spark counters read from the Spark driver's status store.

    Jobs are attributed to a span through the job group the harness sets
    before calling the engine.  A job also lists stages whose output an
    earlier job left behind; those count as skipped, so a stage's metrics
    are counted once, in the span that submitted it."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self.store = jsc.statusStore()
        self.bus = jsc.listenerBus()
        self.seen_jobs: set[int] = set()
        self.seen_stages: set[int] = set()

    def new_jobs(self, group: str) -> list[int]:
        self.bus.waitUntilEmpty()
        ids = set(self.sc.statusTracker().getJobIdsForGroup(group))
        new = sorted(ids - self.seen_jobs)
        self.seen_jobs.update(new)
        return new

    def _ran_since(self, sid: int, since_ms: int):
        """The stage's data if it was submitted at or after ``since_ms``
        and not counted before, else None."""
        if sid in self.seen_stages:
            return None
        try:
            sd = self.store.lastStageAttempt(sid)
        except Py4JJavaError:  # no longer retained by the status store
            return None
        submitted = sd.submissionTime()
        if not submitted.isDefined() or submitted.get().getTime() < since_ms:
            return None
        self.seen_stages.add(sid)
        return sd

    def jobs(self, job_ids: list[int], since: float) -> dict[str, float]:
        c = dict.fromkeys(
            [
                "stages", "stages_skipped", "tasks", "failed_tasks",
                "task_run_s", "task_cpu_s", "gc_s", "shuffle_write_mb",
                "shuffle_read_mb", "spill_mb", "input_mb",
                "peak_exec_mem_mb",
            ],
            0.0,
        )
        c["jobs"] = len(job_ids)
        for jid in job_ids:
            info = self.sc.statusTracker().getJobInfo(jid)
            for sid in info.stageIds if info else ():
                sd = self._ran_since(sid, int(since * 1e3))
                if sd is None:
                    c["stages_skipped"] += 1
                    continue
                c["stages"] += 1
                c["tasks"] += sd.numCompleteTasks() + sd.numFailedTasks()
                c["failed_tasks"] += sd.numFailedTasks()
                c["task_run_s"] += sd.executorRunTime() / 1e3
                c["task_cpu_s"] += sd.executorCpuTime() / 1e9
                c["gc_s"] += sd.jvmGcTime() / 1e3
                c["shuffle_write_mb"] += sd.shuffleWriteBytes() / MB
                c["shuffle_read_mb"] += sd.shuffleReadBytes() / MB
                c["spill_mb"] += sd.diskBytesSpilled() / MB
                c["input_mb"] += sd.inputBytes() / MB
                c["peak_exec_mem_mb"] = max(
                    c["peak_exec_mem_mb"], sd.peakExecutionMemory() / MB
                )
        return c


class Tracer:
    """In-memory spans: name, start, end, parent and run id; counters are
    attached at each span's end.  Disabled tracers record nothing."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self.stack: list[int] = []

    def open(self, name: str, start: float | None = None) -> int | None:
        if not self.enabled:
            return None
        sid = len(self.spans)
        self.spans.append(
            {
                "run": self.run_id,
                "id": sid,
                "parent": self.stack[-1] if self.stack else None,
                "name": name,
                "start": time.time() if start is None else start,
                "end": None,
            }
        )
        self.stack.append(sid)
        return sid

    def close(self, sid: int | None, **counters) -> None:
        if sid is None:
            return
        assert self.stack.pop() == sid, "spans must close innermost first"
        self.spans[sid]["end"] = time.time()
        if counters:
            self.spans[sid]["counters"] = counters


class _Collected:
    """Stands in for a query's DataFrame inside ``run_compare`` and times
    its ``collect``, so the oracle's own work can be told apart."""

    def __init__(self, df):
        self.df = df
        self.columns = df.columns
        self.collect_s = 0.0

    def collect(self):
        t = time.perf_counter()
        rows = self.df.collect()
        self.collect_s = time.perf_counter() - t
        return rows


class Runner:
    def __init__(self, spark, qs, data_dir: str, tracer: Tracer, root_pid: int):
        self.spark = spark
        self.qs = qs
        self.data_dir = data_dir
        self.tracer = tracer
        self.root_pid = root_pid
        self.counters = SparkCounters(spark) if tracer.enabled else None

    def _phase(self, name: str, group: str, fn, traced: bool):
        """Run ``fn`` as one span; returns (seconds, result, counters)."""
        sid = self.tracer.open(name) if traced else None
        before = procfs.Snapshot(self.root_pid) if traced else None
        since = time.time()
        t = time.perf_counter()
        try:
            result = fn()
        finally:
            dt = time.perf_counter() - t
            counters = None
            if traced:
                counters = procfs.Snapshot(self.root_pid).delta(before)
                jobs = self.counters.new_jobs(group)
                counters.update(self.counters.jobs(jobs, since))
                counters["wall_s"] = dt
            self.tracer.close(sid, **(counters or {}))
        return dt, result, counters

    def query(self, name: str, traced: bool) -> dict:
        self.spark.sparkContext.setJobGroup(name, name)
        rec: dict = {"name": name, "error": None}
        sid = self.tracer.open(f"query:{name}") if traced else None
        stores = None
        if traced:
            # jobs of this group from earlier untraced passes are not ours
            self.counters.new_jobs(name)
            stores = store_census()
        try:
            rec["build_s"], df, rec["build"] = self._phase(
                "build", name, lambda: self.qs[name](self.spark, self.data_dir), traced
            )
            rec["exec_s"], _, rec["exec"] = self._phase(
                "exec",
                name,
                lambda: df.write.format("noop").mode("overwrite").save(),
                traced,
            )
        except Exception:  # a failing query is counted, never fatal
            rec["error"] = traceback.format_exc(limit=3)[-2000:]
        if traced:
            built = stores_built(stores, store_census())
            rec["store_builds"] = len(built)
            rec["store_write_mb"] = sum(_du(p) for p in built) / MB
            self.tracer.close(sid)
        return rec

    def run_pass(self, label: str, order: list[str], traced: bool) -> dict:
        sid = self.tracer.open(label) if traced else None
        t = time.perf_counter()
        recs = [self.query(q, traced) for q in order]
        wall = time.perf_counter() - t
        self.tracer.close(sid)
        return {"label": label, "traced": traced, "wall_s": wall, "queries": recs}

    def check_pass(self, order: list[str], oracles: dict) -> tuple[dict, float]:
        """Run every query once, comparing its output with the oracle.
        Returns the per-query verdicts and the seconds spent outside the
        engine (oracle query, comparison)."""
        from tests.oracle_harness import run_compare

        checks, oracle_s = {}, 0.0
        for q in order:
            self.spark.sparkContext.setJobGroup(q, q)
            t = time.perf_counter()
            engine_s = 0.0
            try:
                if q not in oracles:
                    raise KeyError(f"no oracle registered for {q}")
                df = self.qs[q](self.spark, self.data_dir)
                engine_s = time.perf_counter() - t
                collected = _Collected(df)
                ok, msg = run_compare(
                    self.spark, self.data_dir, lambda *_: collected, oracles[q]
                )
                engine_s += collected.collect_s
            except Exception as exc:  # counted as a failure, never fatal
                ok, msg = False, f"{type(exc).__name__}: {exc}"
            oracle_s += time.perf_counter() - t - engine_s
            checks[q] = {"ok": bool(ok), "msg": str(msg)[:500]}
        return checks, oracle_s


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--queries", required=True, help="comma-separated")
    ap.add_argument("--data", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--t0", type=float, required=True, help="launch epoch")
    ap.add_argument("--run-id", required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()

    # run isolation: a store left by another process would be adopted
    # and turn this run's set-up warm
    if os.path.isdir(store_root()) and os.listdir(store_root()):
        raise SystemExit(f"index-store root {store_root()} is not empty")

    root_pid = os.getpid()
    names = a.queries.split(",")
    rng = random.Random(a.seed)
    tracer = Tracer(a.run_id, bool(a.trace))
    root = tracer.open("workload", start=a.t0)
    out: dict = {"queries": names}

    setup = tracer.open("setup", start=a.t0)
    span = tracer.open("session", start=a.t0)
    from mapreduceplusplus_spark.session import get_spark

    spark = get_spark(app_name="perfbench")
    tracer.close(span)
    t = time.time()
    out["session_start_s"] = t - a.t0
    span = tracer.open("registry")
    from mapreduceplusplus_spark import registry

    qs, oracles = registry.queries(), registry.oracles()
    tracer.close(span)
    out["registry_import_s"] = time.time() - t
    runner = Runner(spark, qs, a.data, tracer, root_pid)
    span = tracer.open("warmup")
    t = time.time()
    order = rng.sample(names, len(names))
    out["checks"], oracle_s = runner.check_pass(order, oracles)
    out["warmup_s"] = time.time() - t - oracle_s
    out["oracle_s"] = oracle_s
    tracer.close(span)
    stores_setup = store_census()
    out["store_builds_setup"] = len(stores_setup)
    tracer.close(setup)

    passes = []
    # run.py samples memory while this file exists: during the first two
    # timed passes, so every run's peak covers the same work
    measuring = a.out + ".measuring"
    open(measuring, "w").close()
    t_first = time.time()
    out["setup_s"] = t_first - a.t0 - oracle_s
    # Whole passes until the budget is spent, and at least PASSES; the
    # metrics use the first PASSES, so every run covers the same passes of
    # the warm-up curve.  Each pass records the share of the machine's CPU
    # time the hypervisor gave to other guests (steal), to read noise by.
    #
    # A traced run traces passes in the order untraced, traced, traced,
    # untraced, at least once: pass time still falls from pass to pass,
    # and this order keeps that trend out of the tracing overhead.
    while time.time() - t_first < a.seconds or len(passes) < (
        4 if a.trace else PASSES
    ):
        i = len(passes)
        traced = bool(a.trace) and i % 4 in (1, 2)
        host = procfs.host_ticks()
        passes.append(
            runner.run_pass(f"pass:{i}", rng.sample(names, len(names)), traced)
        )
        ticks = [end - start for start, end in zip(host, procfs.host_ticks())]
        passes[-1]["host_steal_frac"] = ticks[7] / max(1, sum(ticks))
        passes[-1]["kept"] = i < PASSES
        if i == 1:
            os.remove(measuring)
    out["measure_s"] = time.time() - t_first
    out["passes"] = passes
    end_stores = store_census()
    out["store_builds_timed"] = len(stores_built(stores_setup, end_stores))

    ivf = [p for p in end_stores if not p.startswith(store_root())]
    out["store_mb"] = (_du(store_root()) + sum(_du(p) for p in ivf)) / MB
    spark.stop()
    tracer.close(root)
    out["spans"] = tracer.spans
    with open(a.out, "w") as fh:
        json.dump(out, fh)


if __name__ == "__main__":
    main()
