"""Benchmark entry point: run one workload in a fresh, isolated process.

    python3 perfbench/run.py --workload mapreduce --seed 1 --seconds 12 --trace 0

Run from the root of a checkout.  The script

1. generates the workload's tables at its scale (``gen.py``, from one
   fixed seed) into ``.perfbench/data`` and verifies their row counts;
   generation time is printed but is not part of ``setup_s``.
   ``--seed`` fixes only the order of the queries in each pass;
2. starts ``worker.py`` with its own ``TMPDIR`` and ``SPARK_LOCAL_DIRS``
   (removed afterwards), with the core count, driver memory and
   ``PYTHONPATH`` pinned from outside;
3. samples the resident memory (PSS) of the worker's process tree during
   the first two timed passes, then waits until every process of that
   tree has ended;
4. prints comment lines (environment, tail percentile, failing queries)
   and, as the last line, one JSON object with ``correct``,
   ``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
   ``--trace 0``, the per-layer metrics with ``--trace 1``.

Exits non-zero without a result when the engine's sources are missing,
the worker fails or a run exceeds its time limit.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import procfs  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

WORKER_TIMEOUT_S = 150
DRIVER_MEM_MB = 1024


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def tail(xs: list[float]) -> tuple[float, float, int]:
    """The highest percentile with at least ten samples above it (the
    lowest sample when there are fewer): returns (value, percentile, n)."""
    xs = sorted(xs)
    n = len(xs)
    if not n:
        return 0.0, 0.0, 0
    k = max(0, n - 11)
    return xs[k], 100.0 * (k + 1) / n, n


def pinned(root: str) -> dict[str, str]:
    """The settings the harness fixes for the engine, from outside it."""
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return {
        # the engine's default is local[32]; use the cores we have
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        # the engine's default, 16g, can exceed the box
        "SPARK_DRIVER_MEM": f"{min(DRIVER_MEM_MB, phys_mb // 4)}m",
        # Python workers import the engine by module path
        "PYTHONPATH": os.pathsep.join(
            p for p in (root, os.environ.get("PYTHONPATH")) if p
        ),
    }


def environment(root: str, run_dir: str) -> dict[str, str]:
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    env = dict(os.environ)
    env.update(
        {
            "TMPDIR": tmp,
            "SPARK_LOCAL_DIRS": local,
            **pinned(root),
            "PYSPARK_PYTHON": sys.executable,
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        }
    )
    return env


def stop_all(ids: set[tuple[int, str]]) -> None:
    """Wait for every process the worker started to end, killing
    stragglers.  ``pyspark.daemon`` leaves the worker's process group,
    so processes are tracked by identity, not by group."""
    for sig, wait_s in ((None, 15), (signal.SIGKILL, 10)):
        if sig is not None:
            for pid, _ in procfs.alive(ids):
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
        deadline = time.time() + wait_s
        while procfs.alive(ids) and time.time() < deadline:
            time.sleep(0.1)
    left = procfs.alive(ids)
    if left:
        fail(f"processes {sorted(p for p, _ in left)} did not stop")


def run_worker(args, queries, data_dir, root, work) -> tuple[dict, float]:
    """Run the worker; returns its result and the tree's peak PSS (MB)
    during the first two timed passes."""
    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    run_dir = os.path.join(work, "runs", f"{tag}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(work, "logs"), exist_ok=True)
    log_path = os.path.join(work, "logs", f"{tag}.log")
    out_path = os.path.join(run_dir, "result.json")
    try:
        env = environment(root, run_dir)
        cmd = [
            sys.executable, os.path.join(HERE, "worker.py"),
            "--queries", ",".join(queries),
            "--data", data_dir,
            "--seed", str(args.seed),
            "--seconds", str(args.seconds),
            "--trace", str(args.trace),
            "--run-id", tag,
            "--out", out_path,
        ]
        peak = 0.0
        with open(log_path, "w") as log:
            t0 = time.time()
            proc = subprocess.Popen(
                cmd + ["--t0", repr(t0)],
                cwd=run_dir, env=env, stdout=log, stderr=subprocess.STDOUT,
            )
            seen: set[tuple[int, str]] = set()
            try:
                while proc.poll() is None:
                    if time.time() - t0 > WORKER_TIMEOUT_S:
                        fail(f"worker exceeded {WORKER_TIMEOUT_S} s; log: {log_path}")
                    procs = procfs.tree(proc.pid)
                    seen |= procfs.identities(procs)
                    if os.path.exists(out_path + ".measuring"):
                        peak = max(peak, procfs.pss_mb(procs))
                    time.sleep(0.1)
            finally:
                if proc.poll() is None:
                    proc.kill()
                proc.wait()
                stop_all(seen)
        if proc.returncode != 0 or not os.path.exists(out_path):
            with open(log_path) as fh:
                sys.stderr.write("".join(fh.readlines()[-40:]))
            fail(f"worker exited with {proc.returncode}; log: {log_path}")
        # keep the raw per-query record next to the log
        kept = os.path.join(work, "logs", f"{tag}.json")
        shutil.move(out_path, kept)
        with open(kept) as fh:
            return json.load(fh), peak
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def failures(res: dict) -> tuple[int, int, list[str]]:
    """(attempted, failed, failing query names) over every execution:
    the correctness pass and the timed passes."""
    failing = [n for n, c in res["checks"].items() if not c["ok"]]
    failing += [
        q["name"] for p in res["passes"] for q in p["queries"] if q["error"]
    ]
    attempted = len(res["checks"]) + sum(len(p["queries"]) for p in res["passes"])
    return attempted, len(failing), sorted(set(failing))


def end_to_end(res: dict, peak_mem: float) -> tuple[dict, str]:
    passes = [p for p in res["passes"] if p["kept"]]
    times = [
        q["build_s"] + q["exec_s"]
        for p in passes for q in p["queries"] if not q["error"]
    ]
    value, pct, n = tail(times)
    m = {
        "setup_s": (res["setup_s"], "s"),
        "pass_s": (median([p["wall_s"] for p in passes]), "s"),
        # a run holds 10-14 executions of 5-7 queries, so its median falls
        # in a gap between queries and jumps; the geometric mean does not
        "query_s_geomean": (
            math.exp(statistics.fmean(math.log(t) for t in times)) if times else 0.0,
            "s",
        ),
        "peak_rss_mb": (peak_mem, "MB"),
    }
    steal = ", ".join(f"{p['host_steal_frac']:.1%}" for p in res["passes"])
    walls = ", ".join(f"{p['wall_s']:.2f}" for p in res["passes"])
    return m, (
        f"query_s_p50={median(times):.4f} s; query_s_tail={value:.4f} s at "
        f"p{pct:.0f} of n={n} executions; pass walls {walls} s; host steal "
        f"per pass {steal}; metrics use the first {len(passes)} passes"
    )


def per_layer(res: dict, attempted: int, failed: int, cores: int) -> dict:
    traced = [p for p in res["passes"] if p["traced"]]
    untraced = [p for p in res["passes"] if not p["traced"]]
    rows = []
    for p in traced:
        s: dict[str, float] = defaultdict(float)
        for q in p["queries"]:
            for phase in ("build", "exec"):
                for k, v in (q.get(phase) or {}).items():
                    if k == "peak_exec_mem_mb":
                        s[k] = max(s[k], v)
                    elif k in ("wall_s", "jobs"):
                        s[f"{phase}.{k}"] += v
                    else:
                        s[k] += v
            s["store_write_mb"] += q.get("store_write_mb", 0.0)
        s["pass_wall_s"] = p["wall_s"]
        rows.append(s)

    def med(key: str) -> float:
        return median([r[key] for r in rows])

    task_run = med("task_run_s")
    pyworker = med("pyworker.cpu_s")
    m = {
        "session.start_s": (res["session_start_s"], "s"),
        "registry.build_s": (med("build.wall_s"), "s"),
        "registry.build_jobs": (med("build.jobs"), "count"),
        "exec.s": (med("exec.wall_s"), "s"),
        "exec.jobs": (med("exec.jobs"), "count"),
        "spark.stages": (med("stages"), "count"),
        "spark.stages_skipped": (med("stages_skipped"), "count"),
        "spark.tasks": (med("tasks"), "count"),
        "spark.failed_tasks": (med("failed_tasks"), "count"),
        "spark.task_run_s": (task_run, "s"),
        "spark.task_cpu_s": (med("task_cpu_s"), "s"),
        "spark.gc_s": (med("gc_s"), "s"),
        "spark.core_busy_frac": (
            median([r["task_run_s"] / (r["pass_wall_s"] * cores) for r in rows]),
            "ratio",
        ),
        "shuffle.write_mb": (med("shuffle_write_mb"), "MB"),
        "shuffle.read_mb": (med("shuffle_read_mb"), "MB"),
        "shuffle.spill_mb": (med("spill_mb"), "MB"),
        "spark.peak_exec_mem_mb": (med("peak_exec_mem_mb"), "MB"),
        "sources.input_mb": (med("input_mb"), "MB"),
        "pyworker.cpu_s": (pyworker, "s"),
        "pyworker.share": (pyworker / task_run if task_run else 0.0, "ratio"),
        "driver.cpu_s": (med("driver.cpu_s"), "s"),
        "jvm.cpu_s": (med("jvm.cpu_s"), "s"),
        "disk.write_mb": (med("disk.write_mb"), "MB"),
        "llm.store_builds_setup": (res["store_builds_setup"], "count"),
        "llm.store_builds": (res["store_builds_timed"], "count"),
        "llm.store_write_mb": (med("store_write_mb"), "MB"),
        "llm.store_mb": (res["store_mb"], "MB"),
        "failed_frac": (failed / attempted, "ratio"),
        "trace.overhead_frac": (
            median([p["wall_s"] for p in traced])
            / median([p["wall_s"] for p in untraced]) - 1,
            "ratio",
        ),
    }
    return m


def main() -> None:
    ap = argparse.ArgumentParser(description="Run one benchmark workload.")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    for need in ("mapreduceplusplus_spark/registry.py", "tests/oracle_harness.py"):
        if not os.path.isfile(os.path.join(root, need)):
            fail(f"{need} not found: run from the root of a full checkout")

    queries = WORKLOADS[args.workload]["queries"]
    scale = WORKLOADS[args.workload]["scale"]
    work = os.path.join(root, ".perfbench")
    # keyed by the generator's own source too, so an edited generator
    # never reuses tables an older one wrote
    with open(gen.__file__, "rb") as fh:
        version = hashlib.sha1(fh.read()).hexdigest()[:10]
    data_dir = os.path.join(work, "data", f"{version}-scale{scale}")
    t = time.perf_counter()
    rows = gen.generate(data_dir, scale)
    gen_s = time.perf_counter() - t

    res, peak = run_worker(args, queries, data_dir, root, work)
    attempted, failed, failing = failures(res)
    cores = len(os.sched_getaffinity(0))
    env = " ".join(f"{k}={v}" for k, v in pinned(root).items())
    print(f"# workload={args.workload} seed={args.seed} trace={args.trace} {env}")
    print(f"# data scale={scale} rows={rows} gen_s={gen_s:.2f} (not in setup_s)")
    print(
        f"# session_start_s={res['session_start_s']:.2f} "
        f"registry_import_s={res['registry_import_s']:.2f} "
        f"warmup_s={res['warmup_s']:.2f} measure_s={res['measure_s']:.2f} "
        f"oracle_s={res['oracle_s']:.2f} (not in setup_s)"
    )
    print(f"# failed_frac={failed / attempted:.4f} failing={failing}")
    for name, c in res["checks"].items():
        if not c["ok"]:
            print(f"# check {name}: {c['msg']}")
    if args.trace:
        metrics = per_layer(res, attempted, failed, cores)
        trace_path = os.path.join(work, "traces", f"{args.workload}-s{args.seed}.json")
        os.makedirs(os.path.dirname(trace_path), exist_ok=True)
        with open(trace_path, "w") as fh:
            json.dump(res["spans"], fh)
        print(f"# {len(res['spans'])} spans written to {trace_path}")
    else:
        metrics, note = end_to_end(res, peak)
        print(f"# {note}")
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": {
                    k: {"value": v, "unit": u} for k, (v, u) in metrics.items()
                },
            }
        )
    )


if __name__ == "__main__":
    main()
