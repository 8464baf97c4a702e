"""Tiny-scale self-test of the benchmark harness.

    python3 -m pytest perfbench/test_smoke.py -q     # from the checkout root

Runs ``run.py`` on its ``smoke`` workload (``workloads.py``): a
tenth-size data set, one real query and one name that is not registered,
so building it raises.  It runs once untraced and once traced, and checks
that

- every metric named in ``BENCHMARK.json`` prints with its unit;
- the raising query is counted as failed and named, and the run still
  finishes and measures the other query;
- the traced run's spans nest: each span lies inside its parent, and the
  query spans sit under pass spans with build and exec children.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)
sys.path.insert(0, HERE)
from workloads import WORKLOADS  # noqa: E402

BAD = "no_such_query"
assert BAD in WORKLOADS["smoke"]["queries"]


def _run(trace: int) -> tuple[dict, str]:
    proc = subprocess.run(
        [
            sys.executable, os.path.join(HERE, "run.py"),
            "--workload", "smoke", "--seed", "7", "--seconds", "1",
            "--trace", str(trace),
        ],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-1]), proc.stdout


@pytest.fixture(scope="module")
def untraced():
    return _run(0)


@pytest.fixture(scope="module")
def traced():
    return _run(1)


def _check_metrics(result: dict, spec: list[dict]) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert set(result["metrics"]) == {m["name"] for m in spec}
    for m in spec:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], (int, float))


def test_end_to_end_metrics_print_with_units(untraced):
    result, _ = untraced
    _check_metrics(result, SPEC["end_to_end"])
    assert result["metrics"]["setup_s"]["value"] > 0
    assert result["metrics"]["pass_s"]["value"] > 0


def test_raising_query_is_counted_not_fatal(untraced):
    result, out = untraced
    assert result["correct"] is False
    # the correctness pass and every timed pass each fail it once
    assert result["failed"] >= 2
    assert result["attempted"] > result["failed"]
    assert f"'{BAD}'" in out and "failed_frac=0.0000" not in out
    assert result["metrics"]["query_s_geomean"]["value"] > 0


def test_per_layer_metrics_print_with_units(traced):
    result, _ = traced
    _check_metrics(result, SPEC["per_layer"])
    m = result["metrics"]
    assert 0 < m["failed_frac"]["value"] < 1
    assert m["exec.jobs"]["value"] >= 1
    assert m["spark.tasks"]["value"] >= 1


def test_traced_spans_nest(traced):
    _, out = traced
    path = [l for l in out.splitlines() if "spans written to" in l][0].split()[-1]
    with open(path) as fh:
        spans = json.load(fh)
    by_id = {s["id"]: s for s in spans}
    assert len({s["run"] for s in spans}) == 1
    roots = [s for s in spans if s["parent"] is None]
    assert [r["name"] for r in roots] == ["workload"]
    for s in spans:
        assert s["end"] is not None and s["start"] <= s["end"]
        if s["parent"] is not None:
            p = by_id[s["parent"]]
            assert p["start"] <= s["start"] and s["end"] <= p["end"]
    queries = [s for s in spans if s["name"].startswith("query:")]
    assert queries
    for q in queries:
        assert by_id[q["parent"]]["name"].startswith("pass:")
        kids = [s["name"] for s in spans if s["parent"] == q["id"]]
        assert kids[0] == "build"
        if q["name"] != f"query:{BAD}":
            assert kids == ["build", "exec"]
            build = [s for s in spans if s["parent"] == q["id"]][0]
            assert "jobs" in build["counters"]
