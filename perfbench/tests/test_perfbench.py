"""The benchmark's own tests.

    python -m pytest perfbench/tests -q

The generator tests are pure Python. The smoke tests run every
workload end to end on the tiny ``smoke`` scale with a one-second run,
untraced and traced, and check that each prints every metric named in
BENCHMARK.json.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import speed  # noqa: E402
import stream  # noqa: E402

DOMAINS = {
    c: (["1995-01-01", "1997-06-15", "2001-08-01"] if c.endswith(("date", ".ts")) else [0.0, 0.05, 1.0, 25.0, 5000.0])
    for c in stream.range_columns(stream.load_templates(ROOT))
}


def _stream(seed: int, n: int = 300) -> list[str]:
    reqs = stream.QueryStream(stream.load_templates(ROOT), DOMAINS, seed)
    return [next(reqs) for _ in range(n)]


def test_same_seed_same_stream():
    assert _stream(7) == _stream(7)
    assert stream.delta_plan(7) == stream.delta_plan(7)
    assert stream.curate_inputs(7, 100, 100) == stream.curate_inputs(7, 100, 100)


def test_different_seed_different_stream():
    assert _stream(7) != _stream(8)
    assert stream.delta_plan(7) != stream.delta_plan(8)
    assert stream.curate_inputs(7, 100, 100) != stream.curate_inputs(8, 100, 100)


def test_redraw_keeps_ranges_ordered_and_categoricals():
    sql = (
        "SELECT COUNT(*) FROM orders WHERE orders.o_orderdate >= DATE '1995-01-01' "
        "AND orders.o_orderdate < DATE '1996-01-01' AND orders.o_orderpriority IN ('1-URGENT', '2-HIGH') "
        "AND orders.o_totalprice BETWEEN 1 AND 2"
    )
    import random

    for s in range(50):
        out = stream.redraw(sql, DOMAINS, random.Random(s))
        assert "IN ('1-URGENT', '2-HIGH')" in out
        lo, hi = (v[1:-1] for v in [p.split("DATE ")[1].split(" ")[0] for p in out.split("o_orderdate")[1:]])
        assert lo <= hi
        a, b = out.split("BETWEEN ")[1].split(" AND ")
        assert float(a) <= float(b)


def test_every_template_is_count_or_aqp():
    templates = stream.load_templates(ROOT)
    n_count = sum(stream.is_count(t) for t in templates)
    assert 0 < n_count < len(templates)


def test_slowdown_is_relative_to_the_reference():
    assert speed.slowdown([]) == 1.0
    assert speed.slowdown([speed.SPIN_REF_S, 3 * speed.SPIN_REF_S]) == pytest.approx(2.0)
    sampler = speed.Sampler(period_s=0.001)
    with sampler.window():
        time.sleep(0.05)
    n = len(sampler.samples)
    time.sleep(0.01)
    assert n > 0 and len(sampler.samples) == n  # the window closed its thread
    assert sampler.slowdown(0.0, time.perf_counter()) > 0


def _metric_names(section: str) -> set[str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"] for m in json.load(f)[section]}


def _workloads() -> list[str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return [w["name"] for w in json.load(f)["workloads"]]


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", _workloads())
def test_smoke_run_emits_every_metric(workload, trace):
    env = dict(os.environ, CARGO_TARGET_DIR=os.path.join(ROOT, ".bench_build", "smoke"))
    proc = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--scale", "smoke"],
        cwd=ROOT, env=env, capture_output=True, text=True, timeout=900,
    )
    assert proc.returncode == 0, proc.stderr[-3000:] + proc.stdout[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["attempted"] >= 1 and result["failed"] == 0
    want = _metric_names("per_layer" if trace else "end_to_end")
    assert set(result["metrics"]) == want
    for m in result["metrics"].values():
        assert isinstance(m["value"], float) and m["unit"]
