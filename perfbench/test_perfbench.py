"""The benchmark's own tests.

Run from the repository root::

    python3 -m pytest perfbench/ -q

The first two tests are instant.  The last two start the engine (about
a minute each): a clean ``pos_sync`` run must pass its check, and the
same run with one warehouse row dropped before the check must not.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import run  # noqa: E402
import workloads  # noqa: E402
from tracing import Tracer, rewrite_stats  # noqa: E402


def _benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_metric_names_and_units_match_benchmark_json():
    spec = _benchmark_json()
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} == set(workloads.WORKLOADS)


def test_trace_helpers():
    before = {"p=1/a.parquet": 10, "p=2/b.parquet": 20}
    after = {"p=1/a.parquet": 10, "p=2/c.parquet": 25, "p=3/d.parquet": 5}
    assert rewrite_stats(before, after) == (2, 30)
    assert rewrite_stats({"a.parquet": 1}, {"b.parquet": 2}) == (1, 2)

    tr = Tracer(None, True, 0.0)
    tr.spans = [
        {"name": "op", "start": 0.0, "end": 10.0, "parent": None, "op": 1},
        {"name": "x", "start": 1.0, "end": 4.0, "parent": 0, "op": 1},
        {"name": "y", "start": 3.0, "end": 6.0, "parent": 0, "op": 1},
        {"name": "z", "start": 2.0, "end": 3.0, "parent": 1, "op": 1},
    ]
    assert tr.self_time(tr.spans[0]) == pytest.approx(5.0)
    assert tr.self_time(tr.spans[1]) == pytest.approx(2.0)


def _run(*extra: str) -> dict:
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "pos_sync",
         "--seed", "5", "--seconds", "1", "--trace", "0", *extra],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert set(result["metrics"]) == set(run.END_TO_END)
    return result


def test_clean_run_passes_its_check():
    result = _run()
    assert result["correct"] is True
    assert result["metrics"]["ok_ratio"]["value"] == 1.0


def test_dropped_row_fails_the_check():
    result = _run("--corrupt-one-row")
    assert result["correct"] is False
    assert result["metrics"]["ok_ratio"]["value"] < 1.0
