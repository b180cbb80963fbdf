"""Toy-size smoke of every workload, untraced and traced.

    python -m pytest perfbench/tests -q      (from the repository root)

Asserts that a run passes the oracle gate and prints every metric that
BENCHMARK.json names, with its unit, as the last stdout line. Each case
starts its own Spark session (~1 min each on 4 cores).
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[2]
BENCH = json.loads((ROOT / "BENCHMARK.json").read_text())
WORKLOADS = ("bulk_backfill", "trickle_mor", "serve_mixed")


def _run(workload: str, trace: int) -> tuple[dict, dict]:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--scale", "0.1"],
        cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=600, check=False,
    )
    lines = proc.stdout.strip().splitlines()
    assert proc.returncode == 0, proc.stdout[-2000:]
    return json.loads(lines[-2]), json.loads(lines[-1])


def test_benchmark_json_names_the_workloads():
    names = [w["name"] for w in BENCH["workloads"]]
    assert set(names) <= set(WORKLOADS) and len(names) >= 2


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_workload_prints_every_metric_and_passes_the_gate(workload, trace):
    detail, result = _run(workload, trace)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    assert detail["problems"] == []
    assert detail["killed_processes"] == []  # every process ended on its own
    wanted = BENCH["per_layer"] if trace else BENCH["end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in wanted}
    for m in wanted:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], (int, float)), m["name"]
    if trace:
        mor = detail["merge_modes"].get("mor", 0)
        if workload == "trickle_mor":  # merge-on-read from the first timed epoch
            assert result["metrics"]["merge.mor_epochs"]["value"] == mor == detail["timed_steps"]
    else:
        for m in wanted:
            assert detail["samples"][m["name"]] >= 1, m["name"]
            assert result["metrics"][m["name"]]["value"] > 0, m["name"]
