"""Diagnostics built on run.py — reported, never gated.

    python3 perfbench/diag.py scaling  --seed N [--seconds S]
        bulk_backfill at local[1] and at local[nproc]:
        scaling_eff_1toN = (eps_N / eps_1) / N, a stand-in for the north
        rule's N->4N >= 0.8 target on a single node.
    python3 perfbench/diag.py overhead --workload W --seed N [--seconds S]
        the same run untraced and traced; tracing overhead is the traced
        minus the untraced value of every end-to-end metric.

Run from the repository root; prints one JSON object.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
from pathlib import Path

RUN = Path(__file__).resolve().parent / "run.py"


def _run(*args: str) -> tuple[dict, dict]:
    """(detail, result) of one run.py invocation."""
    proc = subprocess.run(
        [sys.executable, str(RUN), *args], stdout=subprocess.PIPE, text=True, check=False
    )
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or len(lines) < 2:
        sys.exit(f"run.py {' '.join(args)} failed with exit code {proc.returncode}")
    return json.loads(lines[-2]), json.loads(lines[-1])


def scaling(seed: int, seconds: float) -> dict:
    n = len(os.sched_getaffinity(0))
    eps = {}
    health = {}
    for cores in (1, n):
        detail, result = _run(
            "--workload", "bulk_backfill", "--seed", str(seed), "--seconds", str(seconds),
            "--trace", "0", "--cores", str(cores),
        )
        eps[cores] = result["metrics"]["ingest_events_per_sec"]["value"]
        health[cores] = detail["node_health"]
    return {
        "eps_1": eps[1],
        f"eps_{n}": eps[n],
        "cores": n,
        "scaling_eff_1toN": (eps[n] / eps[1]) / n,
        "node_health": health,
    }


def overhead(workload: str, seed: int, seconds: float) -> dict:
    common = ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds)]
    plain, _ = _run(*common, "--trace", "0")
    traced, _ = _run(*common, "--trace", "1")
    out = {}
    for name, u in plain["end_to_end"].items():
        t = traced["end_to_end"][name]
        out[name] = {
            "untraced": u,
            "traced": t,
            "overhead": t - u,
            "overhead_share": (t - u) / u if u else None,
        }
    return {"workload": workload, "seed": seed, "metrics": out}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    sc = sub.add_parser("scaling")
    ov = sub.add_parser("overhead")
    ov.add_argument("--workload", required=True)
    for p in (sc, ov):
        p.add_argument("--seed", type=int, required=True)
        p.add_argument("--seconds", type=float, default=15)
    args = ap.parse_args()
    if args.cmd == "scaling":
        print(json.dumps(scaling(args.seed, args.seconds)))
    else:
        print(json.dumps(overhead(args.workload, args.seed, args.seconds)))


if __name__ == "__main__":
    main()
