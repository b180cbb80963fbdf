"""CDC ingest benchmark — one workload per invocation.

    python3 perfbench/run.py --workload {bulk_backfill,trickle_mor,serve_mixed}
        --seed N --seconds S --trace {0,1}

Run from the repository root. Prints detail lines, then as the LAST
stdout line one JSON object ``{"correct", "attempted", "failed",
"metrics"}``: with ``--trace 0`` the end-to-end metrics (timed with
tracing off), with ``--trace 1`` the per-layer metrics of a traced run.
Exits non-zero when the oracle gate fails or the engine cannot be
imported. Everything it writes lives under ``.bench_work/`` in the
current directory. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
WORKLOADS = ("bulk_backfill", "trickle_mor", "serve_mixed")
# the end-to-end metrics BENCHMARK.json bounds; the others are printed in
# the detail line only (README.md: their run-to-run spread on a shared
# 4-core host exceeded the largest allowed bound)
BOUNDED = ("setup_s", "ingest_events_per_sec", "epoch_s_p50", "table_disk_mb", "peak_rss_mb")


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # diagnostics only (perfbench/diag.py, perfbench/tests): the
    # BENCHMARK.json command never passes these
    ap.add_argument("--cores", type=int, default=None, help="local[N] (default: all)")
    ap.add_argument("--scale", type=float, default=1.0, help="input size factor")
    return ap.parse_args(argv)


def _preflight(root: Path) -> None:
    """The benchmark builds nothing: it needs the engine's source tree
    (and the repo's bench.py, whose node-health probe it reuses)."""
    missing = [p for p in ("datax_spark/__init__.py", "bench.py") if not (root / p).is_file()]
    if missing:
        sys.exit(f"perfbench: {', '.join(missing)} not found under {root}; "
                 "run from the repository root")
    sys.path[:0] = [str(root), str(HERE)]


def _spark(work: Path, cores: int, extra: dict[str, str]):
    from datax_spark.session import get_spark

    conf = {
        "spark.driver.memory": "2g",
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        # no hsperfdata under /tmp: every write stays in the checkout
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'} "
        f"-Dderby.system.home={work} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
        **extra,
    }
    return get_spark("perfbench", master=f"local[{cores}]", shuffle_partitions=cores,
                     extra_conf=conf)


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    workers it forked) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def end_to_end(out) -> dict[str, tuple[float, str, int]]:
    """name -> (value, unit, samples)."""
    quarter = -(-len(out.apply_walls) // 4)  # last quarter, rounded up
    late = out.apply_walls[len(out.apply_walls) - quarter:]
    mib = 1 << 20
    return {
        "setup_s": (out.setup_s, "s", 1),
        "ingest_events_per_sec": (
            sum(out.epoch_events) / sum(out.epoch_walls) if out.epoch_walls else 0.0,
            "events/s",
            len(out.epoch_walls),
        ),
        "epoch_s_p50": (_median(out.apply_walls), "s", len(out.apply_walls)),
        "epoch_s_late_p50": (_median(late), "s", len(late)),
        "lookup_ms_p50": (_median(out.lookup_ms), "ms", len(out.lookup_ms)),
        "scan_ms_p50": (_median(out.scan_ms), "ms", len(out.scan_ms)),
        "table_disk_mb": (out.table_disk_bytes / mib, "MB", 1),
        "peak_rss_mb": (out.peak_rss / mib, "MB", out.rss_samples),
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    root = Path.cwd()
    _preflight(root)
    os.environ["TZ"] = "UTC"  # naive datetimes <-> Spark's UTC session
    time.tzset()
    cores = args.cores or len(os.sched_getaffinity(0))
    bench_root = root / ".bench_work"
    work = bench_root / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    os.environ["TMPDIR"] = str(work / "tmp")  # the JVM and its Python workers
    tempfile.tempdir = str(work / "tmp")  # this process

    from probes import adopt_orphans, health_flag, node_health, reap_descendants

    adopt_orphans()
    health_before = node_health()
    try:
        result, detail = _run(args, cores, work, bench_root / "inputs")
    finally:
        shutil.rmtree(work, ignore_errors=True)
        # nothing this run started may outlive it: the JVM, its Python
        # workers, the oracle's extraction pool and its resource tracker
        killed = reap_descendants()
        if killed:
            print(f"perfbench: killed leftover processes {killed}", file=sys.stderr)
    detail["killed_processes"] = killed
    health_after = node_health()
    detail["node_health"] = {
        "before": health_before,
        "after": health_after,
        "degraded": health_flag(health_before, health_after),
    }
    print(json.dumps(detail, default=str))
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


def _run(args, cores: int, work: Path, cache: Path) -> tuple[dict, dict]:
    from probes import PeakRss

    from tracing import Tracer, event_log_conf, install

    tracer = Tracer() if args.trace else None
    log_dir = work / "eventlog"
    extra = {}
    if tracer is not None:
        log_dir.mkdir()
        extra = event_log_conf(log_dir)

    import workloads
    from oracle import check_table

    phases = {}
    t = time.perf_counter()
    # input generation is the benchmark's own cost, outside set-up
    run = workloads.WorkloadRun(
        args.workload, work, cache, args.seed, args.seconds, args.scale, tracer=tracer
    )
    phases["inputs_s"] = time.perf_counter() - t
    spark = None
    try:
        with PeakRss() as rss:
            t0 = time.perf_counter()
            spark = run.spark = _spark(work, cores, extra)
            phases["session_s"] = time.perf_counter() - t0
            run.setup()
            run.out.setup_s = time.perf_counter() - t0
            if tracer is not None:
                install(tracer)
            try:
                t = time.perf_counter()
                run.timed()
                phases["timed_s"] = time.perf_counter() - t
                t = time.perf_counter()
                run.read_probe()
                phases["probe_s"] = time.perf_counter() - t
            finally:
                if tracer is not None:
                    tracer.uninstall()
        # the gate is the benchmark's own work: outside the RSS window
        t = time.perf_counter()
        problems = check_table(run.table, run.applied_events(), cores)
        phases["gate_s"] = time.perf_counter() - t
        facts = None
        if tracer is not None:
            from layers import table_facts

            facts = table_facts(run)
    finally:
        if spark is not None:
            _stop_spark(spark)
    out = run.out
    out.peak_rss, out.rss_samples = rss.peak, rss.samples
    if problems:
        out.failed += 1
        out.problems.extend(problems[:20])
    out.attempted += 1  # the final-state gate

    e2e = end_to_end(out)
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "cores": cores,
        "timed_steps": run.steps,
        "phases": phases,
        "events_total": sum(out.epoch_events),
        "merge_modes": {m: out.merge_modes.count(m) for m in set(out.merge_modes)},
        "end_to_end": {k: v[0] for k, v in e2e.items()},
        "samples": {k: v[2] for k, v in e2e.items()},
        "raw": {
            "apply_s": out.apply_walls,
            "epoch_run_s": out.epoch_walls,
            "lookup_ms": out.lookup_ms,
            "scan_ms": out.scan_ms,
        },
        "peak_mb_by_process": {k: v / (1 << 20) for k, v in rss.peak_by_process.items()},
        "ops_failed_ratio": out.failed / out.attempted,
        "ops_failed_base": out.attempted,
        "problems": out.problems[:20],
    }
    if tracer is None:
        metrics = {k: {"value": e2e[k][0], "unit": e2e[k][1]} for k in BOUNDED}
    else:
        from layers import jobs_by_layer, layer_metrics
        from tracing import read_event_log

        jobs, tasks = read_event_log(log_dir)
        layer = layer_metrics(tracer.spans, jobs, tasks, facts)
        metrics = {k: {"value": v[0], "unit": v[1]} for k, v in layer.items()}
        detail["layer_samples"] = {k: v[2] for k, v in layer.items()}
        detail["jobs_by_layer"] = jobs_by_layer(tracer.spans, jobs)
        trace_dir = work.parent / "traces"
        trace_dir.mkdir(exist_ok=True)
        span_file = trace_dir / f"{args.workload}-seed{args.seed}.spans.jsonl"
        tracer.dump(span_file)
        detail["spans_file"] = str(span_file)
    result = {
        "correct": out.failed == 0,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": metrics,
    }
    return result, detail


if __name__ == "__main__":
    sys.exit(main())
