"""Outside-in layer tracing for the traced run (``--trace 1``).

Spans are recorded from the benchmark's own files by wrapping the public
entry points of each layer (module attributes or class attributes), kept
in memory, and written out when the run ends. Spark jobs, stages and
tasks come from the traced run's event log and are attributed to spans
by time overlap: the bloom-compose job runs on a plain executor thread
that does not inherit the caller's job group, so the job group alone
would misplace it.
"""

from __future__ import annotations

import functools
import inspect
import json
import threading
import time
from contextlib import contextmanager
from pathlib import Path


class Tracer:
    """In-memory span recorder. A span is a dict with ``id``, ``name``,
    ``parent`` (id or None), ``step`` (the closed-loop step it ran in),
    ``start``/``end`` (wall-clock seconds, the event log's clock) and any
    counters an ``after`` hook attaches."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.step: tuple[str, int] | None = None
        self._tls = threading.local()
        self._lock = threading.Lock()
        self._undo: list[tuple[object, str, object]] = []

    def _stack(self) -> list[dict]:
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
        return st

    @contextmanager
    def span(self, name: str):
        stack = self._stack()
        sp = {
            "name": name,
            "parent": stack[-1]["id"] if stack else None,
            "step": self.step,
            "start": time.time(),
            "end": None,
        }
        with self._lock:
            sp["id"] = len(self.spans)
            self.spans.append(sp)
        stack.append(sp)
        try:
            yield sp
        finally:
            sp["end"] = time.time()
            stack.pop()

    def wrap(self, owner: object, attr: str, name: str, after=None) -> None:
        """Replace ``owner.attr`` with a span-recording wrapper.
        ``after(span, bound_arguments, result)`` may attach counters."""
        orig = getattr(owner, attr)
        sig = inspect.signature(orig) if after else None

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with self.span(name) as sp:
                out = orig(*args, **kwargs)
                if after is not None:
                    after(sp, sig.bind(*args, **kwargs).arguments, out)
                return out

        setattr(owner, attr, wrapper)
        self._undo.append((owner, attr, orig))

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)

    def dump(self, path: Path) -> None:
        path.write_text("\n".join(json.dumps(s, default=str) for s in self.spans) + "\n")


def _file_bytes(root: Path, entries: list[dict]) -> int:
    total = 0
    for e in entries:
        try:
            total += (root / e["path"]).stat().st_size
        except OSError:
            pass  # already swept by a later expiry: not reachable here
    return total


def install(tracer: Tracer) -> None:
    """Wrap every layer boundary the per-layer metrics read."""
    import pyspark.sql.classic.dataframe as classic_df

    import datax_spark.operators.merge as merge_mod
    import datax_spark.streaming.driver as driver_mod
    from datax_spark.icetable.table import IceTable
    from datax_spark.streaming.source import ChangeTailSource

    def epoch_after(sp, a, stats):
        sp.update(
            rows_in=stats.rows_in,
            rows_dirty=stats.rows_dirty,
            keys=stats.rows_upserted + stats.rows_deleted,
            upserted=stats.rows_upserted,
            mode=stats.merge_mode,
            skipped=stats.skipped,
        )

    def read_range_after(sp, a, out):
        sp["shards"] = a["end"] - a["start"]

    def bloom_after(sp, a, kept):
        sp.update(considered=len(a["files"]), kept=len(kept))

    def stage_after(sp, a, out):
        data, dels = out if isinstance(out, tuple) else (out, [])
        root = a["self"].root
        sp.update(files=len(data) + len(dels), bytes=_file_bytes(root, data + dels))

    def commit_after(sp, a, out):
        # the CoW rewrite set this commit swaps out of the manifest
        sp["removed_rows"] = sum(
            f["rows"] for f in (a.get("removed") or []) if "content" not in f
        )

    def compact_after(sp, a, out):
        sp["compacted"] = out is not None

    def expire_after(sp, a, out):
        sp["expired"] = len(out)

    # imported by name into their callers: wrap the importing module
    tracer.wrap(driver_mod, "apply_epoch", "apply_epoch", epoch_after)
    tracer.wrap(merge_mod, "lww_resolve", "lww_resolve")
    tracer.wrap(merge_mod, "split_dirty", "split_dirty")
    tracer.wrap(ChangeTailSource, "read_range", "read_range", read_range_after)
    tracer.wrap(IceTable, "stage_data_files", "stage_write", stage_after)
    tracer.wrap(IceTable, "stage_data_and_delete_files", "stage_write", stage_after)
    tracer.wrap(IceTable, "bloom_prune", "bloom_prune", bloom_after)
    tracer.wrap(IceTable, "read_partitions", "read_partitions")
    tracer.wrap(IceTable, "commit", "commit", commit_after)
    tracer.wrap(IceTable, "write_quarantine", "write_quarantine")
    tracer.wrap(IceTable, "compact_partition", "compact_partition", compact_after)
    tracer.wrap(IceTable, "expire_snapshots", "expire_snapshots", expire_after)
    tracer.wrap(IceTable, "lookup", "lookup")
    tracer.wrap(IceTable, "scan", "scan")
    # pyspark 4.1's classic DataFrame overrides collect: wrapping the
    # base pyspark.sql.DataFrame.collect would record nothing
    tracer.wrap(classic_df.DataFrame, "collect", "collect")


def event_log_conf(log_dir: Path) -> dict[str, str]:
    """Plain-JSON, single-file event log (the 4.x defaults write a
    zstd-compressed rolling directory)."""
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir.as_uri(),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def read_event_log(log_dir: Path) -> tuple[list[dict], list[dict]]:
    """(jobs, tasks) from the single event-log file under ``log_dir``.
    Times are wall-clock seconds."""
    files = [p for p in log_dir.iterdir() if p.is_file()]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {len(files)}")
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    tasks: list[dict] = []
    with files[0].open() as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                jobs[jid] = {"id": jid, "start": ev["Submission Time"] / 1000, "end": None}
                for sid in ev.get("Stage IDs", []):
                    stage_job.setdefault(sid, jid)
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                tasks.append(
                    {
                        "job": stage_job.get(ev["Stage ID"]),
                        "run_ms": m.get("Executor Run Time", 0),
                        "gc_ms": m.get("JVM GC Time", 0),
                        "shuffle_write": (m.get("Shuffle Write Metrics") or {}).get(
                            "Shuffle Bytes Written", 0
                        ),
                        "spill": m.get("Disk Bytes Spilled", 0),
                    }
                )
    return list(jobs.values()), tasks


def self_time(span: dict, children: list[dict]) -> float:
    """Span duration minus the union of its children's intervals."""
    ivs = sorted(
        (max(c["start"], span["start"]), min(c["end"], span["end"])) for c in children
    )
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in ivs:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return (span["end"] - span["start"]) - covered


def attribute_jobs(spans: list[dict], jobs: list[dict]) -> dict[int, dict]:
    """Job id -> the deepest span (any thread) whose interval contains the
    job's submission; None-valued when no span does. Deepest wins, so a
    job launched inside bloom_prune inside read_partitions lands on
    bloom_prune."""
    by_id = {s["id"]: s for s in spans}

    def depth(s: dict) -> int:
        d = 0
        while s["parent"] is not None:
            s, d = by_id[s["parent"]], d + 1
        return d

    ranked = sorted(spans, key=depth, reverse=True)
    out = {}
    for j in jobs:
        t = j["start"]
        out[j["id"]] = next(
            (s for s in ranked if s["start"] <= t <= (s["end"] or t)), None
        )
    return out
