"""The three closed-loop CDC workloads.

Each is driven by one client on ``local[cores]``: the next epoch (or
lookup, or scan) starts when the previous call returns. The benchmark
generates the change log from the seed with ``datagen.generator``; the
engine receives only that log, through ``ChangeTailSource`` and
``EpochDriver``.

``--seconds`` fixes the size of a run's schedule, not a deadline: the
number of timed epochs (or steps) is ``seconds`` divided by the
workload's per-epoch cost calibrated on a 4-core node, so every commit
measures exactly the same work and ``table_disk_mb`` and the late-epoch
median compare like with like.
"""

from __future__ import annotations

import random
import shutil
import sys
import time
import traceback
from contextlib import nullcontext
from dataclasses import dataclass, field
from pathlib import Path

from pyspark.sql import types as T

from datax_spark.datagen.generator import EventLogSpec, generate_event_log, reference_apply
from datax_spark.icetable.table import IceTable
from datax_spark.streaming.driver import EpochDriver
from datax_spark.streaming.source import ChangeTailSource

from oracle import load_events, lookup_problems, scan_problems

SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("html", T.BinaryType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
    ]
)

NUM_PARTITIONS = 8
# generated logs kept under .bench_work/inputs, most recently used first:
# room for ten seeds of every workload (a bulk_backfill log is ~65 MB)
CACHE_BYTES = 1 << 30

# lookup key classes, in order: live and changed in the last epoch, live
# (zipf over the url universe), deleted (zipf), never inserted
KEY_CYCLE = ("fresh", "live", "fresh", "deleted", "never")


@dataclass(frozen=True)
class Shape:
    """Input and loop shape of one workload at scale 1."""

    events_per_epoch: int
    n_urls: int
    n_domains: int = 50
    zipf_a: float = 1.3
    update_p: float = 0.75
    dirty_per_epoch: int = 0
    words_scale: int = 1
    evolve: bool = False  # `title` column appears half-way through the timed epochs
    preload_shards: int = 0  # log prefix applied as ONE setup epoch
    warmup_epochs: int = 0  # untimed epochs on the real table after preload
    warmup_log_events: int = 0  # untimed ingest into a throwaway table
    epoch_s: float = 1.0  # calibrated per-step cost: steps = seconds / epoch_s
    min_steps: int = 2
    lookups_per_step: int = 0
    probe_lookups: int = 0  # read probe after the timed loop
    probe_scans: int = 0
    maintenance: dict = field(default_factory=dict)


SHAPES = {
    # few large epochs into an empty table: LWW shuffle, extraction and
    # the copy-on-write merge write over large key sets.
    # An epoch costs ~3.2 s fixed + ~36 us/event on 4 cores: at this size
    # the event-proportional part is about half of it, where at 15k
    # events it was ~14% (README.md, "Where a bulk epoch goes")
    "bulk_backfill": Shape(
        events_per_epoch=80_000,
        n_urls=160_000,
        n_domains=100,
        words_scale=4,
        evolve=True,
        warmup_log_events=1_000,
        epoch_s=7.0,
        min_steps=2,
    ),
    # many small delete-heavy epochs on a preloaded table under
    # merge-on-read with maintenance on: per-epoch fixed cost dominates
    "trickle_mor": Shape(
        events_per_epoch=2_500,
        n_urls=24_000,
        zipf_a=0.7,
        update_p=0.5,
        dirty_per_epoch=3,
        preload_shards=12,
        epoch_s=3.75,
        min_steps=4,
        probe_lookups=5,
        probe_scans=1,
        maintenance={
            "max_files_per_partition": 4,
            "max_delete_debt": 0.5,
            "expire_keep_last": 4,
        },
    ),
    # reads beside writes: each step is one small update-heavy epoch,
    # then point lookups and one stats-pruned scan
    "serve_mixed": Shape(
        events_per_epoch=1_000,
        n_urls=16_000,
        zipf_a=0.9,
        update_p=0.9,
        preload_shards=16,
        warmup_epochs=1,
        epoch_s=5.0,
        min_steps=2,
        lookups_per_step=5,
        maintenance={"max_files_per_partition": 4, "expire_keep_last": 4},
    ),
}


def timed_steps(shape: Shape, seconds: float) -> int:
    return max(shape.min_steps, round(seconds / shape.epoch_s))


def log_spec(shape: Shape, seed: int, steps: int, scale: float) -> EventLogSpec:
    per = max(int(shape.events_per_epoch * scale), 50)
    n_epochs = shape.preload_shards + shape.warmup_epochs + steps
    return EventLogSpec(
        n_events=per * n_epochs,
        n_urls=max(int(shape.n_urls * scale), 200),
        n_domains=shape.n_domains,
        zipf_a=shape.zipf_a,
        seed=seed,
        n_epochs=n_epochs,
        evolve_at_epoch=(
            shape.preload_shards + shape.warmup_epochs + steps // 2 if shape.evolve else None
        ),
        dirty_per_epoch=shape.dirty_per_epoch,
        update_p=shape.update_p,
        words_scale=shape.words_scale,
    )


def cached_log(cache: Path, spec: EventLogSpec) -> list[Path]:
    """Generate once per spec (the seed is a spec field); reuse after.
    Only the most recently used logs, CACHE_BYTES in all, stay on disk."""
    key = "-".join(f"{k}{getattr(spec, k)}" for k in sorted(vars(spec)))
    d = cache / key
    done = d / "_DONE"
    if done.exists():
        done.touch()  # mark as recently used
    else:
        shutil.rmtree(d, ignore_errors=True)
        generate_event_log(d, spec)
        done.touch()
        used = sorted(cache.glob("*/_DONE"), key=lambda p: p.stat().st_mtime, reverse=True)
        kept = 0
        for mark in used:
            kept += dir_bytes(mark.parent)
            if kept > CACHE_BYTES and mark != done:
                shutil.rmtree(mark.parent, ignore_errors=True)
    return sorted(d.glob("events-e*.parquet"))


def dir_bytes(root: Path) -> int:
    return sum(p.stat().st_size for p in root.rglob("*") if p.is_file())


@dataclass
class Outcome:
    """Raw measurements of one run (everything the metrics derive from)."""

    setup_s: float = 0.0
    epoch_walls: list[float] = field(default_factory=list)  # driver.run, incl. maintenance
    apply_walls: list[float] = field(default_factory=list)  # apply_epoch's own wall_ms
    epoch_events: list[int] = field(default_factory=list)  # clean + dirty
    lookup_ms: list[float] = field(default_factory=list)
    scan_ms: list[float] = field(default_factory=list)
    table_disk_bytes: int = 0
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    merge_modes: list[str | None] = field(default_factory=list)
    epoch_ids: list[int] = field(default_factory=list)
    peak_rss: int = 0  # bytes, set-up and timed phase
    rss_samples: int = 0


class WorkloadRun:
    def __init__(self, name, work: Path, cache: Path, seed: int, seconds: float,
                 scale: float, tracer=None):
        self.shape = SHAPES[name]
        self.spark = None  # set by the caller: session start is part of set-up
        self.work = work
        self.seed = seed
        self.scale = scale
        self.tracer = tracer
        self.steps = timed_steps(self.shape, seconds)
        self.spec = log_spec(self.shape, seed, self.steps, scale)
        self.shards = cached_log(cache, self.spec)
        self.events_by_shard = [load_events(s) for s in self.shards]
        self.warmup_shards = []
        if self.shape.warmup_log_events:
            wspec = EventLogSpec(
                n_events=max(int(self.shape.warmup_log_events * scale), 50),
                n_urls=self.spec.n_urls,
                n_domains=self.spec.n_domains,
                seed=seed + 1_000_003,
                n_epochs=1,
                evolve_at_epoch=0 if self.shape.evolve else None,
                words_scale=self.shape.words_scale,
            )
            self.warmup_shards = cached_log(cache, wspec)
        self.rng = random.Random(seed * 7919 + 17)
        universe = sorted({e["url"] for evs in self.events_by_shard for e in evs if e["url"]})
        # the generator's zipf is over domain rank (d0000 hottest)
        self._universe = (
            universe,
            [1.0 / (1 + int(u.split("//d", 1)[1][:4])) ** self.shape.zipf_a for u in universe],
        )
        self.out = Outcome()
        self.consumed = 0  # shards applied to the real table

    # ------------------------------------------------------------ setup
    def _driver(self, table, ckpt: Path, **kw) -> EpochDriver:
        return EpochDriver(
            self.spark, ChangeTailSource(self.spark, self.shards[0].parent), table, ckpt, **kw
        )

    def setup(self) -> None:
        """Table create + preload + warm-up; timed by the caller together
        with the Spark session start."""
        shape = self.shape
        if self.warmup_shards:
            throwaway = IceTable.create(
                self.spark, self.work / "warmup-table", SCHEMA, num_partitions=NUM_PARTITIONS
            )
            EpochDriver(
                self.spark,
                ChangeTailSource(self.spark, self.warmup_shards[0].parent),
                throwaway,
                self.work / "warmup-ckpt",
            ).run()
        self.table = IceTable.create(
            self.spark, self.work / "table", SCHEMA, num_partitions=NUM_PARTITIONS
        )
        ckpt = self.work / "ckpt"
        if shape.preload_shards:
            self._driver(self.table, ckpt, shards_per_epoch=shape.preload_shards).run(
                max_epochs=1
            )
            self.consumed = shape.preload_shards
        self.driver = self._driver(self.table, ckpt, **shape.maintenance)
        for _ in range(shape.warmup_epochs):
            self.driver.run(max_epochs=1)
            self.consumed += 1
        if shape.lookups_per_step:
            self.warm_reads()

    def warm_reads(self) -> None:
        """One untimed lookup and scan: the first of each pays one-off
        planning and codegen costs that no later call repeats. In a traced
        run they are a step of their own, outside the epoch and lookup
        figures."""
        with self._step("warm", 0):
            for key in self.lookup_keys(1, self.state()):
                self.table.lookup([key], with_lsn=True).collect()
            self.table.scan([("warc_ts", ">=", self.scan_since())]).select("url").collect()

    # ------------------------------------------------------ oracle help
    def applied_events(self) -> list[dict]:
        return [e for evs in self.events_by_shard[: self.consumed] for e in evs]

    def state(self) -> dict[str, dict]:
        return reference_apply(self.applied_events())

    def scan_since(self):
        """A recent warc_ts cut: the scan touches the last ~2 epochs'
        worth of change events, so file pruning decides its cost."""
        evs = self.applied_events()
        back = min(len(evs) - 1, 2 * max(int(self.shape.events_per_epoch * self.scale), 50))
        return evs[-1 - back]["warc_ts"]

    def lookup_keys(self, n: int, state: dict[str, dict]) -> list[str]:
        """Keys in a fixed cycle of classes (KEY_CYCLE), so every run's
        median is over the same mix: live keys changed in the last epoch
        (freshness), live keys zipf over the url universe by domain rank,
        deleted keys, and keys never inserted."""
        universe, weights = self._universe
        last = {e["url"] for e in self.events_by_shard[self.consumed - 1] if e["url"]}
        seen = {e["url"] for e in self.applied_events()}
        pools = {
            "fresh": sorted(u for u in last if u in state),
            "live": [(u, w) for u, w in zip(universe, weights) if u in state],
            "deleted": [
                (u, w) for u, w in zip(universe, weights) if u in seen and u not in state
            ],
        }
        keys = []
        for i in range(n):
            kind = KEY_CYCLE[i % len(KEY_CYCLE)]
            pool = pools.get(kind)
            if kind == "never" or not pool:
                keys.append(f"https://d{self.rng.randrange(self.shape.n_domains):04d}"
                            f".example.com/never-{self.rng.randrange(10**9)}")
            elif kind == "fresh":
                keys.append(self.rng.choice(pool))
            else:
                keys.append(self.rng.choices([u for u, _ in pool], [w for _, w in pool])[0])
        return keys

    # ------------------------------------------------------ timed phase
    def _step(self, kind: str, idx: int):
        if self.tracer is None:
            return nullcontext()
        self.tracer.step = (kind, idx)
        return self.tracer.span(f"step.{kind}")

    def _failure(self, what: str) -> None:
        self.out.failed += 1
        self.out.problems.append(what)
        traceback.print_exc(file=sys.stderr)

    def run_epoch(self, idx: int) -> bool:
        self.out.attempted += 1
        try:
            with self._step("epoch", idx):
                s = time.perf_counter()
                stats = self.driver.run(max_epochs=1)
                wall = time.perf_counter() - s
        except Exception:  # boundary: record and stop the loop
            self._failure(f"epoch {idx} raised")
            return False
        self.consumed += 1
        st = stats[0]
        self.out.epoch_walls.append(wall)
        self.out.apply_walls.append(st.wall_ms / 1000)
        self.out.epoch_events.append(st.rows_in + st.rows_dirty)
        self.out.merge_modes.append(st.merge_mode)
        self.out.epoch_ids.append(st.epoch)
        return True

    def lookup(self, idx: int, key: str, state: dict) -> None:
        self.out.attempted += 1
        try:
            with self._step("lookup", idx):
                s = time.perf_counter()
                rows = self.table.lookup([key], with_lsn=True).collect()
                self.out.lookup_ms.append((time.perf_counter() - s) * 1000)
        except Exception:
            self._failure(f"lookup {key} raised")
            return
        bad = lookup_problems(key, [r.asDict() for r in rows], state)
        if bad:
            self.out.failed += 1
            self.out.problems.extend(bad)

    def scan(self, idx: int, state: dict) -> None:
        self.out.attempted += 1
        since = self.scan_since()
        try:
            with self._step("scan", idx):
                s = time.perf_counter()
                rows = (
                    self.table.scan([("warc_ts", ">=", since)], with_lsn=True)
                    .select("url", "_lsn")
                    .collect()
                )
                self.out.scan_ms.append((time.perf_counter() - s) * 1000)
        except Exception:
            self._failure(f"scan since {since} raised")
            return
        bad = scan_problems([(r["url"], r["_lsn"]) for r in rows], state, since)
        if bad:
            self.out.failed += 1
            self.out.problems.extend(bad)

    def timed(self) -> None:
        shape = self.shape
        for i in range(self.steps):
            if not self.run_epoch(i):
                break
            if shape.lookups_per_step:
                state = self.state()
                for j, key in enumerate(self.lookup_keys(shape.lookups_per_step, state)):
                    self.lookup(i * shape.lookups_per_step + j, key, state)
                self.scan(i, state)
        self.out.table_disk_bytes = dir_bytes(self.table.root)

    def read_probe(self) -> None:
        """Reads on the table the timed phase left behind (the write
        strategy's read cost), for workloads without reads in the loop.
        No warm-up read: the first lookup pays the one-off planning cost,
        and the median over the lookups leaves it out."""
        if not (self.shape.probe_lookups or self.shape.probe_scans):
            return
        state = self.state()
        for j, key in enumerate(self.lookup_keys(self.shape.probe_lookups, state)):
            self.lookup(j, key, state)
        for j in range(self.shape.probe_scans):
            self.scan(j, state)
