"""Epoch driver: checkpointed ingest loop with resume + replay (SURVEY.md §3.2).

Implements Structured Streaming's micro-batch contract natively so its
semantics are testable and replayable offline:

* ``checkpoint/offsets/<epoch>.json`` is written *before* the epoch is
  applied (write-ahead intent, exactly like Structured Streaming's
  offset log), ``checkpoint/commits/<epoch>.json`` after. On restart, an
  epoch with an offset entry but no commit entry is re-applied — the
  sink's idempotence ledger makes double application a no-op.
* ``replay(from_epoch)`` re-runs recorded offset ranges; combined with
  the sink's ``(epoch, partition_id)`` ledger and per-row lsn guard this
  reproduces the final table state bit-for-bit (BASELINE.json:6).
* ``run_structured`` drives the same ``apply_epoch`` through a real
  ``spark.readStream`` + ``foreachBatch`` query — tailing event parquet,
  or Debezium envelope JSON lines when given a row schema — showing that
  the sink composes with Structured Streaming unchanged on a cluster
  with a real streaming source (Kafka/binlog).
* ``Maintenance`` is the one table-service core both runners tick after
  every applied epoch: compaction, TTL deletes, derived-state sync and
  snapshot expiry.
"""

from __future__ import annotations

import json
from pathlib import Path

from pyspark.sql import SparkSession

from datax_spark.icetable.table import IceTable
from datax_spark.operators.merge import EpochStats, apply_epoch
from datax_spark.streaming.source import ChangeTailSource


class Maintenance:
    """Table services ticked after every applied epoch, shared by
    ``EpochDriver`` and ``run_structured``. Every setting defaults to
    off. Maintenance commits carry no idempotence keys, so replay
    semantics are untouched (tests/test_mor.py compaction fold)."""

    def __init__(
        self,
        table: IceTable,
        compact_every: int | None = None,
        max_delete_debt: float | None = None,
        max_files_per_partition: int | None = None,
        expire_keep_last: int | None = None,
        derived: list | str | None = None,
        derived_sync_every: int = 8,
        ttl: dict | None = None,
    ):
        self.table = table
        # compaction scheduling: compact every K epochs, and/or whenever
        # a PARTITION's merge-on-read delete debt (its delete-file rows
        # as a fraction of its physical data rows) exceeds a staggered
        # threshold in [max_delete_debt, 2*max_delete_debt) — keeps the
        # read-side anti-join bounded without operator action, without
        # synchronized full sweeps
        self.compact_every = compact_every
        self.max_delete_debt = max_delete_debt
        # file-count debt bound: compact a partition as soon as its live
        # file count exceeds this
        self.max_files_per_partition = max_files_per_partition
        # snapshot retention: expire metadata versions (and the data
        # files / manifests / bloom sidecars only they reference) beyond
        # the last K after each epoch's maintenance. Without it a long
        # ingest accumulates every superseded file on disk (the 150-epoch
        # endurance drive held ~21k physical files for ~1k live ones).
        # Time travel / incremental reads reach back exactly K snapshots.
        self.expire_keep_last = expire_keep_last
        # derived-state maintenance INSIDE the ingest loop: anything
        # with .sync(table) and a version cursor (the CDC-maintained
        # index artifacts — Bm25Index, TrigramIndex, IvfIndex,
        # MinHashIndex) catches up from the table changelog every
        # ``derived_sync_every`` epochs. Each syncable owns its cursor,
        # so the cadence is purely a cost/freshness knob — a restart,
        # replay, foreachBatch retry or missed tick never desynchronizes
        # anything, and snapshot expiry is EXTENDED to retain the oldest
        # derived cursor's version (an expired cursor would force a
        # rebuild). ``derived="auto"`` resolves the table's registered
        # artifacts (operators/derived.py) at each tick — a registration
        # made mid-ingest is picked up live.
        self._derived_auto = derived == "auto"
        self.derived = [] if self._derived_auto else list(derived or [])
        self.derived_sync_every = derived_sync_every
        # data retention (TTL): {"column": "warc_ts", "maxAgeSeconds":
        # N, "every": K} — rows whose column falls more than maxAge
        # behind the table's MAXIMUM value of that column are deleted
        # through the ordinary exactly-once merge (rowlevel
        # delete_where: real D events, changelog-visible, derived
        # artifacts follow via their own sync). The cutoff is DATA
        # time, not wall clock, so replay from any checkpoint re-makes
        # identical decisions — a wall-clock TTL would break
        # bit-exact replay. A later CDC insert for an expired key
        # recreates it (higher LSN), exactly like any delete.
        if ttl is not None:
            missing = {"column", "maxAgeSeconds"} - set(ttl)
            if missing:
                raise ValueError(f"ttl needs {sorted(missing)}")
        self.ttl = ttl

    def tick(self, epoch: int) -> None:
        """Run every service due after ``epoch`` has been applied."""
        self._compact(epoch)
        self._ttl(epoch)
        if self._derived_auto:
            from datax_spark.operators.derived import _LOADERS, registered

            self.derived = [
                _LOADERS[e["kind"]](self.table.spark, e["root"])
                for e in registered(self.table)
                if e["kind"] != "icetable_view"
            ]
        if self.derived and (epoch + 1) % max(self.derived_sync_every, 1) == 0:
            for d in self.derived:
                d.sync(self.table)
        if self.expire_keep_last is not None:
            keep = self.expire_keep_last
            for d in self.derived:
                src = getattr(d, "meta", {}).get("source")
                if src and str(self.table.root) == src["path"]:
                    # never expire a derived cursor's snapshot: sync
                    # reads the changelog FROM that version
                    keep = max(
                        keep,
                        self.table.current_version() - int(src["version"]) + 1,
                    )
            self.table.expire_snapshots(keep_last=keep)

    def _ttl(self, epoch: int) -> None:
        if not self.ttl:
            return
        if (epoch + 1) % max(int(self.ttl.get("every", 8)), 1):
            return
        import datetime as _dt

        from pyspark.sql import functions as F

        from datax_spark.operators.rowlevel import delete_where

        col = self.ttl["column"]
        age = int(self.ttl["maxAgeSeconds"])
        dt = {f.name: f.dataType for f in self.table.schema().fields}[col]
        is_ts = dt.typeName() == "timestamp"
        is_date = dt.typeName() == "date"
        # DATE columns age in whole days (date arithmetic ignores
        # sub-day components — Python date±timedelta drops them and the
        # old code subtracted raw SECONDS from ordinal-day stats, so
        # the stats path never expired anything and the scan path threw
        # date - int). CEIL, never floor: retention may keep data
        # longer than asked but must never delete younger than asked
        # (a floored 12h TTL would expire everything but the newest
        # date, including rows minutes old)
        age_days = -(-age // 86_400)
        # DRIVER-SIDE tick cost: the per-file column envelopes the
        # manifests already carry answer both "what is the data
        # high-water mark" and "does anything fall below the cutoff"
        # with zero scan jobs (normalized domain: timestamps are epoch
        # micros in session-naive wall time, dates are ordinal days).
        # Files without stats force the conservative scan fallback.
        entries = self.table.manifest_entries()
        if not entries:
            return
        norms = [
            (e.get("stats") or {}).get(col) for e in entries
        ]
        if all(n is not None for n in norms):
            hi_n = max(n[1] for n in norms)
            lo_n = min(n[0] for n in norms)
            if is_ts:
                step = age * 1_000_000
            elif is_date:
                step = age_days
            else:
                step = age
            cutoff_n = hi_n - step
            if lo_n >= cutoff_n:
                return  # nothing can be expired: zero jobs this tick
            if is_ts:
                # exact inverse of the stats normalization ((v - epoch)
                # micros over NAIVE session-rendered datetimes), so the
                # cutoff literal lands in the same wall-time frame the
                # stats were taken in — no utc/local mismatch for any
                # session timezone, matching the scan path below
                cutoff = _dt.datetime(1970, 1, 1) + _dt.timedelta(
                    microseconds=cutoff_n
                )
            elif is_date:
                cutoff = _dt.date.fromordinal(cutoff_n)
            else:
                cutoff = cutoff_n
        else:
            row = self.table.read().agg(
                F.max(col).alias("hi"), F.min(col).alias("lo")
            ).first()
            if row["hi"] is None:
                return
            if is_ts:
                cutoff = row["hi"] - _dt.timedelta(seconds=age)
            elif is_date:
                cutoff = row["hi"] - _dt.timedelta(days=age_days)
            else:
                cutoff = row["hi"] - age
            if not row["lo"] < cutoff:
                return
        delete_where(self.table, F.col(col) < F.lit(cutoff))

    def _compact(self, epoch: int) -> None:
        if self.compact_every and (epoch + 1) % self.compact_every == 0:
            self.table.compact(min_files=2)
            return
        if self.max_files_per_partition is not None:
            # file-count debt: compact exactly the partitions whose live
            # file count exceeds the bound, keeping per-epoch
            # scan-planning cost (O(live files)) bounded at any epoch
            # count. Cost is O(one partition's rows) per trigger.
            # Uniform ingest fragments every partition in lockstep — a
            # flat bound would fire all partitions in the same epoch,
            # i.e. a periodic full-table sweep. Each partition therefore
            # gets a deterministic stagger (bound + pid mod bound), so
            # thresholds AND re-trigger periods differ per partition and
            # the rewrite work spreads across epochs permanently.
            # Driver-side check only: counts come from the cached
            # partition manifests.
            bound = self.max_files_per_partition
            by_pid: dict[int, int] = {}
            for f in self.table.manifest_entries():
                by_pid[f["partition_id"]] = by_pid.get(f["partition_id"], 0) + 1
            for pid in sorted(
                p for p, n in by_pid.items() if n > bound + p % max(bound, 1)
            ):
                self.table.compact_partition(pid)
        if self.max_delete_debt is None:
            return
        dels = self.table.delete_entries()
        if not dels:
            return
        # Per-partition shadowed-row debt with a staggered threshold.
        # The earlier form compared GLOBAL delete rows to GLOBAL table
        # rows and, on crossing, compacted every delete-bearing
        # partition at once — under uniform ingest that is a periodic
        # full-table sweep by construction (and each compact_partition
        # commit is a metadata version, so the next expiry also sweeps
        # ~P versions in one epoch). The 400-epoch endurance drive
        # measured the coincidence as a 56.8s worst epoch vs a 13s p50.
        # Per-partition ratios with thresholds staggered across
        # [bound, 2*bound) — same shape as the file-count trigger —
        # fire partitions one or two per epoch instead, bounding the
        # read-side anti-join per partition (which is what the debt
        # bound actually protects) with the same total work.
        data_rows: dict[int, int] = {}
        for f in self.table.manifest_entries():
            data_rows[f["partition_id"]] = data_rows.get(f["partition_id"], 0) + f["rows"]
        del_rows: dict[int, int] = {}
        for d in dels:
            del_rows[d["partition_id"]] = del_rows.get(d["partition_id"], 0) + d["rows"]
        bound = self.max_delete_debt
        mod = max(self.table.num_partitions, 1)
        for pid in sorted(del_rows):
            if del_rows[pid] / max(data_rows.get(pid, 0), 1) > bound * (1 + (pid % mod) / mod):
                self.table.compact_partition(pid)


class EpochDriver:
    def __init__(
        self,
        spark: SparkSession,
        source: ChangeTailSource,
        table: IceTable,
        checkpoint_dir: str | Path,
        shards_per_epoch: int = 1,
        error_budget: float | None = None,
        extract: bool = True,
        merge_strategy: str = "auto",
        records_per_epoch: int | None = None,
        bytes_per_epoch: int | None = None,
        compact_every: int | None = None,
        max_delete_debt: float | None = 0.5,
        max_files_per_partition: int | None = None,
        expire_keep_last: int | None = None,
        canonicalize_urls: bool = False,
        fence_owner: str | None = None,
        derived: list | None = None,
        derived_sync_every: int = 8,
        ttl: dict | None = None,
    ):
        self.spark = spark
        self.source = source
        self.table = table
        self.ckpt = Path(checkpoint_dir)
        (self.ckpt / "offsets").mkdir(parents=True, exist_ok=True)
        (self.ckpt / "commits").mkdir(parents=True, exist_ok=True)
        self.shards_per_epoch = shards_per_epoch
        self.error_budget = error_budget
        self.extract = extract
        self.merge_strategy = merge_strategy
        # DataX speed.record analogue (ST5): when set, offsets are global
        # ROW positions and an epoch never exceeds this many input rows;
        # otherwise offsets are shard indices (maxFilesPerTrigger-style)
        self.records_per_epoch = records_per_epoch
        self.unit = "row" if records_per_epoch is not None else "shard"
        # DataX speed.byte analogue: with shard offsets, an epoch stops
        # adding shards once their cumulative on-disk bytes would exceed
        # this bound (always consumes at least one shard so the stream
        # advances). Offsets stay shard-granular — resume-compatible.
        if bytes_per_epoch is not None and self.unit != "shard":
            raise ValueError("bytesPerEpoch applies to shard offsets; "
                             "it cannot combine with recordPerEpoch")
        self.bytes_per_epoch = bytes_per_epoch
        self.maintenance = Maintenance(
            table,
            compact_every=compact_every,
            max_delete_debt=max_delete_debt,
            max_files_per_partition=max_files_per_partition,
            expire_keep_last=expire_keep_last,
            derived=derived,
            derived_sync_every=derived_sync_every,
            ttl=ttl,
        )
        # map the key column through functions/url.canonical_url before
        # every apply: tracking-param/case/port variants of one page
        # collapse onto ONE canonical key (one LSN history, one stored
        # row) and non-URL keys become NULL → quarantined by the dirty
        # rules. A pure deterministic projection, so replay reproduces
        # identical batches; the per-row lsn guard already makes the
        # merged histories' late events no-ops.
        self.canonicalize_urls = canonicalize_urls
        # zombie fencing: naming an owner acquires a writer lease NOW —
        # before this driver reads any checkpoint or table state — so a
        # predecessor driver for the same table is fenced from the
        # moment this one exists, and nothing it lands afterwards can
        # escape this driver's view (the lease bump is a CAS'd
        # snapshot; see IceTable.acquire_writer_lease). The fenced
        # predecessor's next commit raises StaleWriterFence; its
        # half-applied epoch, if any, is in the ledger or recomputed
        # identically here from the shared checkpoint.
        self.fence_generation = (
            table.acquire_writer_lease(fence_owner) if fence_owner else None
        )

    # ---------------- checkpoint log ---------------- #
    def _offset_path(self, epoch: int) -> Path:
        return self.ckpt / "offsets" / f"{epoch}.json"

    def _commit_path(self, epoch: int) -> Path:
        return self.ckpt / "commits" / f"{epoch}.json"

    def recorded_epochs(self) -> list[int]:
        return sorted(int(p.stem) for p in (self.ckpt / "offsets").glob("*.json"))

    def offset_range(self, epoch: int) -> tuple[int, int]:
        d = json.loads(self._offset_path(epoch).read_text())
        return d["start"], d["end"]

    def offset_unit(self, epoch: int) -> str:
        return json.loads(self._offset_path(epoch).read_text()).get("unit", "shard")

    def _record_offsets(self, epoch: int, start: int, end: int) -> None:
        self._offset_path(epoch).write_text(
            json.dumps({"start": start, "end": end, "unit": self.unit})
        )

    def _record_commit(self, epoch: int, stats: EpochStats) -> None:
        if stats.skipped and self._commit_path(epoch).exists():
            # replayed no-op: keep the original commit record (its
            # wall_ms is the real apply cost; overwriting would zero
            # the job report's throughput accounting)
            return
        self._commit_path(epoch).write_text(
            json.dumps({"version": stats.version, "wall_ms": stats.wall_ms})
        )

    # ---------------- ingest loop ---------------- #
    def _apply(self, epoch: int, start: int, end: int) -> EpochStats:
        if self.offset_unit(epoch) == "row":
            batch = self.source.read_row_range(start, end, self.ckpt / "slices")
        else:
            batch = self.source.read_range(start, end)
        if self.canonicalize_urls:
            from pyspark.sql import functions as F

            from datax_spark.functions.url import canonical_url

            key = self.table.key_column
            # keep the raw key alongside: rows whose canonical form is
            # NULL quarantine WITH the offending original (operators
            # can inspect/repair); the '_' prefix keeps the column out
            # of additive schema evolution on the main path
            batch = batch.withColumn(f"_raw_{key}", F.col(key)).withColumn(
                key, canonical_url(F.col(key))
            )
        stats = apply_epoch(
            self.table,
            batch,
            epoch,
            start_offset=start,
            end_offset=end,
            error_budget=self.error_budget,
            extract=self.extract,
            merge_strategy=self.merge_strategy,
        )
        self._record_commit(epoch, stats)
        return stats

    def run(self, max_epochs: int | None = None) -> list[EpochStats]:
        """Resume from the checkpoint and consume the tail to its end."""
        out: list[EpochStats] = []
        recorded = self.recorded_epochs()
        # finish any epoch that has offsets but no commit (crash recovery)
        for e in recorded:
            if not self._commit_path(e).exists():
                out.append(self._apply(e, *self.offset_range(e)))
        if recorded and self.offset_unit(recorded[-1]) != self.unit:
            raise ValueError(
                f"checkpoint uses {self.offset_unit(recorded[-1])!r} offsets; "
                f"cannot resume with {self.unit!r} epoch sizing"
            )
        next_epoch = (recorded[-1] + 1) if recorded else 0
        consumed = self.offset_range(recorded[-1])[1] if recorded else 0
        if self.unit == "row":
            latest = self.source.latest_row_offset()
            step = self.records_per_epoch
        else:
            latest = self.source.latest_offset()
            step = self.shards_per_epoch
        sizes = (
            self.source.shard_byte_sizes()
            if (self.unit == "shard" and self.bytes_per_epoch is not None)
            else None
        )
        while consumed < latest:
            if max_epochs is not None and len(out) >= max_epochs:
                break
            end = min(consumed + step, latest)
            if sizes is not None:
                total, e = 0, consumed
                while e < end:
                    total += sizes[e]
                    if total > self.bytes_per_epoch and e > consumed:
                        break
                    e += 1
                end = e
            self._record_offsets(next_epoch, consumed, end)
            out.append(self._apply(next_epoch, consumed, end))
            self.maintenance.tick(next_epoch)
            consumed = end
            next_epoch += 1
        return out

    def report(self) -> dict:
        """DataX-style end-of-job statistics, folded from the commit log
        and the table's lineage rows: totals plus effective throughput.
        Driver-side cost is O(epochs + lineage rows)."""
        epochs = self.recorded_epochs()
        wall_ms = 0
        for e in epochs:
            p = self._commit_path(e)
            if p.exists():
                wall_ms += json.loads(p.read_text()).get("wall_ms", 0) or 0
        from pyspark.sql import functions as F

        totals = {"rows_in": 0, "rows_upserted": 0, "rows_deleted": 0, "rows_dirty": 0}
        agg = self.table.read_lineage().agg(
            *[F.coalesce(F.sum(c), F.lit(0)).alias(c) for c in totals]
        ).first()
        totals = {c: int(agg[c]) for c in totals}
        rows_total = totals["rows_in"] + totals["rows_dirty"]
        return {
            "epochs": len(epochs),
            "wall_ms": wall_ms,
            **totals,
            "dirty_pct": round(100.0 * totals["rows_dirty"] / rows_total, 4)
            if rows_total
            else 0.0,
            "events_per_sec": round(rows_total / (wall_ms / 1000.0), 1)
            if wall_ms
            else 0.0,
            "table_version": self.table.current_version(),
        }

    def replay(self, from_epoch: int = 0) -> list[EpochStats]:
        """Re-apply recorded offset ranges; idempotent commits make every
        already-applied (epoch, partition) a no-op."""
        out = []
        for e in self.recorded_epochs():
            if e >= from_epoch:
                out.append(self._apply(e, *self.offset_range(e)))
        return out


def run_structured(
    spark: SparkSession,
    events_dir: str | Path,
    table: IceTable,
    checkpoint_dir: str | Path,
    row_schema=None,
    **maintenance,
) -> None:
    """Drive the same sink through real Structured Streaming, one file
    per micro-batch, to the end of the directory (``availableNow``).

    By default the source tails event parquet. The file source needs a
    fixed schema, so the fully-evolved schema is read up front
    (pre-evolution shards read the new columns as null); the native
    EpochDriver is the canonical path for mid-stream column
    *appearance*.

    Given a Debezium ``row_schema``, it tails the PUBLIC wire format
    instead: a growing directory of envelope JSON-line files (what a
    Kafka Connect file sink emits), read with ``readStream.text`` →
    ``parse_debezium`` (pure codegen). Dirty envelopes quarantine per
    batch instead of killing the query.

    On a cluster the source line becomes ``readStream.format("kafka")``
    with everything downstream unchanged. ``maintenance`` takes the
    ``Maintenance`` settings, all off by default; the tick runs after
    every micro-batch."""
    src = str(Path(events_dir))
    reader = spark.readStream.option("maxFilesPerTrigger", 1)
    if row_schema is None:
        sample = spark.read.option("mergeSchema", "true").parquet(src)
        events = reader.schema(sample.schema).parquet(src)
    else:
        from datax_spark.sources.debezium import parse_debezium

        events = parse_debezium(reader.text(src), row_schema)
    maint = Maintenance(table, **maintenance)

    def _sink(batch_df, epoch_id: int) -> None:
        apply_epoch(table, batch_df, int(epoch_id))
        maint.tick(int(epoch_id))

    q = (
        events.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", str(Path(checkpoint_dir)))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
