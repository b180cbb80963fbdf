"""Maintained many-epoch endurance drive of the CDC loop, with a crash
injected mid-drive, over any of the three ingest paths:

* ``native``     — ``EpochDriver`` over the event parquet shards;
* ``structured`` — ``run_structured`` (readStream + foreachBatch) over
  the same shards;
* ``wire``       — ``run_structured`` over the same log converted to
  Debezium envelope JSON lines, one file per epoch, mtime-ordered so the
  file source delivers one micro-batch per epoch, oldest first (the
  per-key LSN order a url-keyed Kafka topic gives). This is the cluster
  path minus the broker.

Maintenance is on (staggered file-count compaction, bound 16, plus
snapshot expiry keeping 4); each driver keeps its own other defaults.
The crash is injected in the worst window: ``apply_epoch`` has
committed epoch ``n_epochs // 2`` to the table, but the driver has not
recorded it (the native commit log, or Structured Streaming's batch
commit). The second run re-delivers that epoch, the table's idempotence
ledger folds it to a no-op, and the tail drains. A third run must commit
nothing. Injection wraps ``apply_epoch`` at the module global every
driver calls through, so the product path runs verbatim.

Checks: final state vs the pure-python fold (html byte-equal on every
key, extracted text byte-equal on a sample), third run a no-op, and the
snapshot metadata size.

Usage: python tools/endurance.py --source native|structured|wire
                                 [--events N] [--epochs E]
Prints one JSON line; exits non-zero unless state_ok and resume_noop.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

MAINTENANCE = dict(max_files_per_partition=16, expire_keep_last=4)


def _write_wire(spark, shards: list[Path], wire: Path) -> None:
    """Event shards → one envelope JSON-line file per epoch, mtimes in
    epoch order (the log's LSNs are monotone across epochs)."""
    from datax_spark.sources.debezium import to_debezium

    wire.mkdir()
    for i, shard in enumerate(shards):
        part_dir = wire.parent / f"wirepart{i}"
        to_debezium(spark.read.parquet(str(shard))).coalesce(1).write.text(str(part_dir))
        dst = wire / f"{i:05d}.txt"
        next(part_dir.glob("part-*.txt")).rename(dst)
        os.utime(dst, (1_700_000_000 + i * 60,) * 2)
        shutil.rmtree(part_dir)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--source", choices=("native", "structured", "wire"), required=True)
    ap.add_argument("--events", type=int, default=1_000_000)
    ap.add_argument("--epochs", type=int, default=60)
    args = ap.parse_args()
    source, n_events, n_epochs = args.source, args.events, args.epochs
    crash_epoch = n_epochs // 2

    import pyarrow.parquet as pq
    from pyspark.sql import types as T

    import bench
    from datax_spark.datagen.generator import EventLogSpec, reference_apply
    from datax_spark.functions.extract import extract_text
    from datax_spark.icetable.table import IceTable
    from datax_spark.session import get_spark
    from datax_spark.streaming import driver as drv_mod
    from datax_spark.streaming.source import ChangeTailSource

    spec = EventLogSpec(
        n_events=n_events,
        n_urls=max(n_events // 5, 100),
        n_domains=50,
        n_epochs=n_epochs,
        evolve_at_epoch=max(n_epochs // 2, 1),
        dirty_per_epoch=2,
        seed=42,
    )
    events_dir = bench._cached_event_log(spec)
    shards = sorted(events_dir.glob("events-e*.parquet"))
    spark = get_spark(f"endurance_{source}", shuffle_partitions=32)
    fields = [
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("html", T.BinaryType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
    ]
    if source != "native":
        # the file source fixes the schema up front: pre-evolution
        # shards read the evolved column as null (run_structured)
        fields.append(T.StructField("title", T.StringType()))
    # Debezium row payload: lsn/op ride the envelope, text is extracted
    row_schema = T.StructType([f for f in fields if f.name != "text"])

    work = Path(tempfile.mkdtemp(prefix=f"datax_endur_{source}_"))
    walls: list[float] = []
    merge_modes: set[str] = set()
    real_apply = drv_mod.apply_epoch
    crashed = {"done": False}

    def instrumented(tbl, batch_df, epoch, **kw):
        t0 = time.monotonic()
        stats = real_apply(tbl, batch_df, epoch, **kw)
        walls.append(time.monotonic() - t0)
        if stats.merge_mode:
            merge_modes.add(stats.merge_mode)
        if int(epoch) == crash_epoch and not crashed["done"]:
            crashed["done"] = True
            raise RuntimeError(f"injected crash after epoch {epoch}")
        return stats

    drv_mod.apply_epoch = instrumented
    try:
        src, wire_build = events_dir, None
        if source == "wire":
            t0 = time.monotonic()
            src = work / "wire"
            _write_wire(spark, shards, src)
            wire_build = round(time.monotonic() - t0, 2)
        table = IceTable.create(spark, work / "t", T.StructType(fields), num_partitions=32)

        def drive() -> None:
            if source == "native":
                drv_mod.EpochDriver(
                    spark, ChangeTailSource(spark, src), table, work / "ckpt", **MAINTENANCE
                ).run()
            else:
                drv_mod.run_structured(
                    spark, src, table, work / "ckpt",
                    row_schema=row_schema if source == "wire" else None,
                    **MAINTENANCE,
                )

        t0 = time.monotonic()
        try:
            drive()
            raise AssertionError("crash injection never fired")
        except Exception as e:  # noqa: BLE001 - SS wraps the injected error
            if "injected crash" not in str(e):
                raise
        drive()
        wall = time.monotonic() - t0

        events = []
        for s in shards:
            events.extend(pq.read_table(s).to_pylist())
        expected = reference_apply(events)
        got = {r["url"]: r for r in table.read().collect()}
        state_ok = set(got) == set(expected) and all(
            got[u]["html"] == row["html"] for u, row in expected.items()
        ) and all(
            got[u]["text"] == extract_text(expected[u]["html"]) for u in list(expected)[:50]
        )

        v_before = table.current_version()
        drive()
        noop = table.current_version() == v_before

        meta = table.metadata()
        meta_bytes = (
            table.meta_dir / f"v{table.current_version()}.metadata.json"
        ).stat().st_size
        # epoch 0 (JVM/codegen warm-up) is left out of the per-epoch figures
        per = sorted(walls[1:])
        print(
            json.dumps(
                {
                    "source": source,
                    "epochs": n_epochs,
                    "events": n_events,
                    "crash_epoch": crash_epoch,
                    "crash_window": "table-committed, driver-uncommitted",
                    "wire_build_sec": wire_build,
                    "wall_sec": round(wall, 2),
                    "applies": len(walls),
                    "mean_epoch_sec": round(sum(per) / len(per), 3),
                    "p50_epoch_sec": round(per[len(per) // 2], 3),
                    "p90_epoch_sec": round(per[(len(per) * 9) // 10], 3),
                    "max_epoch_sec": round(per[-1], 3),
                    "merge_modes": sorted(merge_modes),
                    "ledger_exact_entries": len(meta["commits"]),
                    "ledger_watermark": meta.get("commit_epoch_watermark", -1),
                    "snapshot_bytes": meta_bytes,
                    "resume_noop": noop,
                    "state_ok": state_ok,
                }
            )
        )
    finally:
        drv_mod.apply_epoch = real_apply
        shutil.rmtree(work, ignore_errors=True)
    if not (state_ok and noop):
        sys.exit(1)


if __name__ == "__main__":
    main()
