"""Replay-equivalence suite (BASELINE.json:6,15 — the correctness gate).

Straight-through run, replay-from-0, replay-from-mid-checkpoint, and
duplicate-epoch injection must all produce the SAME final table state —
bit-for-bit over every column including extracted text — and schema
evolution mid-stream must survive replay.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import types as T

from datax_spark.datagen.generator import EventLogSpec, generate_event_log
from datax_spark.icetable.table import IceTable
from datax_spark.sources.debezium import to_debezium
from datax_spark.streaming.driver import EpochDriver, run_structured
from datax_spark.streaming.source import ChangeTailSource

PAGE_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("html", T.BinaryType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
    ]
)

# Debezium row payload: lsn/op ride the envelope, text is extracted
WIRE_ROW_SCHEMA = T.StructType(
    [f for f in PAGE_SCHEMA.fields if f.name != "text"]
    + [T.StructField("title", T.StringType())]
)

SPEC = EventLogSpec(
    n_events=900,
    n_urls=120,
    n_domains=10,
    n_epochs=6,
    seed=11,
    evolve_at_epoch=3,  # `title` column appears mid-stream
    dirty_per_epoch=2,
)


def _state(table):
    rows = table.read().collect()
    return sorted(tuple(r[c] for c in sorted(r.asDict())) for r in rows)


def _run_fresh(spark, base, name, **driver_kw):
    table = IceTable.create(spark, base / name / "table", PAGE_SCHEMA, num_partitions=4)
    src = ChangeTailSource(spark, base / "events")
    drv = EpochDriver(spark, src, table, base / name / "ckpt", **driver_kw)
    stats = drv.run()
    return table, drv, stats


@pytest.fixture(scope="module")
def log_dir(tmp_path_factory):
    base = tmp_path_factory.mktemp("replay")
    generate_event_log(base / "events", SPEC)
    return base


@pytest.fixture(scope="module")
def reference_run(spark, log_dir):
    table, drv, stats = _run_fresh(spark, log_dir, "ref")
    assert len(stats) == SPEC.n_epochs
    return table, drv, _state(table)


def test_straight_run_applied_everything(reference_run):
    table, _, state = reference_run
    assert len(state) > 0
    assert table.committed_epochs() == set(range(SPEC.n_epochs))


def test_schema_evolved_mid_stream(reference_run):
    table, _, _ = reference_run
    cols = [f.name for f in table.schema().fields]
    assert "title" in cols
    rows = table.read().collect()
    assert any(r["title"] is not None for r in rows)


def test_replay_from_zero_bit_for_bit(spark, log_dir, reference_run):
    _, _, ref_state = reference_run
    table, drv, _ = _run_fresh(spark, log_dir, "replay0")
    # full second pass over all recorded offsets: every epoch is a no-op
    v = table.current_version()
    replay_stats = drv.replay(from_epoch=0)
    assert all(s.skipped for s in replay_stats)
    assert table.current_version() == v
    assert _state(table) == ref_state


def test_replay_from_mid_checkpoint(spark, log_dir, reference_run):
    _, _, ref_state = reference_run
    table, drv, _ = _run_fresh(spark, log_dir, "replaymid")
    drv.replay(from_epoch=SPEC.n_epochs // 2)
    assert _state(table) == ref_state


def test_crash_recovery_offsets_without_commit(spark, log_dir, reference_run):
    """Simulate a crash between offset WAL and commit: run() must finish
    the in-flight epoch, then continue, landing on the same state."""
    _, _, ref_state = reference_run
    base = log_dir
    table = IceTable.create(spark, base / "crash" / "table", PAGE_SCHEMA, num_partitions=4)
    src = ChangeTailSource(spark, base / "events")
    drv = EpochDriver(spark, src, table, base / "crash" / "ckpt")
    drv.run(max_epochs=2)
    # fake the crash: epoch 2's offsets recorded but never applied
    drv._record_offsets(2, 2, 3)
    stats = drv.run()
    assert table.committed_epochs() == set(range(SPEC.n_epochs))
    assert _state(table) == ref_state


def test_duplicate_epoch_injection(spark, log_dir, reference_run):
    """Apply an already-committed epoch out of band (at-least-once
    delivery) — sink idempotence makes it invisible."""
    _, _, ref_state = reference_run
    table, drv, _ = _run_fresh(spark, log_dir, "dupinject")
    for _ in range(2):
        drv.replay(from_epoch=1)
    assert _state(table) == ref_state


@pytest.fixture(scope="module")
def wire_dir(spark, log_dir):
    """The same log as Debezium envelope JSON lines, one file per epoch,
    mtime-ordered so the file source delivers one batch per epoch, oldest
    first (the per-key LSN order a url-keyed topic gives)."""
    wire = log_dir / "wire"
    wire.mkdir()
    for i, shard in enumerate(sorted((log_dir / "events").glob("events-e*.parquet"))):
        ev = spark.read.parquet(str(shard))
        dst = wire / f"{i:05d}.txt"
        dst.write_text("".join(r.value + "\n" for r in to_debezium(ev).collect()))
        os.utime(dst, (1_700_000_000 + i * 60,) * 2)
    return wire


@pytest.mark.parametrize("source", ["parquet", "wire"])
def test_structured_streaming_runner(spark, log_dir, reference_run, source, request):
    """The same sink driven by real readStream+foreachBatch, tailing the
    event parquet or the same log as Debezium envelope lines. The file
    source fixes the schema up front, so pre-evolution batches carry
    title=null rather than absent — final state equal on all other
    columns and on title where the native run has values. The wire case
    runs with snapshot expiry on: the shared Maintenance ticks after
    every micro-batch."""
    _, _, ref_state = reference_run
    base = log_dir / f"ss-{source}"
    if source == "parquet":
        src, kw = log_dir / "events", {}
    else:
        src = request.getfixturevalue("wire_dir")
        kw = {"row_schema": WIRE_ROW_SCHEMA, "expire_keep_last": 2}
    table = IceTable.create(
        spark, base / "table",
        T.StructType(PAGE_SCHEMA.fields + [T.StructField("title", T.StringType())]),
        num_partitions=4,
    )
    run_structured(spark, src, table, base / "ckpt", **kw)
    got = _state(table)
    assert len(got) == len(ref_state)
    # compare ignoring title (fixed-schema source nulls it pre-evolution)
    def drop_title(states, table_obj):
        cols = sorted(f.name for f in table_obj.schema().fields)
        i = cols.index("title")
        return [t[:i] + t[i + 1:] for t in states]
    ref_table = reference_run[0]
    assert drop_title(got, table) == drop_title(ref_state, ref_table)
    if "expire_keep_last" in kw:
        versions = [h["version"] for h in table.history()]
        assert versions == [table.current_version() - 1, table.current_version()]
    # maintenance needs no checkpoint of its own
    assert sorted(p.name for p in base.iterdir()) == ["ckpt", "table"]

    # checkpoint resume: re-running the same query over the same shard
    # set must be a no-op — the streaming checkpoint (not the table's
    # idempotence ledger) skips the consumed files, so no new snapshot
    # commits and the state is bit-identical
    v_before = table.current_version()
    run_structured(spark, src, table, base / "ckpt", **kw)
    assert table.current_version() == v_before
    assert _state(table) == got


def test_structured_crash_after_table_commit(
    spark, log_dir, reference_run, monkeypatch
):
    """Crash in the WORST foreachBatch window: apply_epoch has
    committed the batch to the table, Structured Streaming has NOT
    recorded the batch commit. On restart SS re-delivers the batch
    under the same id and the table's idempotence ledger must fold it
    to a no-op — final state identical to an uninterrupted run. Same
    injection shape as tools/endurance.py --source structured, pytest scale."""
    from datax_spark.streaming import driver as drv_mod

    base = log_dir
    table = IceTable.create(
        spark, base / "sscrash" / "table",
        T.StructType(PAGE_SCHEMA.fields + [T.StructField("title", T.StringType())]),
        num_partitions=4,
    )
    real_apply = drv_mod.apply_epoch
    fired = {"done": False}

    def crashing(tbl, batch_df, epoch, **kw):
        stats = real_apply(tbl, batch_df, epoch, **kw)
        if int(epoch) == 2 and not fired["done"]:
            fired["done"] = True
            raise RuntimeError("injected crash after epoch 2")
        return stats

    monkeypatch.setattr(drv_mod, "apply_epoch", crashing)
    with pytest.raises(Exception, match="injected crash"):
        run_structured(spark, base / "events", table,
                       base / "sscrash" / "ckpt")
    assert fired["done"]
    run_structured(spark, base / "events", table, base / "sscrash" / "ckpt")

    # uninterrupted twin for comparison
    clean = IceTable.create(
        spark, base / "ssclean" / "table",
        T.StructType(PAGE_SCHEMA.fields + [T.StructField("title", T.StringType())]),
        num_partitions=4,
    )
    monkeypatch.setattr(drv_mod, "apply_epoch", real_apply)
    run_structured(spark, base / "events", clean, base / "ssclean" / "ckpt")
    assert _state(table) == _state(clean)
