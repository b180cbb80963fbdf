"""Merge-on-read equality deletes: write amplification bounded by batch
size, read-time shadowing, compaction fold, CoW/MoR bit-equivalence."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import types as T

from datax_spark.datagen.generator import (
    EventLogSpec,
    generate_event_log,
    reference_apply,
)
from datax_spark.icetable.table import IceTable
from datax_spark.operators.merge import apply_epoch
from datax_spark.streaming.driver import EpochDriver
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
EV = "lsn long, op string, url string, warc_ts timestamp, html binary, lang string"
TS = dt.datetime(2026, 1, 1)


def _insert_batch(spark, n, lsn0=1):
    return spark.createDataFrame(
        [
            (lsn0 + i, "I", f"https://d{i % 7}.example.com/{i}", TS,
             f"<p>page {i}</p>".encode(), "en")
            for i in range(n)
        ],
        EV,
    )


def test_auto_picks_mor_for_delete_heavy_epoch_and_bounds_bytes(spark, tmp_path):
    table = IceTable.create(spark, tmp_path / "t", PAGE_SCHEMA, num_partitions=4)
    s0 = apply_epoch(table, _insert_batch(spark, 400), 0)
    assert s0.merge_mode == "cow"
    files_v1 = {f["path"] for f in table.manifest_entries()}

    # delete 10 urls: CoW would rewrite ~400 rows for 10 keys
    dels = spark.createDataFrame(
        [(1000 + i, "D", f"https://d{i % 7}.example.com/{i}", TS, None, "en")
         for i in range(10)],
        EV,
    )
    s1 = apply_epoch(table, dels, 1)
    assert s1.merge_mode == "mor"
    # existing data files untouched (no rewrite), only delete files added
    assert files_v1 <= {f["path"] for f in table.manifest_entries()}
    del_entries = table.delete_entries()
    assert del_entries and all(d["content"] == "equality-deletes" for d in del_entries)
    assert sum(d["rows"] for d in del_entries) == 10  # O(deletes) bytes
    # shadowing applied on read
    urls = {r["url"] for r in table.read().select("url").collect()}
    assert len(urls) == 390
    assert "https://d0.example.com/0" not in urls


def test_mor_sparse_update_shadows_old_copy(spark, tmp_path):
    table = IceTable.create(spark, tmp_path / "t", PAGE_SCHEMA, num_partitions=2)
    apply_epoch(table, _insert_batch(spark, 300), 0)
    upd = spark.createDataFrame(
        [(5000, "U", "https://d1.example.com/1", TS, b"<p>updated</p>", "en")], EV
    )
    s = apply_epoch(table, upd, 1)
    assert s.merge_mode == "mor"
    rows = {r["url"]: r for r in table.read().collect()}
    assert len(rows) == 300  # no duplicate of the updated key
    assert bytes(rows["https://d1.example.com/1"]["html"]) == b"<p>updated</p>"


def test_mor_respects_cross_epoch_lsn_guard(spark, tmp_path):
    table = IceTable.create(spark, tmp_path / "t", PAGE_SCHEMA, num_partitions=2)
    apply_epoch(table, _insert_batch(spark, 200), 0)  # url .../1 has lsn 2
    stale = spark.createDataFrame(
        [(1, "U", "https://d1.example.com/1", TS, b"<p>stale</p>", "en")], EV
    )
    s = apply_epoch(table, stale, 1, merge_strategy="mor")
    assert s.merge_mode == "mor"
    rows = {r["url"]: r for r in table.read().collect()}
    assert bytes(rows["https://d1.example.com/1"]["html"]) == b"<p>page 1</p>"
    assert len(rows) == 200


def test_compaction_folds_deletes(spark, tmp_path):
    table = IceTable.create(spark, tmp_path / "t", PAGE_SCHEMA, num_partitions=2)
    apply_epoch(table, _insert_batch(spark, 200), 0)
    dels = spark.createDataFrame(
        [(900 + i, "D", f"https://d{i % 7}.example.com/{i}", TS, None, "en")
         for i in range(5)],
        EV,
    )
    apply_epoch(table, dels, 1, merge_strategy="mor")
    before = sorted(r["url"] for r in table.read().select("url").collect())
    assert table.delete_entries()
    table.compact(min_files=1)
    assert table.delete_entries() == []  # debt paid down
    after = sorted(r["url"] for r in table.read().select("url").collect())
    assert before == after
    # compacted partitions hold exactly one data file each
    per_pid: dict[int, int] = {}
    for f in table.manifest_entries():
        per_pid[f["partition_id"]] = per_pid.get(f["partition_id"], 0) + 1
    assert all(n == 1 for n in per_pid.values())


def test_cow_and_mor_drivers_reach_identical_state(spark, tmp_path):
    """The two write strategies are physical choices only: same log,
    same final table content, and the pure-python fold agrees."""
    spec = EventLogSpec(
        n_events=900, n_urls=120, n_domains=10, n_epochs=3,
        evolve_at_epoch=2, dirty_per_epoch=3, seed=21,
    )
    shards = generate_event_log(tmp_path / "ev", spec)
    states = {}
    for mode in ("cow", "mor"):
        table = IceTable.create(
            spark, tmp_path / f"t_{mode}", PAGE_SCHEMA, num_partitions=4
        )
        drv = EpochDriver(
            spark,
            ChangeTailSource(spark, tmp_path / "ev"),
            table,
            tmp_path / f"ckpt_{mode}",
            merge_strategy=mode,
        )
        ran = drv.run()
        assert all(s.merge_mode == mode for s in ran if not s.skipped)
        # replay must be a complete no-op in both modes
        assert all(s.skipped for s in drv.replay(0))
        states[mode] = {
            r["url"]: (r["html"], r["text"], r["lang"], r["title"], r["warc_ts"])
            for r in table.read().collect()
        }
    assert states["cow"] == states["mor"]

    import pyarrow.parquet as pq

    events = []
    for s in shards:
        events.extend(pq.read_table(s).to_pylist())
    expected = reference_apply(events)
    assert set(states["mor"]) == set(expected)
    for url, (html, _text, lang, title, _ts) in states["mor"].items():
        assert html == expected[url]["html"], url
        assert lang == expected[url]["lang"], url
        assert title == expected[url].get("title"), url


@pytest.mark.parametrize("seed", [31, 77, 123])
def test_randomized_strategy_sequences_match_fold(spark, tmp_path, seed):
    """Engine-level robustness: a seeded random log applied with a
    seeded-random CoW/MoR choice PER EPOCH (plus a mid-sequence
    compaction) still equals the sequential pure-python fold, and
    re-applying every epoch is a no-op."""
    import random

    import pyarrow.parquet as pq

    rng = random.Random(seed)
    spec = EventLogSpec(
        n_events=rng.randint(400, 800),
        n_urls=rng.randint(50, 120),
        n_domains=rng.randint(4, 12),
        n_epochs=4,
        evolve_at_epoch=rng.choice([None, 2, 3]),
        dirty_per_epoch=rng.choice([0, 3]),
        seed=seed,
    )
    shards = generate_event_log(tmp_path / "ev", spec)
    table = IceTable.create(spark, tmp_path / "t", PAGE_SCHEMA, num_partitions=4)
    strategies = [rng.choice(["cow", "mor"]) for _ in shards]
    for e, (shard, strat) in enumerate(zip(shards, strategies)):
        df = spark.read.parquet(shard)
        if spec.evolve_at_epoch is None or e < spec.evolve_at_epoch:
            df = df.drop("title") if "title" in df.columns else df
        stats = apply_epoch(table, df, e, merge_strategy=strat)
        assert stats.merge_mode == strat
        if e == 1:
            table.compact(min_files=1)
    events = []
    for s in shards:
        events.extend(pq.read_table(s).to_pylist())
    expected = reference_apply(events)
    got = {r["url"]: r for r in table.read().collect()}
    assert set(got) == set(expected)
    for url, exp in expected.items():
        assert got[url]["html"] == exp["html"], (url, strategies)
        assert got[url]["lang"] == exp["lang"], url
    # re-apply every epoch: all skipped, state version unchanged
    v = table.current_version()
    for e, (shard, strat) in enumerate(zip(shards, strategies)):
        df = spark.read.parquet(shard)
        if spec.evolve_at_epoch is None or e < spec.evolve_at_epoch:
            df = df.drop("title") if "title" in df.columns else df
        assert apply_epoch(table, df, e, merge_strategy=strat).skipped
    assert table.current_version() == v


def test_incremental_read_applies_deletes(spark, tmp_path):
    """read_incremental must not resurrect MoR-shadowed rows: a key
    updated via MoR in the range yields exactly its NEW row, and an
    insert-then-MoR-delete yields nothing."""
    table = IceTable.create(spark, tmp_path / "t", PAGE_SCHEMA, num_partitions=2)
    apply_epoch(table, _insert_batch(spark, 50), 0)
    v0 = table.current_version()
    # epoch 1 inserts a fresh key k_new (CoW or MoR — force MoR)
    ins = spark.createDataFrame(
        [(500, "I", "https://new/x", TS, b"<p>n1</p>", "en")], EV
    )
    apply_epoch(table, ins, 1, merge_strategy="mor")
    # epoch 2: MoR-update an old key and MoR-delete the fresh one
    batch = spark.createDataFrame(
        [
            (600, "U", "https://d1.example.com/1", TS, b"<p>v2</p>", "en"),
            (601, "D", "https://new/x", TS, None, "en"),
        ],
        EV,
    )
    apply_epoch(table, batch, 2, merge_strategy="mor")
    inc = {r["url"]: r for r in table.read_incremental(from_version=v0).collect()}
    # updated key: exactly one row, the new value (old MoR row shadowed)
    assert bytes(inc["https://d1.example.com/1"]["html"]) == b"<p>v2</p>"
    # insert-then-delete inside the range: not resurrected
    assert "https://new/x" not in inc


def test_mor_epoch_is_one_pid_aligned_pass(spark, tmp_path, monkeypatch):
    """A merge-on-read epoch derives its data rows and its equality
    deletes from ONE lsn-guarded join: the write plan holds one LWW
    Window and scans the target's data files once, and each partition
    gets at most one delete file. The batch is read from parquet, as a
    source tail delivers it: a small, well-estimated batch is what let a
    separate delete leg broadcast the batch and stream the target, one
    delete file per target split per partition."""
    import re

    table = IceTable.create(spark, tmp_path / "t", PAGE_SCHEMA, num_partitions=2)
    urls = {}
    for e, host in enumerate("abc"):  # disjoint envelopes: 3 files per pid
        urls[host] = [f"https://{host}/{i}" for i in range(40)]
        rows = [
            (100 * e + i + 1, "I", u, TS, f"<p>{u}</p>".encode(), "en")
            for i, u in enumerate(urls[host])
        ]
        apply_epoch(table, spark.createDataFrame(rows, EV), e)
    ev = [(1000 + i, "D", urls[h][i], TS, None, "en") for h in "abc" for i in range(3)]
    ev += [
        (2000 + i, "U", urls[h][10 + i], TS, b"<p>new</p>", "en")
        for h in "abc"
        for i in range(2)
    ]
    spark.createDataFrame(ev, EV).write.parquet(str(tmp_path / "ev"))

    plans = []
    write_conf = IceTable._write_conf

    def spy(self, writer):
        plans.append(writer._df._jdf.queryExecution().executedPlan().toString())
        return write_conf(self, writer)

    monkeypatch.setattr(IceTable, "_write_conf", spy)
    s = apply_epoch(table, spark.read.parquet(str(tmp_path / "ev")), 3)
    assert s.merge_mode == "mor"
    (plan,) = plans
    assert len(re.findall(r"^\W*Window \[", plan, re.M)) == 1, plan
    # the target's data files are the scans reading the stored _lsn
    assert len(re.findall(r"FileScan parquet .*ReadSchema: .*\b_lsn:", plan)) == 1, plan

    per_pid: dict[int, int] = {}
    for d in table.delete_entries():
        per_pid[d["partition_id"]] = per_pid.get(d["partition_id"], 0) + 1
    assert per_pid == {0: 1, 1: 1}
    got = {r["url"]: r["text"] for r in table.read().collect()}
    assert len(got) == 120 - 9
    assert all(got[urls[h][10 + i]] == "new" for h in "abc" for i in range(2))
