"""Table maintenance: incremental read, compaction, snapshot expiry."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from datax_spark.datagen.generator import EventLogSpec, generate_event_log
from datax_spark.icetable.table import IceTable
from datax_spark.streaming.driver import EpochDriver, Maintenance
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


@pytest.fixture(scope="module")
def ingested(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("maint")
    generate_event_log(
        base / "events",
        EventLogSpec(n_events=400, n_urls=80, n_domains=8, n_epochs=4, seed=13),
    )
    table = IceTable.create(spark, base / "table", PAGE_SCHEMA, num_partitions=4)
    drv = EpochDriver(
        spark, ChangeTailSource(spark, base / "events"), table, base / "ckpt"
    )
    drv.run()
    return table


def test_incremental_read_covers_touched_keys(ingested):
    v_now = ingested.current_version()
    inc = ingested.read_incremental(from_version=v_now - 1, to_version=v_now)
    # copy-on-write: the incremental scan is the post-image of every
    # rewritten partition — it must contain every url present in the
    # last epoch's lineage-affected partitions and agree with the table
    full = ingested.read()
    joined = inc.alias("i").join(
        full.alias("f"), "url", "inner"
    )
    assert joined.count() == inc.count()  # every incremental row is current
    assert 0 < inc.count() <= full.count()


def test_compaction_preserves_state(spark, tmp_path):
    """Multi-file partitions arise from envelope pruning (a batch whose
    url range misses a file leaves it in place and adds a new one);
    compaction folds them back to one sorted file."""
    import datetime as dt

    from datax_spark.operators.merge import apply_epoch

    table = IceTable.create(spark, tmp_path / "t", PAGE_SCHEMA, num_partitions=1)
    ts = dt.datetime(2026, 1, 1)

    def batch(urls, lsn0):
        return spark.createDataFrame(
            [
                (lsn0 + i, "I", u, ts, b"<html><body>x</body></html>", "en")
                for i, u in enumerate(urls)
            ],
            "lsn long, op string, url string, warc_ts timestamp, html binary, lang string",
        )

    apply_epoch(table, batch(["a", "b", "c"], 1), epoch=0)
    # url 'z' sorts past envelope [a, c] → old file untouched, new file added
    apply_epoch(table, batch(["z"], 10), epoch=1)
    files = [f for f in table.manifest_entries() if f["partition_id"] == 0]
    assert len(files) == 2
    before = {(r["url"], r["text"]) for r in table.read().collect()}
    v = table.compact_partition(0)
    assert v == table.current_version()
    after_files = [f for f in table.manifest_entries() if f["partition_id"] == 0]
    assert len(after_files) == 1
    after = {(r["url"], r["text"]) for r in table.read().collect()}
    assert before == after and len(after) == 4


def test_expire_snapshots_keeps_current_state(ingested):
    before = {(r["url"], r["text"]) for r in ingested.read().collect()}
    cur = ingested.current_version()
    deleted = ingested.expire_snapshots(keep_last=1)
    # old metadata gone, current state intact
    after = {(r["url"], r["text"]) for r in ingested.read().collect()}
    assert after == before
    with pytest.raises(Exception):
        ingested.metadata(0)
    assert ingested.current_version() == cur
    # deleted files are really gone and none were live
    for p in deleted:
        assert not (ingested.root / p).exists()


def test_compact_sweep_after_bloom_pruned_epochs(spark, tmp_path):
    """Bloom-pruned point-update epochs accumulate small files; the
    compact sweep folds every multi-file partition back to one file
    without changing table state."""
    import datetime as dt

    from datax_spark.operators.merge import apply_epoch

    table = IceTable.create(spark, tmp_path / "t", PAGE_SCHEMA, num_partitions=1)
    ts = dt.datetime(2026, 1, 1)
    ev = "lsn long, op string, url string, warc_ts timestamp, html binary, lang string"

    def batch(urls, lsn0):
        return spark.createDataFrame(
            [(lsn0 + i, "I", u, ts, b"<p>x</p>", "en") for i, u in enumerate(urls)], ev
        )

    apply_epoch(table, batch([f"https://a/{i}" for i in range(20)], 1), 0)
    apply_epoch(table, batch([f"https://z/{i}" for i in range(5)], 100), 1)  # bloom keeps a-file
    assert len(table.manifest_entries()) == 2
    before = {(r["url"], r["text"]) for r in table.read().collect()}
    assert table.compact(min_files=2) == [0]
    assert len(table.manifest_entries()) == 1
    assert {(r["url"], r["text"]) for r in table.read().collect()} == before


def test_driver_scheduled_compaction(spark, tmp_path):
    """compact_every: the driver folds small files (and any MoR delete
    debt) between epochs; final state unchanged, one file per partition."""
    from datax_spark.datagen.generator import EventLogSpec, generate_event_log
    from datax_spark.streaming.driver import EpochDriver
    from datax_spark.streaming.source import ChangeTailSource
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("html", T.BinaryType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
    ])
    spec = EventLogSpec(n_events=400, n_urls=60, n_domains=6, n_epochs=4, seed=5)
    generate_event_log(tmp_path / "ev", spec)
    table = IceTable.create(spark, tmp_path / "t", schema, num_partitions=3)
    drv = EpochDriver(
        spark, ChangeTailSource(spark, tmp_path / "ev"), table, tmp_path / "ckpt",
        compact_every=2, merge_strategy="mor",
    )
    drv.run()
    assert table.delete_entries() == []  # debt folded by the sweep
    # replay still a complete no-op after maintenance snapshots
    assert all(s.skipped for s in drv.replay(0))


def test_driver_delete_debt_triggered_compaction(spark, tmp_path):
    """max_delete_debt: a delete-heavy MoR epoch pushes shadowed-row debt
    over the ratio and the driver compacts the affected partitions."""
    import datetime as dt

    from datax_spark.operators.merge import apply_epoch
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("html", T.BinaryType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
    ])
    ev = "lsn long, op string, url string, warc_ts timestamp, html binary, lang string"
    ts = dt.datetime(2026, 1, 1)
    table = IceTable.create(spark, tmp_path / "t", schema, num_partitions=2)
    apply_epoch(table, spark.createDataFrame(
        [(1 + i, "I", f"https://d/{i}", ts, b"<p>x</p>", "en") for i in range(100)], ev
    ), 0)
    apply_epoch(table, spark.createDataFrame(
        [(900 + i, "D", f"https://d/{i}", ts, None, "en") for i in range(30)], ev
    ), 1, merge_strategy="mor")
    assert table.delete_entries()
    Maintenance(table, max_delete_debt=0.1).tick(epoch=1)
    assert table.delete_entries() == []
    assert table.read().count() == 70


def test_delete_debt_trigger_is_staggered(spark, tmp_path):
    """Per-partition delete-debt thresholds are staggered across
    [bound, 2*bound): uniform delete debt fires partitions in
    DIFFERENT epochs, never all partitions in one epoch (the earlier
    global-ratio form compacted every delete-bearing partition at
    once — a periodic full-table sweep; the 400-epoch endurance drive
    measured the sweep+expiry coincidence as a 56.8s worst epoch)."""
    import datetime as dt

    from datax_spark.operators.merge import apply_epoch

    ev = "lsn long, op string, url string, warc_ts timestamp, html binary, lang string"
    ts = dt.datetime(2026, 1, 1)
    table = IceTable.create(spark, tmp_path / "t", PAGE_SCHEMA, num_partitions=4)
    urls = [f"https://d/{i}" for i in range(400)]
    apply_epoch(
        table,
        spark.createDataFrame(
            [(1 + i, "I", u, ts, b"<p>x</p>", "en") for i, u in enumerate(urls)], ev
        ),
        0,
    )
    maint = Maintenance(table, max_delete_debt=0.1)
    fired: list[tuple[int, int]] = []
    orig = table.compact_partition
    epoch = 0
    table.compact_partition = lambda pid: fired.append((epoch, pid)) or orig(pid)
    for epoch in range(1, 7):
        # delete 20 previously-untouched urls per epoch: debt grows
        # ~5%/epoch in every partition regardless of hash skew
        batch = [
            (10_000 + 100 * epoch + j, "D", urls[(epoch - 1) * 20 + j], ts, None, "en")
            for j in range(20)
        ]
        apply_epoch(table, spark.createDataFrame(batch, ev), epoch, merge_strategy="mor")
        maint.tick(epoch)
    assert fired, "debt trigger never fired"
    by_epoch: dict[int, set[int]] = {}
    for e, pid in fired:
        by_epoch.setdefault(e, set()).add(pid)
    # never a full-table sweep in one epoch
    assert all(len(pids) < 4 for pids in by_epoch.values()), by_epoch
    # thresholds differ per partition, so first crossings spread out
    assert len(by_epoch) >= 2, by_epoch
    # final state correct: deleted keys gone, the rest intact
    assert table.read().count() == 400 - 120


def test_driver_file_count_triggered_compaction(spark, tmp_path):
    """max_files_per_partition: many tiny MoR epochs fragment every
    partition; the file-count trigger compacts exactly the partitions
    over the bound after each epoch, so live files stay bounded at any
    epoch count (the endurance drive's residual O(live files) growth)
    and final state is unchanged."""
    from datax_spark.datagen.generator import EventLogSpec, generate_event_log
    from datax_spark.streaming.driver import EpochDriver
    from datax_spark.streaming.source import ChangeTailSource
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("html", T.BinaryType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
    ])
    spec = EventLogSpec(n_events=600, n_urls=80, n_domains=6, n_epochs=8, seed=7)
    generate_event_log(tmp_path / "ev", spec)
    bound = 4
    table = IceTable.create(spark, tmp_path / "t", schema, num_partitions=3)
    drv = EpochDriver(
        spark, ChangeTailSource(spark, tmp_path / "ev"), table, tmp_path / "ckpt",
        merge_strategy="mor", max_delete_debt=None,
        max_files_per_partition=bound,
    )
    drv.run()
    by_pid: dict[int, int] = {}
    for f in table.manifest_entries():
        by_pid[f["partition_id"]] = by_pid.get(f["partition_id"], 0) + 1
    # per-partition thresholds are staggered to bound + pid % bound (so
    # uniform ingest doesn't fire every partition in the same epoch),
    # and one epoch can add files before the post-epoch check compacts;
    # the invariant is max threshold + one epoch's additions, not bound
    assert max(by_pid.values()) <= bound + (bound - 1) + 2, by_pid
    # state identical to an unmaintained run of the same log
    ref = IceTable.create(spark, tmp_path / "t2", schema, num_partitions=3)
    EpochDriver(
        spark, ChangeTailSource(spark, tmp_path / "ev"), ref, tmp_path / "ckpt2",
        merge_strategy="mor", max_delete_debt=None,
    ).run()
    cols = ["url", "warc_ts", "html", "text", "lang"]
    got = sorted(map(tuple, table.read().select(cols).collect()))
    want = sorted(map(tuple, ref.read().select(cols).collect()))
    assert got == want
    # replay still a complete no-op after maintenance snapshots
    assert all(s.skipped for s in drv.replay(0))


def test_driver_scheduled_snapshot_expiry(spark, tmp_path):
    """expire_keep_last: the driver expires old snapshots after each
    epoch's maintenance — physical files a long ingest would otherwise
    accumulate (every superseded CoW file) are deleted, the retention
    window stays readable, state is intact, replay stays a no-op."""
    from datax_spark.datagen.generator import EventLogSpec, generate_event_log
    from datax_spark.streaming.driver import EpochDriver
    from datax_spark.streaming.source import ChangeTailSource
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("html", T.BinaryType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
    ])
    spec = EventLogSpec(n_events=500, n_urls=60, n_domains=6, n_epochs=5, seed=9)
    generate_event_log(tmp_path / "ev", spec)

    def drive(root, **kw):
        t = IceTable.create(spark, root / "t", schema, num_partitions=3)
        d = EpochDriver(
            spark, ChangeTailSource(spark, tmp_path / "ev"), t, root / "ckpt", **kw
        )
        d.run()
        return t, d

    table, drv = drive(tmp_path / "kept", expire_keep_last=2)
    ref, _ = drive(tmp_path / "ref")

    # only the last 2 metadata versions remain; older data files are gone
    versions = sorted(
        int(p.name[1:].split(".")[0]) for p in table.meta_dir.glob("v*.metadata.json")
    )
    assert versions == [table.current_version() - 1, table.current_version()], versions
    live = {f["path"] for f in table.manifest_entries()} | {
        d["path"] for d in table.delete_entries()
    }
    # previous retained snapshot may hold files the current one dropped
    live |= {f["path"] for f in table.manifest_entries(versions[0])} | {
        d["path"] for d in table.delete_entries(versions[0])
    }
    on_disk = {
        str(p.relative_to(table.root))
        for p in table.root.glob("data/pid=*/*.parquet")
    }
    assert on_disk == live, on_disk ^ live

    cols = ["url", "warc_ts", "html", "text", "lang"]
    got = sorted(map(tuple, table.read().select(cols).collect()))
    want = sorted(map(tuple, ref.read().select(cols).collect()))
    assert got == want
    assert all(s.skipped for s in drv.replay(0))

    # expiry must also survive manifests SHARED across expired versions:
    # a single-partition maintenance commit (file-count trigger) leaves
    # the other partitions' manifests untouched, so consecutive expired
    # versions reference the same manifest file — the first expiry
    # deletes it, the next must skip it, not crash
    t2, d2 = drive(
        tmp_path / "shared",
        expire_keep_last=2,
        max_files_per_partition=1,
        max_delete_debt=None,
        merge_strategy="mor",
    )
    got2 = sorted(map(tuple, t2.read().select(cols).collect()))
    assert got2 == want
    assert all(s.skipped for s in d2.replay(0))


def test_history_lists_snapshots(spark, tmp_path):
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("url", T.StringType()), T.StructField("val", T.LongType()),
    ])
    t = IceTable.create(spark, tmp_path / "t", schema, num_partitions=2)
    df = spark.createDataFrame(
        [("a", 1, 0, 1)], "url string, val long, _pid int, _lsn long"
    )
    t.commit(0, {0}, t.stage_data_files(df, 0))
    h = t.history()
    assert [x["version"] for x in h] == [0, 1]
    assert h[1]["parent_version"] == 0 and h[1]["summary"]["total_rows"] == 1


def test_rebucket_preserves_content_and_continues_ingest(spark, tmp_path):
    """Partition-spec evolution: rewrite the table under a new partition
    count in one atomic snapshot; content identical, pruning works under
    the new spec, and the CDC apply path keeps working afterwards."""
    import datetime as dt

    from datax_spark.operators.merge import apply_epoch
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("html", T.BinaryType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
    ])
    ev = "lsn long, op string, url string, warc_ts timestamp, html binary, lang string"
    ts = dt.datetime(2026, 1, 1)
    table = IceTable.create(spark, tmp_path / "t", schema, num_partitions=2)
    apply_epoch(table, spark.createDataFrame(
        [(1 + i, "I", f"https://d{i % 5}.x/{i}", ts, f"<p>v{i}</p>".encode(), "en")
         for i in range(120)], ev
    ), 0)
    before = {r["url"]: bytes(r["html"]) for r in table.read().collect()}
    table.rebucket(8)
    assert table.num_partitions == 8
    after = {r["url"]: bytes(r["html"]) for r in table.read().collect()}
    assert before == after
    # every file sits in its key's NEW partition
    from datax_spark.functions.hashing import url_partition
    from pyspark.sql import functions as F

    bad = (
        table.read()
        .select(url_partition("url", 8).alias("pid"), "url")
        .groupBy("pid").count()
    )
    assert {r["pid"] for r in bad.collect()} == {
        f["partition_id"] for f in table.manifest_entries()
    }
    # ingest continues under the new spec (epoch ledger carried over)
    s = apply_epoch(table, spark.createDataFrame(
        [(1000, "U", "https://d1.x/1", ts, b"<p>new</p>", "en")], ev
    ), 1)
    assert not s.skipped
    assert bytes(
        {r["url"]: r for r in table.read().collect()}["https://d1.x/1"]["html"]
    ) == b"<p>new</p>"
    # replaying epoch 0 after the rebucket stays a no-op
    assert apply_epoch(table, spark.createDataFrame(
        [(1, "I", "https://d0.x/0", ts, b"<p>x</p>", "en")], ev
    ), 0).skipped


def test_stale_compaction_conflicts_instead_of_resurrecting_rows(spark, tmp_path):
    """A compaction whose rewrite set was computed against an older
    snapshot must CAS-conflict when an ingest interleaved — committing
    it would resurrect rows the ingest already rewrote."""
    from datax_spark.icetable.table import TableCommitConflict
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("url", T.StringType()), T.StructField("val", T.LongType()),
    ])
    t = IceTable.create(spark, tmp_path / "t", schema, num_partitions=2)
    mk = lambda rows: spark.createDataFrame(  # noqa: E731
        rows, "url string, val long, _pid int, _lsn long"
    )
    t.commit(0, {0}, t.stage_data_files(mk([("a", 1, 0, 1)]), 0))
    t.commit(1, {0}, t.stage_data_files(mk([("b", 2, 0, 2)]), 1))
    stale_files = t.manifest_entries(partition_ids={0})
    stale_version = t.current_version()
    # interleaved ingest moves the table forward
    t.commit(2, {0}, t.stage_data_files(mk([("c", 3, 0, 3)]), 2))
    with pytest.raises(TableCommitConflict, match="moved to"):
        t.commit(
            2, set(),
            t.stage_data_files(mk([("a", 1, 0, 1), ("b", 2, 0, 2)]), 2),
            removed=stale_files,
            expected_version=stale_version,
        )


def test_remove_orphans_sweeps_uncommitted_only(spark, tmp_path):
    """remove_orphans deletes files no metadata version references once
    past the grace window; live files and fresh (in-flight) stagings
    survive, and the table state is untouched."""
    import os
    import time

    from datax_spark.datagen.generator import EventLogSpec, generate_event_log

    generate_event_log(
        tmp_path / "events",
        EventLogSpec(n_events=200, n_urls=40, n_domains=4, n_epochs=2, seed=5),
    )
    table = IceTable.create(spark, tmp_path / "table", PAGE_SCHEMA, num_partitions=4)
    EpochDriver(
        spark, ChangeTailSource(spark, tmp_path / "events"), table, tmp_path / "ckpt"
    ).run()
    before = {r["url"]: r for r in table.read().collect()}

    # a crashed staging: data file + manifest + sidecar nobody references,
    # plus a _staging-* tree (where a mid-write crash actually leaves
    # its parts)
    old = time.time() - 7200
    strays = [
        table.data_dir / "pid=0" / "orphan-crashed.parquet",
        table.manifest_dir / "m-orphan.json",
        table.bloom_dir / "b-orphan.bloom.parquet",
    ]
    for p in strays:
        p.parent.mkdir(parents=True, exist_ok=True)
        p.write_bytes(b"junk")
        os.utime(p, (old, old))
    crashed = table.root / "_staging-e00099-deadbeef"
    part = crashed / "_pid=0" / "part-0.parquet"
    part.parent.mkdir(parents=True)
    part.write_bytes(b"junk")
    for p in (part, part.parent, crashed):
        os.utime(p, (old, old))
    fresh = table.data_dir / "pid=1" / "orphan-inflight.parquet"
    fresh.write_bytes(b"junk")  # mtime now -> inside grace window

    removed = table.remove_orphans(grace_seconds=3600)
    expected = [str(p.relative_to(table.root)) for p in strays] + [crashed.name]
    assert sorted(removed) == sorted(expected)
    for p in strays + [crashed]:
        assert not p.exists()
    assert fresh.exists()

    after = {r["url"]: r for r in table.read().collect()}
    assert after.keys() == before.keys()
    for u in before:
        assert after[u]["html"] == before[u]["html"], u
    # second sweep is a no-op; the fresh file still protected
    assert table.remove_orphans(grace_seconds=3600) == []


def test_rollback_then_replay_converges(spark, tmp_path):
    """Roll the table back to an early snapshot, then driver.replay():
    the rolled-back ledger no longer records the later epochs, so they
    re-apply — final state converges to the pre-rollback state
    bit-for-bit (the exactly-once design composes with rollback)."""
    from datax_spark.datagen.generator import EventLogSpec, generate_event_log

    generate_event_log(
        tmp_path / "events",
        EventLogSpec(n_events=300, n_urls=60, n_domains=6, n_epochs=3, seed=21),
    )
    table = IceTable.create(spark, tmp_path / "table", PAGE_SCHEMA, num_partitions=4)
    drv = EpochDriver(
        spark, ChangeTailSource(spark, tmp_path / "events"), table, tmp_path / "ckpt"
    )
    stats = drv.run()
    assert len(stats) == 3
    final = {r["url"]: r.asDict() for r in table.read().collect()}
    v_after_e0 = stats[0].version

    new_head = table.rollback(v_after_e0)
    assert new_head == table.current_version()
    # state really is the epoch-0 state again
    early = {r["url"]: r.asDict() for r in table.read(version=v_after_e0).collect()}
    now = {r["url"]: r.asDict() for r in table.read().collect()}
    assert now.keys() == early.keys()
    # epochs 1-2 left the ledger -> replay re-applies them (epoch 0 is
    # still recorded in the restored snapshot and stays a no-op)
    replayed = drv.replay()
    assert [s.skipped for s in replayed] == [True, False, False]
    again = {r["url"]: r.asDict() for r in table.read().collect()}
    assert again.keys() == final.keys()
    for u, row in final.items():
        assert again[u]["html"] == row["html"], u
        assert again[u]["text"] == row["text"], u
    # rollback to the current head is a no-op
    assert table.rollback(table.current_version()) == table.current_version()


def test_tags_pin_snapshots_and_survive_expiry(spark, tmp_path):
    """Iceberg-style table refs: a tag names a version for time travel
    (read(version='name')), protects it from expire_snapshots, and
    drop_tag releases it."""
    from pyspark.sql import types as T

    from datax_spark.icetable.table import IceTable

    schema = T.StructType([
        T.StructField("url", T.StringType()), T.StructField("val", T.LongType()),
    ])
    t = IceTable.create(spark, tmp_path / "t", schema, num_partitions=2)
    for e, rows in enumerate([[("a", 1)], [("b", 2)], [("c", 3)], [("d", 4)]]):
        df = spark.createDataFrame(
            [(u, v, 0, e + 1) for u, v in rows],
            "url string, val long, _pid int, _lsn long",
        )
        t.commit(e, {0}, t.stage_data_files(df, epoch=e))
    t.tag("first_batch", 1)
    assert t.refs() == {"first_batch": 1}
    # tagging is changelog-invisible (rewrite-only metadata version)
    assert t.read_changes(t.current_version() - 1).count() == 0
    assert {r["url"] for r in t.read(version="first_batch").collect()} == {"a"}

    t.expire_snapshots(keep_last=2)
    # v1 is older than the horizon but tagged: still readable
    assert {r["url"] for r in t.read(version="first_batch").collect()} == {"a"}
    assert t.read(version=1).count() == 1
    # untagged old versions are gone
    import pytest as _pytest
    with _pytest.raises(FileNotFoundError):
        t.read(version=2)

    # rollback keeps later-created tags (refs are table-level)
    v = t.rollback(t.resolve_ref("first_batch"))
    assert t.refs() == {"first_batch": 1}
    assert {r["url"] for r in t.read().collect()} == {"a"}

    t.drop_tag("first_batch")
    assert t.refs() == {}
    t.expire_snapshots(keep_last=2)
    with _pytest.raises(FileNotFoundError):
        t.read(version=1)  # unpinned: expired on the next sweep
    with _pytest.raises(KeyError):
        t.resolve_ref("first_batch")
