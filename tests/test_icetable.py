from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from datax_spark.icetable.table import IceTable, TableCommitConflict

SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("val", T.LongType()),
    ]
)


def _mk(spark, tmp_path, P=4):
    return IceTable.create(spark, tmp_path / "t", SCHEMA, num_partitions=P)


def _df(spark, rows):
    return spark.createDataFrame(
        [(u, v, p, l) for (u, v, p, l) in rows], "url string, val long, _pid int, _lsn long"
    )


def _tagged(spark, rows=(), deletes=()):
    """A merge-on-read staged frame: data rows ``(url, val, _pid, _lsn)``
    tagged ``_dl = 0`` and equality-delete keys ``(url, _pid)`` tagged
    ``_dl = 1``."""
    return spark.createDataFrame(
        [(u, v, p, l, 0) for (u, v, p, l) in rows]
        + [(u, None, p, None, 1) for (u, p) in deletes],
        "url string, val long, _pid int, _lsn long, _dl int",
    )


def test_create_load_roundtrip(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t2 = IceTable.load(spark, tmp_path / "t")
    assert t2.current_version() == 0
    assert t2.schema() == SCHEMA
    assert t2.num_partitions == 4
    assert t2.read().count() == 0


def test_commit_and_read(spark, tmp_path):
    t = _mk(spark, tmp_path)
    files = t.stage_data_files(_df(spark, [("a", 1, 0, 10), ("b", 2, 1, 11)]), epoch=0)
    v = t.commit(0, {0, 1}, files)
    assert v == 1
    got = {r["url"]: r["val"] for r in t.read().collect()}
    assert got == {"a": 1, "b": 2}
    # hidden _lsn readable on demand
    assert {r["_lsn"] for r in t.read(with_lsn=True).collect()} == {10, 11}
    assert t.is_committed(0, 0) and t.is_committed(0, 1) and not t.is_committed(1, 0)


def test_time_travel_and_replace(spark, tmp_path):
    t = _mk(spark, tmp_path)
    f0 = t.stage_data_files(_df(spark, [("a", 1, 0, 1)]), epoch=0)
    t.commit(0, {0}, f0)
    f1 = t.stage_data_files(_df(spark, [("a", 99, 0, 2)]), epoch=1)
    t.commit(1, {0}, f1, removed=f0)
    assert t.read(version=1).collect()[0]["val"] == 1  # time travel
    assert t.read().collect()[0]["val"] == 99


def test_atomic_cas_conflict(spark, tmp_path):
    t = _mk(spark, tmp_path)
    f0 = t.stage_data_files(_df(spark, [("a", 1, 0, 1)]), epoch=0)
    t.commit(0, {0}, f0)
    # second writer with a stale view of version 0
    stale = IceTable(spark, tmp_path / "t")
    meta = stale.metadata(version=0)
    with pytest.raises(TableCommitConflict):
        stale._publish({**meta, "version": 1})


def test_partition_and_file_pruning(spark, tmp_path):
    t = _mk(spark, tmp_path)
    rows = [(f"url{i:03d}", i, i % 4, i) for i in range(40)]
    files = t.stage_data_files(_df(spark, rows), epoch=0)
    t.commit(0, {0, 1, 2, 3}, files)
    df, pruned = t.read_partitions({1}, pid_url_ranges=None)
    assert {f["partition_id"] for f in pruned} == {1}
    assert df.count() == 10
    # envelope outside all urls of pid 1 → no files
    _, none_files = t.read_partitions({1}, pid_url_ranges={1: ("zzz", "zzzz")})
    assert none_files == []


def test_schema_evolution_read_old_files(spark, tmp_path):
    t = _mk(spark, tmp_path)
    f0 = t.stage_data_files(_df(spark, [("a", 1, 0, 1)]), epoch=0)
    t.commit(0, {0}, f0)
    evolved = T.StructType(SCHEMA.fields + [T.StructField("title", T.StringType())])
    df1 = spark.createDataFrame([("b", 2, "hi", 1, 2)], "url string, val long, title string, _pid int, _lsn long")
    f1 = t.stage_data_files(df1, epoch=1)
    v = t.commit(1, {1}, f1, new_schema=evolved)
    meta = t.metadata(v)
    assert meta["schema_id"] == 1 and len(meta["schemas"]) == 2
    got = {r["url"]: r["title"] for r in t.read().collect()}
    assert got == {"a": None, "b": "hi"}  # old file null-fills new column


def test_orphan_files_ignored(spark, tmp_path):
    t = _mk(spark, tmp_path)
    f0 = t.stage_data_files(_df(spark, [("a", 1, 0, 1)]), epoch=0)
    t.commit(0, {0}, f0)
    # staged but never committed (crash before commit)
    t.stage_data_files(_df(spark, [("zz", 9, 0, 9)]), epoch=1)
    assert t.read().count() == 1


def test_lineage_write_idempotent(spark, tmp_path):
    t = _mk(spark, tmp_path)
    row = {
        "checkpoint_epoch": 0, "partition_id": 0, "start_offset": 0, "end_offset": 1,
        "lsn_watermark": 5, "rows_in": 3, "rows_upserted": 2, "rows_deleted": 1,
        "rows_dirty": 0, "commit_id": "abc", "wall_ms": 12,
    }
    t.write_lineage(0, [row])
    t.write_lineage(0, [{**row, "rows_in": 999}])  # replay: ignored
    got = t.read_lineage().collect()
    assert len(got) == 1 and got[0]["rows_in"] == 3


def test_metadata_is_valid_json_chain(spark, tmp_path):
    t = _mk(spark, tmp_path)
    f0 = t.stage_data_files(_df(spark, [("a", 1, 0, 1)]), epoch=0)
    t.commit(0, {0}, f0)
    m1 = json.loads((t.meta_dir / "v1.metadata.json").read_text())
    assert m1["parent_version"] == 0 and m1["summary"]["total_rows"] == 1


def test_load_rejects_partition_hash_mismatch(spark, tmp_path):
    """A table laid out under a different partitioning hash must fail to
    load — silently mis-pruning MERGE would miss rows / duplicate keys."""
    t = _mk(spark, tmp_path)
    meta_path = t.meta_dir / "v0.metadata.json"
    meta = json.loads(meta_path.read_text())
    meta["partition_spec"]["hash"] = "xxhash64/seed=0"
    meta_path.write_text(json.dumps(meta))
    with pytest.raises(ValueError, match="layout/hash mismatch"):
        IceTable.load(spark, tmp_path / "t")


def test_load_rejects_foreign_format_version(spark, tmp_path):
    t = _mk(spark, tmp_path)
    meta_path = t.meta_dir / "v0.metadata.json"
    meta = json.loads(meta_path.read_text())
    meta["format_version"] = 1
    meta_path.write_text(json.dumps(meta))
    with pytest.raises(ValueError, match="format_version"):
        IceTable.load(spark, tmp_path / "t")


def test_commit_rewrites_only_touched_partition_manifests(spark, tmp_path):
    """Sharded manifest: a commit touching one partition must reuse every
    other partition's manifest file by reference — commit cost is
    O(affected files + P), not O(all files)."""
    t = _mk(spark, tmp_path, P=4)
    files = t.stage_data_files(
        _df(spark, [(f"u{i}", i, i % 4, 10 + i) for i in range(16)]), epoch=0
    )
    t.commit(0, {0, 1, 2, 3}, files)
    refs_v1 = dict(t.metadata()["manifests"])
    assert set(refs_v1) == {"0", "1", "2", "3"}

    f1 = t.stage_data_files(_df(spark, [("zzz", 99, 2, 50)]), epoch=1)
    assert {f["partition_id"] for f in f1} == {2}
    t.commit(1, {2}, f1)
    refs_v2 = dict(t.metadata()["manifests"])
    # untouched partitions: identical manifest file references
    for pid in ("0", "1", "3"):
        assert refs_v2[pid] == refs_v1[pid]
    assert refs_v2["2"] != refs_v1["2"]
    # and the new manifest contains the old files plus the new one
    old_p2 = {f["path"] for f in t.manifest_entries(1, partition_ids={2})}
    new_p2 = {f["path"] for f in t.manifest_entries(partition_ids={2})}
    assert new_p2 == old_p2 | {f1[0]["path"]}
    # blooms live in sidecars, not inline
    for f in t.manifest_entries():
        assert isinstance(f.get("bloom"), str)
        assert (t.root / f["bloom"]).exists()


def test_commit_ledger_folds_to_watermark(spark, tmp_path):
    """The (epoch, pid) idempotence map stays bounded: contiguous old
    epochs fold into commit_epoch_watermark, only a recent window stays
    exact, and committed-ness answers are unchanged across the fold."""
    t = _mk(spark, tmp_path)
    for e in range(300):
        t.commit(e, {0, 1}, [])
    meta = t.metadata()
    retain = IceTable.LEDGER_RETAIN_EPOCHS
    assert meta["commit_epoch_watermark"] == 299 - retain
    assert len(meta["commits"]) == 2 * retain  # bounded, not O(epochs)
    # folded epochs still answer committed
    assert t.is_committed(5, 0) and t.is_committed(5, 1)
    assert t.is_epoch_committed(5) and t.is_epoch_committed(299)
    assert not t.is_epoch_committed(300)
    assert 5 in t.committed_epochs() and 299 in t.committed_epochs()


def test_lookup_point_reads(spark, tmp_path):
    """lookup() returns exactly the live rows for the requested keys —
    across partitions, after updates and MoR deletes, at a pinned
    version — and prunes: the file set read is a strict subset when the
    keys hash to one partition."""
    from datax_spark.functions.hashing import url_partition

    t = _mk(spark, tmp_path)
    rows = [(f"u{i}", i, None, 10 + i) for i in range(12)]
    rows = [
        (u, v, spark.range(1).select(
            url_partition(F.lit(u), 4)).first()[0], l)
        for (u, v, _, l) in rows
    ]
    t.commit(0, {r[2] for r in rows}, t.stage_data_files(_df(spark, rows), epoch=0))
    got = {r["url"]: r["val"] for r in t.lookup(["u3", "u7", "nope"]).collect()}
    assert got == {"u3": 3, "u7": 7}

    # update u3 via MoR staging, delete u7; lookup reflects the change,
    # pinned-version lookup still sees the old state
    v1 = t.current_version()
    pid3 = [r[2] for r in rows if r[0] == "u3"][0]
    files, dels = t.stage_data_and_delete_files(
        _tagged(spark, [("u3", 33, pid3, 99)], [("u3", pid3)]), epoch=1
    )
    t.commit(1, {pid3}, files, added_deletes=dels)
    pid7 = [r[2] for r in rows if r[0] == "u7"][0]
    files7, dels7 = t.stage_data_and_delete_files(
        _tagged(spark, deletes=[("u7", pid7)]), epoch=2
    )
    assert files7 == []
    t.commit(2, {pid7}, [], added_deletes=dels7)

    got = {r["url"]: r["val"] for r in t.lookup(["u3", "u7"]).collect()}
    assert got == {"u3": 33}
    old = {r["url"]: r["val"] for r in t.lookup(["u3", "u7"], version=v1).collect()}
    assert old == {"u3": 3, "u7": 7}

    # keys as a DataFrame work too
    kdf = spark.createDataFrame([("u0",), ("u3",)], "url string")
    got = {r["url"]: r["val"] for r in t.lookup(kdf).collect()}
    assert got == {"u0": 0, "u3": 33}
