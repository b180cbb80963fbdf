"""Changelog (change-data-feed) read: IceTable.read_changes.

Covers the I/U/D classification, pruning to changed partitions,
rewrite-only invisibility (compaction), merge-on-read deletes, schema
evolution (null post-images preserved), and the lake-to-lake chain —
the changelog of one table ingested as the change stream of another.
"""

from __future__ import annotations

from pyspark.sql import types as T

from datax_spark.icetable.table import IceTable
from datax_spark.operators.merge import apply_epoch

SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("val", T.LongType()),
    ]
)


def _mk(spark, path, P=4):
    return IceTable.create(spark, path, SCHEMA, num_partitions=P)


def _df(spark, rows, schema="url string, val long, _pid int, _lsn long"):
    return spark.createDataFrame(rows, schema)


def _stage_mor(t, spark, epoch, rows=(), deletes=()):
    """Stage one merge-on-read epoch: data rows ``(url, val, _pid,
    _lsn)`` tagged ``_dl = 0`` and equality-delete keys ``(url, _pid)``
    tagged ``_dl = 1``; returns (data entries, delete entries)."""
    return t.stage_data_and_delete_files(
        spark.createDataFrame(
            [(u, v, p, l, 0) for (u, v, p, l) in rows]
            + [(u, None, p, None, 1) for (u, p) in deletes],
            "url string, val long, _pid int, _lsn long, _dl int",
        ),
        epoch=epoch,
    )


def _changes(t, a, b=None):
    return {
        r["url"]: (r["_op"], r["val"], r["_lsn"])
        for r in t.read_changes(a, b).collect()
    }


def _build_iud_table(spark, path):
    """v1: a=1,b=2 · v2: a→99, +c · v3: −b (file drop)."""
    t = _mk(spark, path)
    f0 = t.stage_data_files(_df(spark, [("a", 1, 0, 10), ("b", 2, 1, 11)]), epoch=0)
    t.commit(0, {0, 1}, f0)
    pid0 = [f for f in f0 if f["partition_id"] == 0]
    f1 = t.stage_data_files(_df(spark, [("a", 99, 0, 20), ("c", 3, 2, 21)]), epoch=1)
    t.commit(1, {0, 2}, f1, removed=pid0)
    pid1 = [f for f in t.manifest_entries() if f["partition_id"] == 1]
    t.commit(2, {1}, [], removed=pid1)
    return t


def test_changelog_iud(spark, tmp_path):
    t = _build_iud_table(spark, tmp_path / "t")
    assert _changes(t, 1, 2) == {"a": ("U", 99, 20), "c": ("I", 3, 21)}
    assert _changes(t, 2, 3) == {"b": ("D", 2, 12)}  # pre-image, lsn+1
    assert _changes(t, 0, 3) == {"a": ("I", 99, 20), "c": ("I", 3, 21)}
    assert _changes(t, 1, 1) == {}
    # net view: b existed at v1 and is gone at v3 — one D, no I/U churn
    assert _changes(t, 1, 3) == {
        "a": ("U", 99, 20),
        "c": ("I", 3, 21),
        "b": ("D", 2, 12),
    }


def test_changelog_prunes_unchanged_partitions(spark, tmp_path, monkeypatch):
    t = _build_iud_table(spark, tmp_path / "t")
    seen: list[set] = []
    orig = IceTable.read_partitions

    def spy(self, pids, *a, **k):
        seen.append(set(pids))
        return orig(self, pids, *a, **k)

    monkeypatch.setattr(IceTable, "read_partitions", spy)
    t.read_changes(1, 2).collect()
    # v1→v2 touched pids 0 and 2 only; pid 1 (b) is never scanned
    assert seen and all(s == {0, 2} for s in seen)


def test_rewrite_only_commits_are_invisible(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    for e, rows in enumerate([[("a", 1, 0, 1)], [("x", 7, 0, 2)]]):
        t.commit(e, {0}, t.stage_data_files(_df(spark, rows), epoch=e))
    v = t.current_version()
    assert t.compact(min_files=2) == [0]
    assert t.read_changes(v).count() == 0
    # and the pre-compaction diff still reports the real change
    assert _changes(t, 1)["x"] == ("I", 7, 2)


def test_mor_delete_surfaces_as_D(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    f0 = t.stage_data_files(_df(spark, [("a", 1, 0, 1), ("b", 2, 0, 2)]), epoch=0)
    t.commit(0, {0}, f0)
    _, dels = _stage_mor(t, spark, 1, deletes=[("a", 0)])
    t.commit(1, {0}, [], added_deletes=dels)
    assert _changes(t, 1) == {"a": ("D", 1, 2)}  # pre-lsn 1 → feed lsn 2


def test_schema_evolution_null_postimage(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    f0 = t.stage_data_files(_df(spark, [("a", 1, 0, 1), ("b", 2, 1, 1)]), epoch=0)
    t.commit(0, {0, 1}, f0)
    evolved = T.StructType(SCHEMA.fields + [T.StructField("tag", T.StringType())])
    rows = _df(
        spark,
        [("a", 5, "x", 0, 9)],
        "url string, val long, tag string, _pid int, _lsn long",
    )
    pid0 = [f for f in f0 if f["partition_id"] == 0]
    t.commit(1, {0}, t.stage_data_files(rows, epoch=1), removed=pid0, new_schema=evolved)
    got = {r["url"]: r for r in t.read_changes(1).collect()}
    assert set(got) == {"a"}  # b: old row null-fills 'tag', compares equal
    assert (got["a"]["_op"], got["a"]["val"], got["a"]["tag"]) == ("U", 5, "x")
    # now an update that NULLs the evolved column: post-image must be null
    pid0b = [f for f in t.manifest_entries() if f["partition_id"] == 0]
    rows2 = _df(
        spark,
        [("a", 5, None, 0, 12)],
        "url string, val long, tag string, _pid int, _lsn long",
    )
    t.commit(2, {0}, t.stage_data_files(rows2, epoch=2), removed=pid0b)
    got2 = {r["url"]: r for r in t.read_changes(2).collect()}
    assert got2["a"]["tag"] is None and got2["a"]["_op"] == "U"


def test_lake_to_lake_chain(spark, tmp_path):
    """The changelog IS a change-event stream: renaming _op/_lsn yields a
    batch the MERGE sink applies directly, so a second table follows the
    first through inserts, updates, and deletes."""
    src = _build_iud_table(spark, tmp_path / "src")
    dst = _mk(spark, tmp_path / "dst")

    def sync(from_v: int, epoch: int) -> int:
        feed = (
            src.read_changes(from_v)
            .withColumnRenamed("_op", "op")
            .withColumnRenamed("_lsn", "lsn")
        )
        apply_epoch(dst, feed, epoch=epoch, extract=False)
        return src.current_version()

    v = sync(0, epoch=0)  # full bootstrap: state at v3 = {a:99, c:3}
    assert {r["url"]: r["val"] for r in dst.read().collect()} == {"a": 99, "c": 3}

    # more churn on the source: re-insert b, delete c
    src.commit(3, {1}, src.stage_data_files(_df(spark, [("b", 8, 1, 30)]), epoch=3))
    pid2 = [f for f in src.manifest_entries() if f["partition_id"] == 2]
    src.commit(4, {2}, [], removed=pid2)

    sync(v, epoch=1)  # incremental
    assert {r["url"]: r["val"] for r in dst.read().collect()} == {"a": 99, "b": 8}


def test_changes_cli(spark, tmp_path):
    """table_tool.py changes — the feed lands as parquet a downstream
    job spec can read (fresh interpreter, the ops CLI path)."""
    import subprocess
    import sys
    from pathlib import Path

    _build_iud_table(spark, tmp_path / "t")
    repo = Path(__file__).resolve().parents[1]
    out = subprocess.run(
        [sys.executable, str(repo / "tools" / "table_tool.py"),
         str(tmp_path / "t"), "changes", "0", "-", str(tmp_path / "feed")],
        capture_output=True, text=True, timeout=240, cwd=str(repo),
    )
    assert out.returncode == 0, out.stderr[-2000:]
    feed = {r["url"]: (r["op"], r["val"]) for r in
            spark.read.parquet(str(tmp_path / "feed")).collect()}
    assert feed == {"a": ("I", 99), "c": ("I", 3)}


def test_lake_to_lake_as_one_job_spec(spark, tmp_path):
    """The full sync is ONE DataX-style spec: icetable_changes reader →
    icetable_merge writer, re-runnable for incremental catch-up."""
    from datax_spark.jobspec import run_batch_job

    src = _build_iud_table(spark, tmp_path / "src")
    spec = {
        "reader": {"type": "icetable_changes", "path": str(tmp_path / "src")},
        "writer": {"type": "icetable_merge", "path": str(tmp_path / "dst"),
                   "numPartitions": 4},
    }
    run_batch_job(spark, spec)
    dst = IceTable.load(spark, tmp_path / "dst")
    assert {r["url"]: r["val"] for r in dst.read().collect()} == {"a": 99, "c": 3}

    synced_v = src.current_version()
    pid0 = [f for f in src.manifest_entries() if f["partition_id"] == 0]
    src.commit(3, {0}, [], removed=pid0)  # delete a
    spec["reader"]["fromVersion"] = synced_v
    run_batch_job(spark, spec)  # epoch auto-increments past the bootstrap
    dst2 = IceTable.load(spark, tmp_path / "dst")
    assert {r["url"]: r["val"] for r in dst2.read().collect()} == {"c": 3}


from hypothesis import HealthCheck, given
from hypothesis import settings as hsettings
from hypothesis import strategies as st

# an op sequence: each element commits one epoch of upserts (key→val)
# and/or MoR deletes; 'C' sprinkles a compaction (rewrite-only)
_KEYS = ["a", "b", "c", "d", "e"]
_OPS = st.lists(
    st.one_of(
        st.dictionaries(st.sampled_from(_KEYS), st.integers(0, 9),
                        min_size=1, max_size=3),   # upserts
        st.sets(st.sampled_from(_KEYS), min_size=1, max_size=2),  # deletes
        st.just("C"),
    ),
    min_size=2, max_size=6,
)


@hsettings(
    max_examples=20, deadline=None, derandomize=True,
    suppress_health_check=list(HealthCheck),
)
@given(ops=_OPS, data=st.data())
def test_read_changes_matches_model_diff(spark, tmp_path_factory, ops, data):
    """Differential: for ANY commit sequence (upserts, MoR deletes,
    compactions) and ANY version pair, read_changes == the diff of the
    pure-python model states. Upserts go through the REAL MoR staging
    path (stage_data_and_delete_files: the new rows plus equality-delete
    coverage of any older copies) — raw overlapping-key appends are now
    rejected at commit time (test_raw_overlapping_commit_rejected), so
    the one-live-row-per-key invariant holds at every version here.
    Derandomized: green means green, not a lucky draw."""
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("url", T.StringType()), T.StructField("val", T.LongType()),
    ])
    base = tmp_path_factory.mktemp("cdf_prop")
    t = IceTable.create(spark, base / "t", schema, num_partitions=2)
    model: dict[str, tuple[int, int]] = {}  # key -> (val, lsn)
    states = {0: {}}
    lsn = 0
    epoch = 0
    for op in ops:
        if op == "C":
            t.compact(min_files=2)
        elif isinstance(op, dict):
            lsn += 1
            rows = [(k, v, 0 if k < "c" else 1, lsn) for k, v in sorted(op.items())]
            files, dels = _stage_mor(
                t, spark, epoch, rows, [(k, 0 if k < "c" else 1) for k in sorted(op)]
            )
            t.commit(epoch, {r[2] for r in rows}, files, added_deletes=dels)
            for k, v in op.items():
                model[k] = (v, lsn)
            epoch += 1
        else:  # delete set
            present = [k for k in op if k in model]
            if not present:
                continue
            _, dels = _stage_mor(
                t, spark, epoch,
                deletes=[(k, 0 if k < "c" else 1) for k in sorted(present)],
            )
            t.commit(epoch, {0 if k < "c" else 1 for k in present}, [],
                     added_deletes=dels)
            for k in present:
                del model[k]
            epoch += 1
        states[t.current_version()] = dict(model)

    versions = sorted(states)
    a = data.draw(st.sampled_from(versions))
    b = data.draw(st.sampled_from([v for v in versions if v >= a]))
    got = {
        r["url"]: (r["_op"], r["val"]) for r in t.read_changes(a, b).collect()
    }
    sa, sb = states[a], states[b]
    want = {}
    for k in set(sa) | set(sb):
        if k not in sa:
            want[k] = ("I", sb[k][0])
        elif k not in sb:
            want[k] = ("D", sa[k][0])
        elif sa[k][0] != sb[k][0]:
            want[k] = ("U", sb[k][0])
    assert got == want, (a, b, sa, sb)


def test_raw_overlapping_commit_rejected(spark, tmp_path):
    """The one-live-row-per-key invariant is ENFORCED at commit time: a
    raw data-file append whose keys overlap a live file, with nothing
    removing or shadowing the old copies, raises instead of silently
    corrupting every read (the hole the property test's falsifier
    ops=[{'a':0},{'a':1},'C'] exposed)."""
    import pytest

    from datax_spark.icetable.table import TableInvariantError

    t = _mk(spark, tmp_path / "t")
    t.commit(0, {0}, t.stage_data_files(_df(spark, [("a", 1, 0, 1)]), epoch=0))
    f1 = t.stage_data_files(_df(spark, [("a", 2, 0, 2)]), epoch=1)
    with pytest.raises(TableInvariantError, match="'a'"):
        t.commit(1, {0}, f1)
    # a key-disjoint raw append to the same partition stays legal
    t.commit(2, {0}, t.stage_data_files(_df(spark, [("m", 3, 0, 3)]), epoch=2))
    assert {r["url"]: r["val"] for r in t.read().collect()} == {"a": 1, "m": 3}


def test_raw_append_after_mor_delete_is_legal(spark, tmp_path):
    """Re-inserting a key whose only copies are MoR-shadowed must pass
    the commit guard — the exact check runs against the LIVE (post-
    delete) state, not the physical rows."""
    t = _mk(spark, tmp_path / "t")
    t.commit(0, {0}, t.stage_data_files(_df(spark, [("a", 1, 0, 1)]), epoch=0))
    _, dels = _stage_mor(t, spark, 1, deletes=[("a", 0)])
    t.commit(1, {0}, [], added_deletes=dels)
    t.commit(2, {0}, t.stage_data_files(_df(spark, [("a", 9, 0, 5)]), epoch=2))
    assert {r["url"]: r["val"] for r in t.read().collect()} == {"a": 9}


def test_mor_upsert_upsert_compact_changes_empty(spark, tmp_path):
    """Regression for the round-2 falsifier: upsert a key twice (MoR
    path), compact — the compaction snapshot's changelog must be EMPTY
    and the table must hold exactly the last write, not a duplicate or
    a phantom stale-value update."""
    t = _mk(spark, tmp_path / "t")
    for e, v in enumerate([0, 1]):
        files, dels = _stage_mor(t, spark, e, [("a", v, 0, e + 1)], [("a", 0)])
        t.commit(e, {0}, files, added_deletes=dels)
    pre = t.current_version()
    assert t.compact(min_files=2) == [0]
    assert t.read_changes(pre).count() == 0
    assert [(r["url"], r["val"]) for r in t.read().collect()] == [("a", 1)]


def test_bootstrap_sync_after_v0_expired(spark, tmp_path):
    """First sync against an AGED source table: the cursor tag doesn't
    exist and snapshot expiry has deleted v0's metadata. read_changes(0)
    must still bootstrap — v0 (the freshly-created table) is empty by
    construction, so the diff is 'every live row is an insert' — and
    an expired NON-ZERO from_version must fail with a clear error, not
    a FileNotFoundError."""
    import pytest

    from datax_spark.jobspec import run_batch_job

    src = _build_iud_table(spark, tmp_path / "src")  # v3 = {a:99, c:3}
    src.expire_snapshots(keep_last=2)  # v0, v1 metadata gone
    assert not (src.meta_dir / "v0.metadata.json").exists()

    feed = {r["url"]: (r["_op"], r["val"]) for r in src.read_changes(0).collect()}
    assert feed == {"a": ("I", 99), "c": ("I", 3)}
    with pytest.raises(ValueError, match="expired"):
        src.read_changes(1).collect()

    # the whole flow as the tag-driven sync job spec (the crash path)
    run_batch_job(spark, {
        "reader": {"type": "icetable_changes", "path": str(tmp_path / "src"),
                   "sinceTag": "synced", "advanceTag": "synced"},
        "writer": {"type": "icetable_merge", "path": str(tmp_path / "dst"),
                   "numPartitions": 4},
    })
    dst = IceTable.load(spark, tmp_path / "dst")
    assert {r["url"]: r["val"] for r in dst.read().collect()} == {"a": 99, "c": 3}


def test_icetable_merge_rejects_missing_key_column(spark, tmp_path):
    """Auto-creating the target with a key column the feed doesn't have
    must fail immediately with the available columns named, not later
    inside apply_epoch with an opaque AnalysisException."""
    import pytest

    from datax_spark.jobspec import run_batch_job

    src_dir = tmp_path / "feed"
    spark.createDataFrame(
        [("k1", 5, "I", 1)], "page_key string, val long, op string, lsn long"
    ).write.parquet(str(src_dir))
    spec = {
        "reader": {"type": "parquet", "path": str(src_dir)},
        "writer": {"type": "icetable_merge", "path": str(tmp_path / "dst")},
    }
    with pytest.raises(ValueError, match="page_key"):
        run_batch_job(spark, spec)
    spec["writer"]["keyColumn"] = "page_key"
    run_batch_job(spark, spec)
    dst = IceTable.load(spark, tmp_path / "dst")
    assert {r["page_key"]: r["val"] for r in dst.read().collect()} == {"k1": 5}


def test_icetable_reader_with_tag(spark, tmp_path):
    """reader.type 'icetable': the lake table as a batch source, at the
    current snapshot or a named tag."""
    from datax_spark.jobspec import run_batch_job

    t = _build_iud_table(spark, tmp_path / "t")
    t.tag("before_delete", 2)
    now = run_batch_job(
        spark, {"reader": {"type": "icetable", "path": str(tmp_path / "t")}}
    )
    assert {r["url"] for r in now.collect()} == {"a", "c"}
    old = run_batch_job(
        spark,
        {"reader": {"type": "icetable", "path": str(tmp_path / "t"),
                    "version": "before_delete", "where": "val > 1"}},
    )
    assert {r["url"]: r["val"] for r in old.collect()} == {"a": 99, "b": 2, "c": 3}


def test_sync_cursor_tag(spark, tmp_path):
    """sinceTag/advanceTag: the sync position lives as a tag on the
    SOURCE table — bootstrap from 0 when the tag doesn't exist, pin the
    to-version before reading, move the tag only on success."""
    from datax_spark.jobspec import run_batch_job

    src = _build_iud_table(spark, tmp_path / "src")
    spec = {
        "reader": {"type": "icetable_changes", "path": str(tmp_path / "src"),
                   "sinceTag": "synced", "advanceTag": "synced"},
        "writer": {"type": "icetable_merge", "path": str(tmp_path / "dst"),
                   "numPartitions": 4},
    }
    run_batch_job(spark, spec)
    assert src.load(spark, tmp_path / "src").refs()["synced"] == 3  # pinned span end
    dst = IceTable.load(spark, tmp_path / "dst")
    assert {r["url"]: r["val"] for r in dst.read().collect()} == {"a": 99, "c": 3}

    # churn on the source, re-run the SAME spec: only the delta applies
    s = IceTable.load(spark, tmp_path / "src")
    s.commit(3, {1}, s.stage_data_files(_df(spark, [("b", 8, 1, 30)]), epoch=3))
    run_batch_job(spark, spec)
    s2 = IceTable.load(spark, tmp_path / "src")
    assert s2.refs()["synced"] == s2.current_version() - 1  # pre-tag-commit pin
    dst2 = IceTable.load(spark, tmp_path / "dst")
    assert {r["url"]: r["val"] for r in dst2.read().collect()} == {
        "a": 99, "b": 8, "c": 3,
    }

    # idle re-run: empty span, cursor moves forward, state unchanged
    run_batch_job(spark, spec)
    dst3 = IceTable.load(spark, tmp_path / "dst")
    assert {r["url"]: r["val"] for r in dst3.read().collect()} == {
        "a": 99, "b": 8, "c": 3,
    }


def test_icetable_merge_rejects_non_event_input(spark, tmp_path):
    import pytest

    from datax_spark.jobspec import run_batch_job

    src = tmp_path / "plain"
    spark.createDataFrame([(0, "x")], "doc_id long, text string").write.parquet(str(src))
    with pytest.raises(ValueError, match="icetable_diff_merge"):
        run_batch_job(spark, {
            "reader": {"type": "parquet", "path": str(src)},
            "writer": {"type": "icetable_merge", "path": str(tmp_path / "t")},
        })
