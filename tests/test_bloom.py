"""Per-file key bloom filters: manifest build + MERGE rewrite pruning."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from datax_spark.icetable.table import IceTable
from datax_spark.operators.merge import apply_epoch

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


def _batch(spark, urls, lsn0, op="I"):
    return spark.createDataFrame(
        [(lsn0 + i, op, u, TS, b"<p>x</p>", "en") for i, u in enumerate(urls)], EV
    )


def test_blooms_written_and_self_consistent(spark, tmp_path):
    table = IceTable.create(spark, tmp_path / "t", PAGE_SCHEMA, num_partitions=2)
    urls = [f"https://a/{i}" for i in range(50)]
    apply_epoch(table, _batch(spark, urls, 1), 0)
    files = table.manifest_entries()
    assert files and all("bloom" in f for f in files)
    # no false negatives: every written url hits its own file's bloom
    keys = spark.createDataFrame([(u,) for u in urls], "url string")
    kept = table.bloom_prune(files, keys)
    assert {f["path"] for f in kept} == {f["path"] for f in files}


def test_bloom_prunes_untouched_files_in_merge(spark, tmp_path):
    """urls 'a/...' and 'c/...' sandwich 'b/...': the epoch-1 batch (all
    b-urls) falls INSIDE epoch-0 files' [min,max] envelopes, so envelope
    pruning keeps them — the bloom must prune them instead (b-urls were
    never written), leaving epoch-0 files intact in the manifest. An
    insert-only batch names no existing key, so the probe-skip rule
    (read_partitions' ``old_keys``) must leave its probe in place."""
    table = IceTable.create(spark, tmp_path / "t", PAGE_SCHEMA, num_partitions=1)
    e0 = [f"https://a/{i}" for i in range(30)] + [f"https://c/{i}" for i in range(30)]
    apply_epoch(table, _batch(spark, e0, 1), 0)
    files_v1 = {f["path"] for f in table.manifest_entries()}
    assert len(files_v1) == 1

    e1 = [f"https://b/{i}" for i in range(10)]  # inside [a, c] envelope
    stats = apply_epoch(table, _batch(spark, e1, 1000), 1)
    assert not stats.skipped
    files_v2 = {f["path"] for f in table.manifest_entries()}
    # the epoch-0 file survived (bloom-pruned out of the rewrite set)
    assert files_v1 <= files_v2
    assert len(files_v2) == 2
    # correctness: all 70 urls present exactly once
    got = [r["url"] for r in table.read().collect()]
    assert len(got) == len(set(got)) == 70


def test_bloom_sidecars_are_parquet_and_probe(spark, tmp_path):
    """Sidecars are parquet (probed JVM-side): every batch key hits, and
    a miss-only batch prunes every file."""
    table = IceTable.create(spark, tmp_path / "t", PAGE_SCHEMA, num_partitions=2)
    urls = [f"https://a/{i}" for i in range(50)]
    apply_epoch(table, _batch(spark, urls, 1), 0)
    files = table.manifest_entries()
    assert all(f["bloom"].endswith(".bloom.parquet") for f in files)

    keys = spark.createDataFrame([(u,) for u in urls], "url string")
    kept = table.bloom_prune(files, keys)
    # no false negatives: everything still hits
    assert {f["path"] for f in kept} == {f["path"] for f in files}
    # and a miss-only batch prunes every file
    misses = spark.createDataFrame([(f"https://zz/{i}",) for i in range(20)], "url string")
    assert table.bloom_prune(files, misses) == []


def test_sidecars_consolidated_per_staging_call(spark, tmp_path):
    """All data files of one staging call share ONE sidecar parquet (one
    row per file) — the probe's relation setup must be O(staging calls),
    not O(probed files) — and per-file lookups still resolve."""
    table = IceTable.create(spark, tmp_path / "t", PAGE_SCHEMA, num_partitions=4)
    urls = [f"https://a/{i}" for i in range(80)]
    apply_epoch(table, _batch(spark, urls, 1), 0)
    files = table.manifest_entries()
    assert len(files) == 4
    assert len({f["bloom"] for f in files}) == 1  # one shared sidecar
    # per-(sidecar, path) lookup returns each file's own row
    words = [_sidecar_words(table, f) for f in files]
    assert all(w is not None for w in words)
    assert len({tuple(sorted(w[1].items())) for w in words}) == 4


def test_shared_sidecar_survives_expire_until_last_reference_dies(spark, tmp_path):
    """Expiring a snapshot must NOT sweep a consolidated sidecar while
    any retained version still references it through a surviving file;
    once every referencing file is gone, it must be swept."""
    table = IceTable.create(spark, tmp_path / "t", PAGE_SCHEMA, num_partitions=2)
    # epoch 0 writes both pids' files, sharing one sidecar
    apply_epoch(table, _batch(spark, [f"https://a/{i}" for i in range(40)], 1), 0)
    files_v1 = table.manifest_entries()
    shared = {f["bloom"] for f in files_v1}
    assert len(shared) == 1
    (shared_rel,) = shared
    # rewrite ONE pid (CoW) → that pid's old file dies, the other pid's
    # file still references the shared sidecar
    pid0_urls = [f["min_url"] for f in files_v1 if f["partition_id"] == 0]
    apply_epoch(table, _batch(spark, pid0_urls, 1000, op="U"), 1, merge_strategy="cow")
    table.expire_snapshots(keep_last=1)
    assert (table.root / shared_rel).exists(), "live-referenced sidecar swept"
    # probing the surviving old file still works after expiry
    live_old = [f for f in table.manifest_entries() if f["bloom"] == shared_rel]
    assert live_old
    keys = spark.createDataFrame([(live_old[0]["min_url"],)], "url string")
    assert live_old[0]["path"] in {f["path"] for f in table.bloom_prune(live_old, keys)}
    # rewrite the OTHER pid too → no retained reference remains → swept
    pid1_urls = [f["min_url"] for f in files_v1 if f["partition_id"] == 1]
    apply_epoch(table, _batch(spark, pid1_urls, 2000, op="U"), 2, merge_strategy="cow")
    table.expire_snapshots(keep_last=1)
    assert not (table.root / shared_rel).exists()


def test_bloom_keeps_files_for_updates(spark, tmp_path):
    """An update to an existing url must still rewrite its file."""
    table = IceTable.create(spark, tmp_path / "t", PAGE_SCHEMA, num_partitions=1)
    apply_epoch(table, _batch(spark, ["https://a/1", "https://a/2"], 1), 0)
    old_files = {f["path"] for f in table.manifest_entries()}
    apply_epoch(table, _batch(spark, ["https://a/2"], 100, op="U"), 1)
    new_files = {f["path"] for f in table.manifest_entries()}
    assert old_files.isdisjoint(new_files)  # the touched file was rewritten
    rows = {r["url"]: r for r in table.read(with_lsn=True).collect()}
    assert rows["https://a/2"]["_lsn"] == 100
    assert len(rows) == 2


def test_update_heavy_mor_epoch_skips_the_probe(spark, tmp_path, monkeypatch):
    """Keys whose first batch op is U or D already exist: when a file's
    row share of them expects >= BLOOM_SURE_HITS true hits, the probe
    cannot prune it, so no bloom_prune runs — and the final state equals
    the one a probed apply reaches."""
    urls = [f"https://a/{i}" for i in range(60)]
    batch = [
        (1000 + i, "U", u, TS, f"<p>v{i}</p>".encode(), "en")
        for i, u in enumerate(urls[:20])
    ]
    batch += [(2000 + i, "D", u, TS, None, "en") for i, u in enumerate(urls[20:24])]
    calls = []
    prune = IceTable.bloom_prune

    def spy(self, files, keys_df):
        calls.append(len(files))
        return prune(self, files, keys_df)

    monkeypatch.setattr(IceTable, "bloom_prune", spy)
    states = {}
    sure_hits = getattr(IceTable, "BLOOM_SURE_HITS", 4)
    for name, sure_hits in (("skip", sure_hits), ("probe", 10**9)):
        monkeypatch.setattr(IceTable, "BLOOM_SURE_HITS", sure_hits, raising=False)
        table = IceTable.create(spark, tmp_path / name, PAGE_SCHEMA, num_partitions=2)
        apply_epoch(table, _batch(spark, urls, 1), 0)
        del calls[:]
        s = apply_epoch(table, spark.createDataFrame(batch, EV), 1, merge_strategy="mor")
        assert s.merge_mode == "mor"
        assert bool(calls) == (name == "probe"), (name, calls)
        states[name] = sorted((r["url"], r["text"]) for r in table.read().collect())
    assert states["skip"] == states["probe"]
    assert len(states["skip"]) == 56
    assert ("https://a/3", "v3") in states["skip"]


def _sidecar_words(table, entry):
    table._bloom_words_cache.clear()
    return table._load_sidecar_words(entry["bloom"], entry["path"])


def test_composed_bloom_equals_scan_bloom_without_deletes(spark, tmp_path):
    """A CoW update epoch composes the new file's bloom (old sidecars OR
    batch keys) instead of re-scanning the rewritten partition. With no
    deletes the composed bits must be EXACTLY the scan-built bits: the
    new file's key set is old ∪ batch and m is unchanged."""
    table = IceTable.create(spark, tmp_path / "t", PAGE_SCHEMA, num_partitions=1)
    apply_epoch(table, _batch(spark, [f"https://a/{i}" for i in range(40)], 1), 0)
    apply_epoch(
        table,
        _batch(spark, [f"https://a/{i}" for i in range(35, 45)], 1000, op="U"),
        1,
        merge_strategy="cow",
    )
    files = table.manifest_entries()
    assert len(files) == 1
    composed = _sidecar_words(table, files[0])
    # rebuild the same file's bloom through the scan path and compare
    rebuilt = dict(files[0])
    rebuilt.pop("bloom")
    table._attach_blooms([rebuilt])
    scanned = _sidecar_words(table, rebuilt)
    assert composed == scanned


def test_compose_falls_back_to_scan_when_m_grows(spark, tmp_path):
    """A partition crossing a bloom-size power-of-two can't OR the old
    sidecar (word positions are mod m) — that file must re-scan, and the
    result still has no false negatives."""
    table = IceTable.create(spark, tmp_path / "t", PAGE_SCHEMA, num_partitions=1)
    apply_epoch(table, _batch(spark, [f"https://a/{i:04d}" for i in range(50)], 1), 0)
    (old,) = table.manifest_entries()
    assert _sidecar_words(table, old)[0] == 1024
    # updates to every existing key force the old file into the rewrite
    # set; 2000 inserts push the merged file past the next power-of-two
    urls2 = [f"https://a/{i:04d}" for i in range(50)] + [
        f"https://b/{i:04d}" for i in range(2000)
    ]
    apply_epoch(table, _batch(spark, urls2, 1000), 1, merge_strategy="cow")
    (new,) = table.manifest_entries()
    m, _ = _sidecar_words(table, new)
    assert m == table._bloom_m_for_rows(new["rows"]) > 1024
    all_urls = urls2
    keys = spark.createDataFrame([(u,) for u in all_urls], "url string")
    kept = table.bloom_prune([new], keys)
    assert kept == [new]


def test_composed_bloom_conservative_across_mor_and_deletes(spark, tmp_path):
    """Across MoR epochs and deletes, composed blooms may keep dead bits
    but must never miss a live key (no false negatives anywhere)."""
    table = IceTable.create(spark, tmp_path / "t", PAGE_SCHEMA, num_partitions=2)
    base = [f"https://a/{i}" for i in range(60)]
    apply_epoch(table, _batch(spark, base, 1), 0)
    # sparse update → auto picks merge-on-read; new data file bloom is
    # composed from batch keys only
    s1 = apply_epoch(table, _batch(spark, base[:3], 1000, op="U"), 1)
    assert s1.merge_mode == "mor"
    s2 = apply_epoch(table, _batch(spark, base[3:6], 2000, op="D"), 2)
    live = {r["url"] for r in table.read().collect()}
    assert live == set(base) - set(base[3:6])
    files = table.manifest_entries()
    assert all(f.get("bloom") for f in files)
    # which files physically hold each key: one scan of every data file
    root = str(table.root) + "/"
    holding: dict[str, set[str]] = {}
    for r in (
        spark.read.parquet(*[str(table.root / f["path"]) for f in files])
        .select(F.input_file_name().alias("_f"), "url")
        .collect()
    ):
        holding.setdefault(r["url"], set()).add(r["_f"].split(root, 1)[1])
    for u in sorted(live):
        keys = table._local_df([(u,)], T.StructType([T.StructField("url", T.StringType())]))
        kept = {f["path"] for f in table.bloom_prune(files, keys)}
        assert holding[u] <= kept, f"bloom false negative for {u}"


def test_bloom_compose_job_joins_callers_job_group(spark, tmp_path):
    """The bloom-compose job runs on a helper thread while the epoch's
    data write runs; it must still carry the caller's job group (and
    description, pool), or ``cancelJobGroup`` on an epoch misses it.
    The compose job is found by its call site: a line of
    ``_begin_bloom_compose`` or ``_bloom_words_for_keys``."""
    import inspect

    table = IceTable.create(spark, tmp_path / "t", PAGE_SCHEMA, num_partitions=2)
    urls = [f"https://a/{i}" for i in range(200)]
    apply_epoch(table, _batch(spark, urls, 1), 0)

    sites = set()
    for fn in (IceTable._begin_bloom_compose, IceTable._bloom_words_for_keys):
        path = inspect.getsourcefile(fn)
        src, first = inspect.getsourcelines(fn)
        sites |= {f"{path}:{n}" for n in range(first, first + len(src))}

    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def compose_jobs(ids) -> set[int]:
        out = set()
        for j in ids:
            info = tracker.getJobInfo(j)
            stages = [tracker.getStageInfo(s) for s in (info.stageIds if info else [])]
            if any(s and any(s.name.endswith(site) for site in sites) for s in stages):
                out.add(j)
        return out

    ungrouped_before = set(tracker.getJobIdsForGroup(None))
    group = f"compose-{tmp_path.name}"
    sc.setJobGroup(group, "bloom compose inherits the job group")
    try:
        s = apply_epoch(table, _batch(spark, urls[:3], 10_000, op="U"), 1)
    finally:
        sc._jsc.sc().clearJobGroup()
    assert s.merge_mode == "mor"
    in_group = compose_jobs(tracker.getJobIdsForGroup(group))
    leaked = compose_jobs(set(tracker.getJobIdsForGroup(None)) - ungrouped_before)
    assert in_group and not leaked, (in_group, leaked)
