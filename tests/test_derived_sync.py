"""Derived-state maintenance inside the CDC loop: EpochDriver syncs
registered index artifacts from the table changelog on a cadence, and
snapshot expiry never outruns a derived cursor (which would force a
rebuild). The end state must equal a one-shot rebuild over the final
table — the whole point of the cursors is that cadence, restarts and
replays are freshness knobs, not correctness knobs."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import types as T

from datax_spark.datagen.generator import EventLogSpec, generate_event_log
from datax_spark.icetable.table import IceTable
from datax_spark.operators.text_index import Bm25Index
from datax_spark.operators.trigram_index import TrigramIndex
from datax_spark.streaming.driver import EpochDriver, Maintenance
from datax_spark.streaming.source import ChangeTailSource

SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("html", T.BinaryType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
    ]
)


def _probe_rows(idx, queries):
    return sorted(tuple(r) for r in idx.probe(queries, k=5).collect())


def test_driver_keeps_derived_indexes_at_table_state(spark, tmp_path):
    spec = EventLogSpec(
        n_events=1500, n_urls=300, n_domains=10, n_epochs=6,
        evolve_at_epoch=None, dirty_per_epoch=1, seed=11,
    )
    generate_event_log(tmp_path / "events", spec)
    table = IceTable.create(spark, tmp_path / "t", SCHEMA, num_partitions=4)

    # bootstrap the artifacts on the EMPTY table (version cursor at v0)
    bm25 = Bm25Index.build_from_table(
        table, tmp_path / "bm25", n_buckets=8, id_col="url"
    )
    tg = TrigramIndex.build_from_table(
        table, tmp_path / "tg", n_buckets=8, id_col="url"
    )
    drv = EpochDriver(
        spark,
        ChangeTailSource(spark, tmp_path / "events"),
        table,
        tmp_path / "ckpt",
        derived=[bm25, tg],
        derived_sync_every=2,
        expire_keep_last=2,
    )
    stats = drv.run()
    assert len(stats) == 6 and not any(s.skipped for s in stats)

    # cadence 2 on 6 epochs: the last sync ran at epoch 5 — cursors are
    # at most one maintenance window behind; a final explicit sync
    # (what a serving deploy would do) must succeed even though expiry
    # ran with keep_last=2, because expiry was extended to retain the
    # cursors
    bm25.sync(table)
    tg.sync(table)

    docs = table.read().select("url", "text")
    queries = spark.createDataFrame(
        [(0, "example heading paragraph"), (1, "lorem ipsum dolor")],
        "query_id long, query string",
    )
    want_bm25 = Bm25Index.build(
        docs, tmp_path / "want_bm25", n_buckets=8, id_col="url"
    )
    assert _probe_rows(bm25, queries) == _probe_rows(want_bm25, queries)
    assert bm25.meta["n_docs"] == docs.count()

    want_tg = TrigramIndex.build(
        docs, tmp_path / "want_tg", n_buckets=8, id_col="url"
    )
    pat = "the"  # 3-gram pattern, falls on the indexed path
    got = {r["doc_id"] for r in tg.search(docs, pat).collect()}
    want = {r["doc_id"] for r in want_tg.search(docs, pat).collect()}
    assert got == want

    # the cursor versions were retained through expiry at every tick:
    # re-syncing from the stored cursor (a no-op now) must not raise
    assert bm25.sync(table)["added"] == 0
    assert tg.sync(table)["added"] == 0


def test_agg_view_sync_in_driver(spark, tmp_path):
    """A maintained aggregate view registered as derived state: after
    the drive plus a final sync, it equals the fresh GROUP BY over the
    final table — and its cursor survived expiry."""
    from datax_spark.operators.incremental_view import AggViewSync, agg_view

    spec = EventLogSpec(
        n_events=1000, n_urls=200, n_domains=8, n_epochs=4,
        evolve_at_epoch=None, dirty_per_epoch=0, seed=5,
    )
    generate_event_log(tmp_path / "events", spec)
    table = IceTable.create(spark, tmp_path / "t", SCHEMA, num_partitions=4)
    view = AggViewSync(spark, tmp_path / "view", table, ["lang"])
    drv = EpochDriver(
        spark,
        ChangeTailSource(spark, tmp_path / "events"),
        table,
        tmp_path / "ckpt",
        derived=[view],
        derived_sync_every=2,
        expire_keep_last=2,
    )
    drv.run()
    view.sync(table)
    got = sorted(
        (r["lang"], r["n_rows"]) for r in view.read().collect()
    )
    want = sorted(
        (r["lang"], r["n_rows"])
        for r in agg_view(table.read(), ["lang"], []).collect()
    )
    assert got == want and len(got) > 0
    # re-load from disk: cursor persisted; no-op sync
    view2 = AggViewSync(spark, tmp_path / "view", table, ["lang"])
    assert view2.sync(table)["changed"] == 0


def test_agg_view_sync_crash_between_view_and_cursor(spark, tmp_path):
    """Crash window regression: a failure AFTER the new view parquet
    is staged but BEFORE the cursor commit must leave the artifact at
    the previous version, and the retry must produce exactly the fresh
    GROUP BY (the old two-rename swap advanced the view first, so the
    retry re-applied the span's deltas and double-counted n_rows)."""
    from datax_spark.operators.incremental_view import AggViewSync, agg_view

    spec = EventLogSpec(
        n_events=600, n_urls=120, n_domains=6, n_epochs=3,
        evolve_at_epoch=None, dirty_per_epoch=0, seed=11,
    )
    generate_event_log(tmp_path / "events", spec)
    table = IceTable.create(spark, tmp_path / "t", SCHEMA, num_partitions=4)
    drv = EpochDriver(
        spark, ChangeTailSource(spark, tmp_path / "events"), table,
        tmp_path / "ckpt",
    )
    drv.run(max_epochs=1)
    view = AggViewSync(spark, tmp_path / "view", table, ["lang"])
    view.sync(table)
    v1 = view.meta["source"]["version"]

    drv.run()  # remaining epochs → a multi-commit span to sync

    crashing = AggViewSync(spark, tmp_path / "view", table, ["lang"])
    real_commit = crashing._commit

    def boom():
        raise RuntimeError("injected crash before cursor commit")

    crashing._commit = boom
    try:
        crashing.sync(table)
    except RuntimeError:
        pass
    crashing._commit = real_commit

    # on-disk artifact still reads at the pre-crash version
    survivor = AggViewSync(spark, tmp_path / "view", table, ["lang"])
    assert survivor.meta["source"]["version"] == v1
    pre_crash = sorted(
        (r["lang"], r["n_rows"]) for r in survivor.read().collect()
    )
    assert len(pre_crash) > 0

    # retry: one clean redo of the span — equals the fresh recompute
    assert survivor.sync(table)["changed"] == 1
    got = sorted((r["lang"], r["n_rows"]) for r in survivor.read().collect())
    want = sorted(
        (r["lang"], r["n_rows"])
        for r in agg_view(table.read(), ["lang"], []).collect()
    )
    assert got == want
    # staged-but-unpublished dirs were GC'd; only the committed dir stays
    dirs = [p.name for p in (tmp_path / "view").iterdir() if p.is_dir()]
    assert dirs == [survivor.meta["view_dir"]]


def test_run_structured_derived_sync(spark, tmp_path):
    """The readStream/foreachBatch path shares the derived-state hook:
    after the availableNow drive plus a final sync, the registered
    index equals a one-shot rebuild over the final table."""
    from datax_spark.streaming.driver import run_structured

    spec = EventLogSpec(
        n_events=800, n_urls=150, n_domains=8, n_epochs=4,
        evolve_at_epoch=None, dirty_per_epoch=0, seed=3,
    )
    generate_event_log(tmp_path / "events", spec)
    table = IceTable.create(spark, tmp_path / "t", SCHEMA, num_partitions=4)
    bm25 = Bm25Index.build_from_table(
        table, tmp_path / "bm25", n_buckets=8, id_col="url"
    )
    run_structured(
        spark, tmp_path / "events", table, tmp_path / "ckpt",
        derived=[bm25], derived_sync_every=2,
    )
    bm25.sync(table)
    docs = table.read().select("url", "text")
    want = Bm25Index.build(
        docs, tmp_path / "want", n_buckets=8, id_col="url"
    )
    queries = spark.createDataFrame(
        [(0, "example heading paragraph")], "query_id long, query string"
    )
    assert _probe_rows(bm25, queries) == _probe_rows(want, queries)
    assert bm25.meta["n_docs"] == docs.count()


def test_driver_auto_resolves_registered_artifacts(spark, tmp_path):
    """derived='auto': the driver resolves the table's REGISTERED
    artifacts at each maintenance tick — a registration made before
    ingest is maintained without being passed to the constructor."""
    from datax_spark.operators import derived

    spec = EventLogSpec(
        n_events=600, n_urls=120, n_domains=6, n_epochs=3,
        evolve_at_epoch=None, dirty_per_epoch=0, seed=9,
    )
    generate_event_log(tmp_path / "events", spec)
    table = IceTable.create(spark, tmp_path / "t", SCHEMA, num_partitions=4)
    Bm25Index.build_from_table(table, tmp_path / "bm25", n_buckets=8,
                               id_col="url")
    derived.register(table, "bm25", tmp_path / "bm25")
    drv = EpochDriver(
        spark,
        ChangeTailSource(spark, tmp_path / "events"),
        table,
        tmp_path / "ckpt",
        derived="auto",
        derived_sync_every=1,
    )
    drv.run()
    idx = Bm25Index(spark, tmp_path / "bm25")
    assert idx.meta["n_docs"] == table.read().count() > 0
    assert idx.meta["source"]["version"] == table.current_version()


def test_ttl_retention_deletes_expired_rows(spark, tmp_path):
    """Data-retention TTL: rows older than maxAge behind the table's
    data high-water mark are deleted through the exactly-once merge —
    cutoff from DATA time (replay-deterministic), manifest-stats
    fast path decides "nothing expired" without any scan job, and the
    deletes are ordinary changelog-visible D events."""
    import datetime as dt

    from pyspark.sql import functions as F

    table = IceTable.create(spark, tmp_path / "t", SCHEMA, num_partitions=2)
    t0 = dt.datetime(2026, 1, 1)

    def _ev(url, ts, lsn):
        return (url, ts, b"<p>x</p>", None, "en", "I", lsn)

    ev_schema = (
        "url string, warc_ts timestamp, html binary, text string, "
        "lang string, op string, lsn long"
    )
    from datax_spark.operators.merge import apply_epoch

    apply_epoch(
        table,
        spark.createDataFrame(
            [_ev("u-old1", t0, 1), _ev("u-old2", t0 + dt.timedelta(days=1), 2),
             _ev("u-new1", t0 + dt.timedelta(days=40), 3),
             _ev("u-new2", t0 + dt.timedelta(days=41), 4)],
            ev_schema,
        ),
        epoch=0,
    )
    maint = Maintenance(
        table, ttl={"column": "warc_ts", "maxAgeSeconds": 30 * 86400, "every": 1}
    )
    maint.tick(0)
    left = {r["url"] for r in table.read().collect()}
    assert left == {"u-new1", "u-new2"}
    # changelog-visible: the expiry is ordinary D events
    ch = table.read_changes(table.current_version() - 1)
    assert {(r["url"], r["_op"]) for r in ch.collect()} == {
        ("u-old1", "D"), ("u-old2", "D"),
    }
    # second tick: manifest stats say nothing expires — version stable
    v = table.current_version()
    maint.tick(0)
    assert table.current_version() == v


def test_ttl_retention_date_column(spark, tmp_path):
    """TTL over a DATE column: manifest stats are ordinal DAYS, so the
    age must be applied in days (the old code subtracted raw seconds —
    the stats path never expired anything and the scan path computed
    date - int). Both the stats fast path and the no-op tick must work."""
    import datetime as dt

    from pyspark.sql import types as T

    from datax_spark.operators.merge import apply_epoch

    schema = T.StructType([
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("seen_on", T.DateType()),
    ])
    table = IceTable.create(spark, tmp_path / "t", schema, num_partitions=2)
    t0 = dt.datetime(2026, 1, 1)
    d0 = dt.date(2026, 1, 1)
    rows = [
        ("u-old1", t0, d0, "I", 1),
        ("u-old2", t0, d0 + dt.timedelta(days=1), "I", 2),
        ("u-new1", t0, d0 + dt.timedelta(days=40), "I", 3),
        ("u-new2", t0, d0 + dt.timedelta(days=41), "I", 4),
    ]
    apply_epoch(
        table,
        spark.createDataFrame(
            rows,
            "url string, warc_ts timestamp, seen_on date, "
            "op string, lsn long",
        ),
        epoch=0,
    )
    maint = Maintenance(
        table, ttl={"column": "seen_on", "maxAgeSeconds": 30 * 86400, "every": 1}
    )
    maint.tick(0)
    left = {r["url"] for r in table.read().collect()}
    assert left == {"u-new1", "u-new2"}
    # second tick: stats fast path says nothing expires — version stable
    v = table.current_version()
    maint.tick(0)
    assert table.current_version() == v

    # sub-day TTL on a DATE column must CEIL to a whole day, never
    # floor: a floored 12h age would delete every row not bearing the
    # newest date — including rows minutes old. Retention may keep
    # longer than asked, never shorter.
    subday = Maintenance(
        table, ttl={"column": "seen_on", "maxAgeSeconds": 12 * 3600, "every": 1}
    )
    v = table.current_version()
    subday.tick(0)
    assert table.current_version() == v  # hi-1day >= cutoff: kept
    assert {r["url"] for r in table.read().collect()} == {"u-new1", "u-new2"}
