"""End-to-end epoch apply: engine final state == pure-python reference
fold, byte-identical extracted text, idempotent re-apply, quarantine."""

from __future__ import annotations

import pyarrow.parquet as pq
import pytest
from pyspark.sql import types as T

from datax_spark.datagen.generator import (
    EventLogSpec,
    generate_event_log,
    reference_apply,
)
from datax_spark.functions.extract import extract_text
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


def _events_from_shards(shards):
    rows = []
    for s in shards:
        tbl = pq.read_table(s)
        rows.extend(tbl.to_pylist())
    return rows


def _expected_state(shards):
    return reference_apply(_events_from_shards(shards))


def _assert_table_matches(table, expected, check_text=True):
    got = {r["url"]: r.asDict() for r in table.read().collect()}
    assert set(got) == set(expected)
    for url, exp in expected.items():
        row = got[url]
        assert row["warc_ts"] == exp["warc_ts"], url
        assert row["html"] == exp["html"], url
        assert row["lang"] == exp["lang"], url
        if check_text:
            assert row["text"] == extract_text(exp["html"]), url
        if "title" in row:
            assert row["title"] == exp.get("title"), url


@pytest.fixture()
def small_log(tmp_path):
    spec = EventLogSpec(n_events=600, n_urls=80, n_domains=8, n_epochs=3, seed=7)
    shards = generate_event_log(tmp_path / "events", spec)
    return shards


def test_apply_epochs_match_reference_fold(spark, tmp_path, small_log):
    table = IceTable.create(spark, tmp_path / "t", PAGE_SCHEMA, num_partitions=4)
    for e, shard in enumerate(small_log):
        df = spark.read.parquet(shard).drop("title")
        stats = apply_epoch(table, df, e, start_offset=e, end_offset=e + 1)
        assert not stats.skipped
        assert stats.rows_in > 0
    expected = _expected_state(small_log)
    _assert_table_matches(table, expected)


def test_idempotent_reapply(spark, tmp_path, small_log):
    table = IceTable.create(spark, tmp_path / "t", PAGE_SCHEMA, num_partitions=4)
    for e, shard in enumerate(small_log):
        apply_epoch(table, spark.read.parquet(shard).drop("title"), e)
    v_before = table.current_version()
    # replay epoch 1: must be a complete no-op
    stats = apply_epoch(table, spark.read.parquet(small_log[1]).drop("title"), 1)
    assert stats.skipped
    assert table.current_version() == v_before
    _assert_table_matches(table, _expected_state(small_log))


def test_late_lsn_guard_cross_epoch(spark, tmp_path):
    """An event with lsn below the applied value must be a per-row no-op
    even in a NEW epoch (out-of-order duplicate delivery)."""
    table = IceTable.create(spark, tmp_path / "t", PAGE_SCHEMA, num_partitions=2)
    mk = lambda lsn, op, html: (lsn, op, "https://x/1", None, html, "en")  # noqa: E731
    schema = "lsn long, op string, url string, warc_ts timestamp, html binary, lang string"
    apply_epoch(table, spark.createDataFrame([mk(5, "I", b"<p>new</p>")], schema), 0)
    apply_epoch(table, spark.createDataFrame([mk(3, "U", b"<p>stale</p>")], schema), 1)
    rows = table.read().collect()
    assert len(rows) == 1 and rows[0]["html"] == b"<p>new</p>"


def test_quarantine_counts(spark, tmp_path):
    spec = EventLogSpec(n_events=200, n_urls=40, n_domains=5, n_epochs=2, seed=3, dirty_per_epoch=6)
    shards = generate_event_log(tmp_path / "ev", spec)
    table = IceTable.create(spark, tmp_path / "t", PAGE_SCHEMA, num_partitions=4)
    total_dirty = 0
    for e, shard in enumerate(shards):
        stats = apply_epoch(table, spark.read.parquet(shard).drop("title"), e)
        total_dirty += stats.rows_dirty
    assert total_dirty == 12
    _assert_table_matches(table, _expected_state(shards))
    lineage = table.read_lineage().collect()
    assert all(lr["rows_dirty"] >= 0 for lr in lineage)
    assert {lr["checkpoint_epoch"] for lr in lineage} == {0, 1}
    # rows_dirty is per-pid: summing across an epoch's lineage rows must
    # equal the injected dirty count exactly once (no ×partitions blowup)
    assert sum(lr["rows_dirty"] for lr in lineage) == 12
    # dirty events are ROUTED to the quarantine area, never applied (P5)
    q = table.read_quarantine()
    assert q is not None and q.count() == 12
    # replaying an epoch does not duplicate quarantine rows
    apply_epoch(table, spark.read.parquet(shards[0]).drop("title"), 0)
    assert table.read_quarantine().count() == 12


def test_deletes_remove_rows(spark, tmp_path):
    schema = "lsn long, op string, url string, warc_ts timestamp, html binary, lang string"
    table = IceTable.create(spark, tmp_path / "t", PAGE_SCHEMA, num_partitions=2)
    apply_epoch(
        table,
        spark.createDataFrame(
            [
                (1, "I", "https://a/1", None, b"<p>a</p>", "en"),
                (2, "I", "https://b/2", None, b"<p>b</p>", "en"),
            ],
            schema,
        ),
        0,
    )
    apply_epoch(
        table,
        spark.createDataFrame([(3, "D", "https://a/1", None, None, "en")], schema),
        1,
    )
    rows = table.read().collect()
    assert [r["url"] for r in rows] == ["https://b/2"]


def test_hot_key_resolves_to_last_write(spark, tmp_path):
    """A batch dominated by one hot url (200 events on one key) resolves
    through the one Window-over-LSN plan to the pure fold's answer: the
    hot key keeps its max-lsn version, the cold keys are untouched."""
    import datetime as dt

    table = IceTable.create(spark, tmp_path / "t", PAGE_SCHEMA, num_partitions=4)
    ts = dt.datetime(2026, 1, 1)
    hot = [(i, "I" if i == 1 else "U", "https://hot/1", ts, f"<p>v{i}</p>".encode(), "en")
           for i in range(1, 201)]
    cold = [(1000 + i, "I", f"https://cold/{i}", ts, b"<p>c</p>", "en") for i in range(3)]
    batch = spark.createDataFrame(
        hot + cold,
        "lsn long, op string, url string, warc_ts timestamp, html binary, lang string",
    )
    apply_epoch(table, batch, 0)
    rows = {r["url"]: r for r in table.read().collect()}
    assert bytes(rows["https://hot/1"]["html"]) == b"<p>v200</p>"
    assert len(rows) == 4


def test_extraction_evolves_missing_text_column(spark, tmp_path):
    """A table created WITHOUT a text column still receives extracted
    text via additive schema evolution (the extraction output is treated
    exactly like a batch-borne new column)."""
    no_text = T.StructType([f for f in PAGE_SCHEMA.fields if f.name != "text"])
    table = IceTable.create(spark, tmp_path / "t", no_text, num_partitions=2)
    schema = "lsn long, op string, url string, warc_ts timestamp, html binary, lang string"
    df = spark.createDataFrame(
        [(1, "I", "https://x/1", None, b"<html><body><p>hello world</p></body></html>", "en")],
        schema,
    )
    stats = apply_epoch(table, df, 0)
    assert stats.evolved_columns == ["text"]
    row = table.read().collect()[0]
    assert row["text"] == extract_text(row["html"])
