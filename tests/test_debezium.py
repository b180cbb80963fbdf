"""Debezium envelope adapter (sources/debezium.py): wire-format round
trip, tombstone handling, dirty preservation, and end-to-end parity —
envelope-fed ingest must reach the exact state the direct parquet-tail
path reaches (same apply_epoch, different wire)."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from datax_spark.datagen.generator import EventLogSpec, generate_event_log
from datax_spark.sources.debezium import parse_debezium, to_debezium, wire_schema

ROW_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("html", T.BinaryType()),
        T.StructField("lang", T.StringType()),
        T.StructField("title", T.StringType()),
    ]
)


@pytest.fixture(scope="module")
def event_log(tmp_path_factory):
    out = tmp_path_factory.mktemp("dbz-events")
    generate_event_log(
        out,
        EventLogSpec(
            n_events=600,
            n_epochs=3,
            n_urls=80,
            n_domains=8,
            dirty_per_epoch=3,
            evolve_at_epoch=2,
            seed=7,
        ),
    )
    return out


def _read_events(spark, event_log):
    df = (
        spark.read.option("mergeSchema", "true")
        .parquet(str(event_log / "events-e*.parquet"))
    )
    if "title" not in df.columns:
        df = df.withColumn("title", F.lit(None).cast("string"))
    df = df.withColumn("warc_ts", F.col("warc_ts").cast("timestamp"))
    return df.select("lsn", "op", *[f.name for f in ROW_SCHEMA.fields])


def test_roundtrip_identity(spark, event_log):
    """parse(to_debezium(events)) == events for every clean row, bit for
    bit — including binary html and microsecond timestamps — and dirty
    rows stay dirty (nothing is laundered clean by the wire)."""
    ev = _read_events(spark, event_log)
    back = parse_debezium(to_debezium(ev), ROW_SCHEMA)
    assert [(f.name, f.dataType) for f in back.schema.fields] == [
        (f.name, f.dataType) for f in ev.schema.fields
    ]  # nullability may differ: parquet marks generated cols non-null

    def key(r):
        return (r["lsn"] if r["lsn"] is not None else -(10**9), r["url"] or "")

    orig = sorted(ev.collect(), key=key)
    rt = sorted(back.collect(), key=key)
    clean_ops = {"I", "U", "D"}
    for a, b in zip(orig, rt):
        if a["op"] in clean_ops:
            assert a == b
        else:
            # op X → wire null op → parsed null op: still quarantine-bound
            assert b["op"] is None
    assert len(orig) == len(rt)


def test_delete_carries_preimage_only(spark):
    ev = spark.createDataFrame(
        [(5, "D", "https://a/x", None, None, "en", None)],
        "lsn long, op string, url string, warc_ts timestamp, "
        "html binary, lang string, title string",
    )
    raw = to_debezium(ev).collect()[0]["value"]
    env = json.loads(raw)["payload"]
    assert env["op"] == "d"
    assert "after" not in env or env["after"] is None
    assert env["before"]["url"] == "https://a/x"
    back = parse_debezium(to_debezium(ev), ROW_SCHEMA).collect()[0]
    assert (back["lsn"], back["op"], back["url"]) == (5, "D", "https://a/x")


def test_tombstones_and_garbage(spark):
    rows = [
        (None,),  # Kafka tombstone: dropped
        ("{not json",),  # malformed: null fields → dirty
        ('{"payload": null}',),  # missing payload → dirty
        ('{"payload": {"op": "zzz", "after": {"url": "u"}}}',),  # unknown op
    ]
    df = spark.createDataFrame(rows, "value string")
    out = parse_debezium(df, ROW_SCHEMA).collect()
    assert len(out) == 3  # tombstone gone
    assert all(r["op"] is None for r in out)
    # the unknown-op row still surfaces its salvageable key... from AFTER
    # only when op is known; unknown op → row source unknown → null url
    from datax_spark.operators.quarantine import dirty_predicate

    flagged = (
        parse_debezium(df, ROW_SCHEMA).filter(dirty_predicate("url")).count()
    )
    assert flagged == 3


def test_wire_types():
    w = wire_schema(ROW_SCHEMA)
    assert w["html"].dataType == T.StringType()  # base64 on the wire
    assert w["warc_ts"].dataType == T.LongType()  # MicroTimestamp
    assert w["url"].dataType == T.StringType()


def test_readstream_wire_ingest(spark, event_log, tmp_path):
    """Real Structured Streaming over the wire: envelope JSON lines
    tailed by readStream.text → parse_debezium → foreachBatch
    apply_epoch (availableNow to completion), then a checkpoint-resume
    no-op. Final state matches the pure-python fold — the Kafka path
    minus the broker."""
    import pyarrow.parquet as pq_

    from datax_spark.datagen.generator import reference_apply
    from datax_spark.icetable.table import IceTable
    from datax_spark.streaming.driver import run_structured

    import os
    import shutil

    ev = _read_events(spark, event_log)
    # the wire must preserve the log's per-key LSN order ACROSS batches
    # (a Kafka topic key-partitioned by url guarantees exactly this),
    # so shard by LSN range and order file mtimes: the file source
    # triggers one batch per file, oldest first
    half = ev.agg(F.max("lsn")).first()[0] // 2
    wire = tmp_path / "wire"
    wire.mkdir()
    for i, chunk in enumerate(
        (ev.filter(F.col("lsn") <= half), ev.filter(F.col("lsn") > half))
    ):
        part_dir = tmp_path / f"wirepart{i}"
        to_debezium(chunk).coalesce(1).write.text(str(part_dir))
        src = next(part_dir.glob("part-*.txt"))
        dst = wire / f"{i:04d}.txt"
        shutil.copy(src, dst)
        os.utime(dst, (1_700_000_000 + i * 60, 1_700_000_000 + i * 60))

    page_schema = T.StructType(
        [f for f in ROW_SCHEMA.fields if f.name != "title"]
    )
    table = IceTable.create(
        spark, tmp_path / "tbl",
        T.StructType(page_schema.fields + [T.StructField("title", T.StringType())]),
        num_partitions=4,
    )
    run_structured(spark, wire, table, tmp_path / "ckpt", row_schema=ROW_SCHEMA)

    events = []
    for p in sorted(event_log.glob("events-e*.parquet")):
        events.extend(pq_.read_table(p).to_pylist())
    expect = reference_apply(events)
    got = {r["url"]: r for r in table.read().collect()}
    assert set(got) == set(expect)
    for url, e in expect.items():
        assert got[url]["lang"] == e["lang"]
        assert got[url]["title"] == e.get("title")

    # checkpoint resume over the same file set: no new snapshot
    v = table.current_version()
    run_structured(spark, wire, table, tmp_path / "ckpt", row_schema=ROW_SCHEMA)
    assert table.current_version() == v


def test_lake_to_wire_to_lake_sync(spark, tmp_path):
    """CDC egress + ingress as TWO DataX-style job specs through the
    PUBLIC wire format: src table → changelog feed → Debezium JSON
    lines (writer.type debezium) → parse (reader.type debezium) →
    exactly-once MERGE into dst. Final dst state == src state, proving
    any third-party Debezium topic can sit between the two lakes."""
    from datax_spark.icetable.table import IceTable
    from datax_spark.jobspec import run_batch_job

    src_schema = T.StructType(
        [
            T.StructField("url", T.StringType()),
            T.StructField("val", T.LongType()),
        ]
    )
    src = IceTable.create(spark, tmp_path / "src", src_schema, num_partitions=4)
    f0 = src.stage_data_files(
        spark.createDataFrame(
            [("a", 1, 0, 10), ("b", 2, 1, 11)],
            "url string, val long, _pid int, _lsn long",
        ),
        epoch=0,
    )
    src.commit(0, {0, 1}, f0)
    pid0 = [f for f in f0 if f["partition_id"] == 0]
    f1 = src.stage_data_files(
        spark.createDataFrame(
            [("a", 99, 0, 20), ("c", 3, 2, 21)],
            "url string, val long, _pid int, _lsn long",
        ),
        epoch=1,
    )
    src.commit(1, {0, 2}, f1, removed=pid0)

    run_batch_job(
        spark,
        {
            "reader": {"type": "icetable_changes", "path": str(tmp_path / "src")},
            "writer": {"type": "debezium", "path": str(tmp_path / "wire")},
        },
    )
    # the wire really is Debezium JSON — spot-check one envelope
    line = spark.read.text(str(tmp_path / "wire")).first()["value"]
    assert '"payload"' in line and '"source"' in line

    run_batch_job(
        spark,
        {
            "reader": {
                "type": "debezium",
                "path": str(tmp_path / "wire"),
                "rowSchema": "url string, val long",
            },
            "writer": {
                "type": "icetable_merge",
                "path": str(tmp_path / "dst"),
                "numPartitions": 4,
            },
        },
    )
    dst = IceTable.load(spark, tmp_path / "dst")
    got = {r["url"]: r["val"] for r in dst.read().collect()}
    want = {r["url"]: r["val"] for r in src.read().collect()}
    assert got == want == {"a": 99, "b": 2, "c": 3}


def test_envelope_fed_ingest_matches_direct(spark, event_log, tmp_path):
    """E2E parity: the same event log ingested (a) directly and (b)
    through a Debezium wire round trip reaches the identical final
    table state — proving a Kafka-of-envelopes source composes with
    the exactly-once sink unchanged."""
    from datax_spark.icetable.table import IceTable
    from datax_spark.operators.merge import apply_epoch

    page_schema = T.StructType(
        [
            T.StructField("url", T.StringType()),
            T.StructField("warc_ts", T.TimestampType()),
            T.StructField("html", T.BinaryType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
        ]
    )
    ev = _read_events(spark, event_log)
    wired = parse_debezium(to_debezium(ev), ROW_SCHEMA)

    states = []
    for tag, batch in (("direct", ev), ("wired", wired)):
        tbl = IceTable.create(
            spark,
            tmp_path / f"tbl-{tag}",
            schema=page_schema,
            key_column="url",
            num_partitions=4,
        )
        apply_epoch(tbl, batch, epoch=1)
        states.append(
            sorted(
                tbl.read().select("url", "lang", "title", "text").collect(),
                key=lambda r: r["url"],
            )
        )
    assert states[0] == states[1]
