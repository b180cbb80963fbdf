"""Debezium change-event envelope adapter (SURVEY.md §2.1 S11 bridge).

Debezium is the de-facto PUBLIC CDC wire format — the MySQL-binlog /
Postgres-WAL / SQL Server / Oracle connectors DataX's S1-S4 readers
poll are exactly the systems Debezium tails, and a Kafka topic of its
envelopes is how a real cluster would feed this engine. This module is
the bridge in both directions:

* ``parse_debezium``   — envelope JSON strings → canonical change-event
  batches ``(lsn, op ∈ {I,U,D}, key, *payload)``, the schema every
  downstream stage (quarantine → LWW → ``apply_epoch`` MERGE)
  already consumes. A Kafka source on a real cluster plugs in as
  ``kafka_df.select(col("value").cast("string"))`` → this parse → the
  same exactly-once sink (cluster.py wires the endpoints).
* ``to_debezium``      — canonical events → envelope JSON strings, so
  the table's own change feed (``IceTable.read_changes`` renamed to
  op/lsn) exports as a standard Debezium stream any third-party
  consumer understands (lake → Kafka CDC egress).

Envelope shape (public format, debezium.io docs):

    {"payload": {"before": {...}|null, "after": {...}|null,
                 "source": {"lsn": <long>, ...},
                 "op": "c"|"u"|"d"|"r", "ts_ms": <long>}}

Wire-type conventions follow Debezium's JSON converter: binary columns
travel base64-encoded (``bytes`` → RFC4648 string), timestamps as
``io.debezium.time.MicroTimestamp`` (epoch microseconds, int64). The
converters here are ``base64``/``unbase64`` and ``unix_micros``/
``timestamp_micros`` — all JVM codegen.

Scale shape: both directions are per-row projections (from_json /
to_json inside whole-stage codegen) — no UDF, no shuffle, no state;
they fuse into whatever scan feeds them. Malformed JSON, missing
payloads and unknown ops parse to null fields, which is precisely what
``operators/quarantine.dirty_predicate`` routes to the dead-letter
path — one bad envelope can never kill an epoch. Kafka tombstones
(null value after a delete) are compaction infrastructure, not data,
and are dropped before the parse.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

def wire_schema(row_schema: T.StructType) -> T.StructType:
    """The ``before``/``after`` struct schema as it appears ON THE WIRE:
    binary columns become base64 strings, timestamps become int64
    epoch-microseconds (Debezium's MicroTimestamp). Everything else is
    carried as-is."""
    fields = []
    for f in row_schema.fields:
        if isinstance(f.dataType, T.BinaryType):
            fields.append(T.StructField(f.name, T.StringType(), True))
        elif isinstance(f.dataType, T.TimestampType):
            fields.append(T.StructField(f.name, T.LongType(), True))
        else:
            fields.append(T.StructField(f.name, f.dataType, True))
    return T.StructType(fields)


def envelope_schema(row_schema: T.StructType, lsn_field: str = "lsn") -> T.StructType:
    """Full envelope schema for ``from_json`` — payload.before/after in
    wire types plus the source block carrying the LSN."""
    row = wire_schema(row_schema)
    return T.StructType(
        [
            T.StructField(
                "payload",
                T.StructType(
                    [
                        T.StructField("before", row, True),
                        T.StructField("after", row, True),
                        T.StructField(
                            "source",
                            T.StructType(
                                [T.StructField(lsn_field, T.LongType(), True)]
                            ),
                            True,
                        ),
                        T.StructField("op", T.StringType(), True),
                        T.StructField("ts_ms", T.LongType(), True),
                    ]
                ),
                True,
            )
        ]
    )


def _from_wire(field: T.StructField, src: Column) -> Column:
    """Wire value → canonical column (inverse of :func:`_to_wire`)."""
    c = src.getField(field.name)
    if isinstance(field.dataType, T.BinaryType):
        return F.unbase64(c).alias(field.name)
    if isinstance(field.dataType, T.TimestampType):
        return F.timestamp_micros(c).alias(field.name)
    return c.alias(field.name)


def _to_wire(field: T.StructField, col: Column) -> Column:
    if isinstance(field.dataType, T.BinaryType):
        return F.base64(col).alias(field.name)
    if isinstance(field.dataType, (T.TimestampType, T.TimestampNTZType)):
        # a zone-less timestamp (what spark infers for a parquet
        # timestamp without UTC adjustment) would otherwise go out as an
        # ISO string the parser reads back as null
        return F.unix_micros(col.cast("timestamp")).alias(field.name)
    return col.alias(field.name)


def parse_debezium(
    df: DataFrame,
    row_schema: T.StructType,
    *,
    value_col: str = "value",
    lsn_field: str = "lsn",
    drop_tombstones: bool = True,
) -> DataFrame:
    """Envelope JSON strings → canonical event batch.

    Output columns: ``lsn`` (from ``payload.source.<lsn_field>``),
    ``op`` (c/r → I, u → U, d → D; anything else null), then
    ``row_schema``'s columns — taken from ``before`` for deletes (a
    Debezium ``d`` carries only the pre-image) and ``after`` otherwise.

    Unparseable JSON / missing payload / unknown op yield null
    lsn/op/key — the quarantine predicate's exact dirty shape — so the
    dead-letter path sees the bad envelope with every salvageable
    field intact."""
    env = F.from_json(F.col(value_col), envelope_schema(row_schema, lsn_field))
    if drop_tombstones:
        df = df.filter(F.col(value_col).isNotNull())
    p = env.getField("payload")
    op_raw = p.getField("op")
    op = (
        F.when(op_raw.isin("c", "r"), F.lit("I"))
        .when(op_raw == "u", F.lit("U"))
        .when(op_raw == "d", F.lit("D"))
        .otherwise(F.lit(None).cast("string"))
    )
    row = F.when(op_raw == "d", p.getField("before")).otherwise(p.getField("after"))
    cols = [
        p.getField("source").getField(lsn_field).alias("lsn"),
        op.alias("op"),
        *[_from_wire(f, row) for f in row_schema.fields],
    ]
    return df.select(*cols)


def to_debezium(
    events: DataFrame,
    *,
    lsn_col: str = "lsn",
    op_col: str = "op",
    lsn_field: str = "lsn",
    value_col: str = "value",
) -> DataFrame:
    """Canonical event batch → one-column DataFrame of envelope JSON
    strings (``value_col``), the shape a Kafka producer sink writes.

    I/U rows carry the post-image in ``after``; D rows carry the
    pre-image in ``before`` (Debezium's contract — a delete has no
    after-state). ``ts_ms`` is derived from the event LSN so the
    output is deterministic and replay-stable (a wall clock here would
    break bit-for-bit replay). Rows whose op is outside {I,U,D} emit
    an envelope with a null op — the round trip preserves their
    dirtiness instead of silently laundering them."""
    payload_fields = [
        f for f in events.schema.fields if f.name not in (lsn_col, op_col)
    ]
    row = F.struct(*[_to_wire(f, F.col(f.name)) for f in payload_fields])
    op_raw = F.col(op_col)
    dbz_op = (
        F.when(op_raw == "I", F.lit("c"))
        .when(op_raw == "U", F.lit("u"))
        .when(op_raw == "D", F.lit("d"))
        .otherwise(F.lit(None).cast("string"))
    )
    envelope = F.struct(
        F.struct(
            F.when(op_raw == "D", row).alias("before"),
            F.when(op_raw != "D", row).alias("after"),
            F.struct(F.col(lsn_col).cast("long").alias(lsn_field)).alias("source"),
            dbz_op.alias("op"),
            F.col(lsn_col).cast("long").alias("ts_ms"),
        ).alias("payload")
    )
    return events.select(F.to_json(envelope).alias(value_col))
