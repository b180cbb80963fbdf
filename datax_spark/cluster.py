"""Real-cluster adapters: Kafka change-tail source and Iceberg MERGE sink.

The sandbox has no Kafka broker and no iceberg-spark-runtime jar, so
these adapters follow the same contract as the jdbc reader
(jobspec.JdbcReaderPlan): COMPILATION is complete and offline-tested —
the option maps, session confs, and SQL text are the artifact — while
``load``/``apply`` execute only on a cluster with the relevant packages
on the classpath. Everything between source and sink (dirty split, LWW,
extraction, lineage) is engine code that does not change: on a real
cluster the swap is

    ChangeTailSource  →  KafkaSourcePlan.load(spark)   (readStream)
    IceTable MERGE    →  IcebergMergePlan.apply(...)    (foreachBatch)

and ``streaming.driver.run_structured`` already drives apply_epoch from
``foreachBatch`` over a file tail (event parquet, or Debezium envelope
lines given a row schema), so only the two endpoints differ.

Parity notes (tbs005/DataX, reference README.md:2 — the platform's
reader/writer plugin model): a DataX job names a reader and a writer in
one JSON document; ``compile_kafka_reader`` / ``compile_iceberg_writer``
accept that vocabulary and return these plans.

Exactly-once on a real cluster is layered exactly like the native sink:

1. Structured Streaming's checkpoint (offset log + commit log) scopes
   each epoch's input — identical to EpochDriver's offsets/commits.
2. The MERGE's lsn guard (``WHEN MATCHED AND b.lsn > t._lsn``) makes
   re-application of a replayed epoch a per-row no-op — the same
   cross-epoch guard merge.apply_epoch uses. A replayed batch can
   therefore never regress a row, even before any ledger check.
3. Iceberg's own snapshot isolation + atomic swap provides the atomic
   visibility the native sink gets from its CAS version-hint commit.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession


@dataclass
class IcebergCatalogConfig:
    """Session confs that register an Iceberg catalog. ``catalog_type``
    is hive | hadoop | rest; extra entries pass through verbatim
    (e.g. S3 endpoint settings)."""

    name: str = "lake"
    catalog_type: str = "hadoop"
    warehouse: str | None = None
    uri: str | None = None
    extra: dict[str, str] = field(default_factory=dict)

    def session_confs(self) -> dict[str, str]:
        base = f"spark.sql.catalog.{self.name}"
        confs = {
            base: "org.apache.iceberg.spark.SparkCatalog",
            f"{base}.type": self.catalog_type,
            "spark.sql.extensions": (
                "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions"
            ),
        }
        if self.warehouse:
            confs[f"{base}.warehouse"] = self.warehouse
        if self.uri:
            confs[f"{base}.uri"] = self.uri
        confs.update({f"{base}.{k}": v for k, v in self.extra.items()})
        return confs


@dataclass
class IcebergMergePlan:
    """The native sink's MERGE semantics as Iceberg ``MERGE INTO`` SQL.

    Matches merge.apply_epoch row semantics exactly: the batch is the
    LWW-resolved one-row-per-key frame (op ∈ {I,U,D}, lsn monotone per
    key), the target carries ``_lsn``, and the guard
    ``b.lsn > t._lsn`` drops late/replayed rows per-row. Deletes remove
    matched rows; inserts skip op='D' keys that never existed.
    ``write.distribution-mode=hash`` is the pid-aligned write's
    equivalent — Iceberg hashes on the table's partition transform so
    merged rows land on their storage partition without a second
    exchange (table property, set once at DDL time).
    """

    table: str  # catalog.db.table
    key_column: str = "url"
    batch_view: str = "dx_batch"

    def merge_sql(self, columns: list[str]) -> str:
        """``columns`` = the resolved batch's data columns (key
        included, op/lsn excluded); UPDATE SET and INSERT enumerate them
        explicitly so the statement stays valid when the target has
        columns the batch lacks (pre-evolution replays)."""
        k = self.key_column
        sets = ", ".join(f"t.{c} = b.{c}" for c in columns if c != k)
        ins_cols = ", ".join([*columns, "_lsn"])
        ins_vals = ", ".join([*(f"b.{c}" for c in columns), "b.lsn"])
        return (
            f"MERGE INTO {self.table} t\n"
            f"USING {self.batch_view} b\n"
            f"ON t.{k} = b.{k}\n"
            f"WHEN MATCHED AND b.lsn > t._lsn AND b.op = 'D' THEN DELETE\n"
            f"WHEN MATCHED AND b.lsn > t._lsn THEN UPDATE SET {sets}, t._lsn = b.lsn\n"
            f"WHEN NOT MATCHED AND b.op != 'D' THEN INSERT ({ins_cols}) "
            f"VALUES ({ins_vals})"
        )

    def evolution_sql(self, new_columns: list[tuple[str, str]]) -> str | None:
        """Additive mid-stream schema evolution (ST4): ALTER before the
        epoch's MERGE, exactly where the native sink widens its schema.
        ``new_columns`` = [(name, spark_sql_type), ...]."""
        if not new_columns:
            return None
        cols = ", ".join(f"{n} {t}" for n, t in new_columns)
        return f"ALTER TABLE {self.table} ADD COLUMNS ({cols})"

    def apply(self, spark: SparkSession, resolved: DataFrame,
              new_columns: list[tuple[str, str]] | None = None) -> None:
        """Execute (cluster-only: needs iceberg-spark-runtime)."""
        ev = self.evolution_sql(new_columns or [])
        if ev:
            spark.sql(ev)
        resolved.createOrReplaceTempView(self.batch_view)
        data_cols = [c for c in resolved.columns if c not in ("op", "lsn")]
        spark.sql(self.merge_sql(data_cols))


@dataclass
class KafkaSourcePlan:
    """Change-tail as a Kafka topic: one partition per shard, offsets in
    the streaming checkpoint. ``load`` needs spark-sql-kafka on the
    classpath; the option map is the offline-tested artifact."""

    bootstrap_servers: str
    topic: str
    starting_offsets: str = "earliest"
    max_offsets_per_trigger: int | None = None  # records_per_epoch analogue
    fail_on_data_loss: bool = True

    def stream_options(self) -> dict[str, str]:
        opts = {
            "kafka.bootstrap.servers": self.bootstrap_servers,
            "subscribe": self.topic,
            "startingOffsets": self.starting_offsets,
            "failOnDataLoss": str(self.fail_on_data_loss).lower(),
        }
        if self.max_offsets_per_trigger is not None:
            opts["maxOffsetsPerTrigger"] = str(self.max_offsets_per_trigger)
        return opts

    def load(self, spark: SparkSession, event_schema) -> DataFrame:
        """readStream → parse value json into the change-event columns.
        html travels base64-inside-json (Kafka values are bytes; the
        producer owns the envelope)."""
        from pyspark.sql import functions as F

        reader = spark.readStream.format("kafka")
        for k, v in self.stream_options().items():
            reader = reader.option(k, v)
        raw = reader.load()
        parsed = raw.select(
            F.from_json(F.col("value").cast("string"), event_schema).alias("e")
        ).select("e.*")
        if "html_b64" in parsed.columns:
            parsed = parsed.withColumn(
                "html", F.unbase64(F.col("html_b64"))
            ).drop("html_b64")
        return parsed


def compile_kafka_reader(reader: dict[str, Any]) -> KafkaSourcePlan:
    """DataX reader vocabulary → KafkaSourcePlan (reader.type = "kafka")."""
    speed = reader.get("speed", {})
    return KafkaSourcePlan(
        bootstrap_servers=reader["bootstrapServers"],
        topic=reader["topic"],
        starting_offsets=reader.get("startingOffsets", "earliest"),
        max_offsets_per_trigger=speed.get("recordPerEpoch"),
        fail_on_data_loss=reader.get("failOnDataLoss", True),
    )


def compile_iceberg_writer(writer: dict[str, Any]) -> IcebergMergePlan:
    """DataX writer vocabulary → IcebergMergePlan (writer.type = "iceberg")."""
    return IcebergMergePlan(
        table=writer["table"],
        key_column=writer.get("keyColumn", "url"),
        batch_view=writer.get("batchView", "dx_batch"),
    )


def compile_cluster_cdc_job(
    spec: dict[str, Any],
) -> tuple[KafkaSourcePlan, IcebergMergePlan, str]:
    """The cluster CDC job spec (reader.type=kafka + writer.type=iceberg,
    same JSON vocabulary tools/submit_job.py accepts for the native
    change_tail/icetable pair) → its two endpoint plans + checkpoint."""
    reader, writer = spec["reader"], spec["writer"]
    if reader.get("type") != "kafka" or writer.get("type") != "iceberg":
        raise ValueError(
            "cluster cdc job needs reader.type=kafka, writer.type=iceberg"
        )
    return (
        compile_kafka_reader(reader),
        compile_iceberg_writer(writer),
        spec["checkpoint"],
    )


def resolve_cluster_batch(
    batch: DataFrame, key: str = "url", extract: bool = True
) -> DataFrame:
    """The per-epoch transform stage of the cluster pipeline — identical
    semantics to merge.apply_epoch's pre-merge half, reused verbatim
    from the engine: dirty split, Window-over-LSN LWW (one row per key
    BEFORE the expensive UDF), then Arrow-vectorized extraction. This
    part executes fine offline (it is tested against a real DataFrame);
    only the surrounding Kafka read / Iceberg MERGE need a cluster.
    """
    from pyspark.sql import functions as F

    from datax_spark.functions.extract import extract_text_udf
    from datax_spark.operators.lww import lww_resolve
    from datax_spark.operators.quarantine import split_dirty

    clean, _dirty = split_dirty(batch)
    resolved = lww_resolve(clean, key=key, order="lsn", strategy="window")
    if extract and "html" in resolved.columns:
        resolved = resolved.withColumn("text", extract_text_udf(F.col("html")))
    return resolved


def dry_run_cluster_cdc_job(
    spec: dict[str, Any], event_schema_ddl: str | None = None
) -> dict[str, Any]:
    """Spec-validated DRY RUN of the cluster CDC job — no broker, no
    jars, no SparkSession: compiles both endpoints and returns every
    artifact the job would hand Spark, so a first cluster user can
    sanity-check a job.json (and their catalog confs) in seconds
    before submitting. ``tools/submit_job.py --dry-run job.json``
    prints this. Raises ValueError on a malformed spec — the same
    validation the real run applies."""
    source, sink, checkpoint = compile_cluster_cdc_job(spec)
    ddl = event_schema_ddl or spec.get("reader", {}).get("eventSchema")
    cols: list[str] = []
    if ddl:
        # name extraction without a SparkContext (fromDDL needs a live
        # JVM; a dry run must work on a laptop with nothing running):
        # split on top-level commas, first token per column. The
        # splitter is backquote-aware — characters inside `...` (with
        # `` escaping one backquote) never count as delimiters or
        # depth changes, matching fromDDL's treatment of quoted
        # identifiers containing , < > ( ).
        names, depth, cur, in_bq, i = [], 0, [], False, 0
        while i < len(ddl):
            ch = ddl[i]
            if ch == "`":
                if in_bq and i + 1 < len(ddl) and ddl[i + 1] == "`":
                    cur.append("``")
                    i += 2
                    continue
                in_bq = not in_bq
            elif not in_bq:
                if ch in "<(":
                    depth += 1
                elif ch in ">)":
                    depth -= 1
                if ch == "," and depth == 0:
                    names.append("".join(cur))
                    cur = []
                    i += 1
                    continue
            cur.append(ch)
            i += 1
        names.append("".join(cur))

        def _field_name(field: str) -> str:
            # StructType.fromDDL accepts both 'name TYPE' and
            # 'name:type', and backquoted names may contain spaces or
            # colons ('`a b`:int'); `` inside backquotes escapes one
            # backquote. The dry run must name the same columns the
            # real run's fromDDL resolves.
            field = field.strip()
            if field.startswith("`"):
                i, out = 1, []
                while i < len(field):
                    if field[i] == "`":
                        if i + 1 < len(field) and field[i + 1] == "`":
                            out.append("`")
                            i += 2
                            continue
                        break
                    out.append(field[i])
                    i += 1
                return "".join(out)
            for j, ch in enumerate(field):
                if ch.isspace() or ch == ":":  # fromDDL accepts ANY
                    return field[:j]           # whitespace delimiter
            return field

        cols = [_field_name(n) for n in names if n.strip()]
        cols = [c for c in cols if c not in ("op", "lsn")]  # MERGE guard
    # the REAL run merges the resolved batch, which gains the
    # extract-derived 'text' column when html is present (extract=True
    # default in run_cluster_cdc_job) — the printed MERGE must be the
    # statement the job will actually execute
    merge_cols = list(cols)
    if "html" in merge_cols and "text" not in merge_cols:
        merge_cols.append("text")
    catalog = IcebergCatalogConfig(
        **spec.get("writer", {}).get("catalog", {})
    )
    return {
        "kafka_stream_options": source.stream_options(),
        "iceberg_session_confs": catalog.session_confs(),
        "merge_sql": sink.merge_sql(merge_cols) if merge_cols else None,
        "checkpoint": checkpoint,
        "event_columns": cols,
        "merge_columns": merge_cols,
        "required_packages": [
            "org.apache.spark:spark-sql-kafka-0-10_2.13:<spark-version>",
            "org.apache.iceberg:iceberg-spark-runtime-<spark>_2.13:<iceberg-version>",
        ],
    }


def run_cluster_cdc_job(
    spark: SparkSession,
    spec: dict[str, Any],
    event_schema,
    extract: bool = True,
    available_now: bool = False,
) -> None:
    """Execute the cluster CDC loop (cluster-only: Kafka + Iceberg jars):
    readStream(kafka) → resolve_cluster_batch → MERGE INTO, with
    Structured Streaming's checkpoint providing the offset/commit log
    the native EpochDriver keeps itself.

    ``available_now=True`` runs a BOUNDED catch-up instead of a
    continuous tail: consume everything currently in the topic in
    rate-limited micro-batches, then stop — Kafka backfill, and the
    termination mode the env-gated e2e test uses
    (tests/test_cluster_adapter.py::test_cluster_cdc_end_to_end)."""
    source, sink, checkpoint = compile_cluster_cdc_job(spec)
    stream = source.load(spark, event_schema)

    def _sink(batch_df: DataFrame, epoch_id: int) -> None:
        sink.apply(spark, resolve_cluster_batch(batch_df, sink.key_column, extract))

    writer = stream.writeStream.foreachBatch(_sink).option(
        "checkpointLocation", checkpoint
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    writer.start().awaitTermination()
