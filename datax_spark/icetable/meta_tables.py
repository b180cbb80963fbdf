"""Metadata tables — the table's own bookkeeping as DataFrames.

Every lake engine exposes inspection relations (Iceberg's
``db.table.files / .snapshots / .partitions / .refs``, Delta's
``DESCRIBE DETAIL/HISTORY``); operators page through them for
compaction debt, snapshot bloat and skew BEFORE they become incidents.
These are driver-built frames over metadata already in memory —
O(files) / O(versions) rows, zero data-file reads — so they compose
with the whole DataFrame API (filter, join against lineage, feed the
expectations engine).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from datax_spark.icetable.table import IceTable

_FILES_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType()),
        T.StructField("partition_id", T.IntegerType()),
        T.StructField("content", T.StringType()),  # data | equality-deletes
        T.StructField("rows", T.LongType()),
        T.StructField("bytes", T.LongType()),
        T.StructField("min_url", T.StringType()),
        T.StructField("max_url", T.StringType()),
        T.StructField("added_epoch", T.LongType()),
        T.StructField("has_bloom", T.BooleanType()),
    ]
)

_SNAPSHOTS_SCHEMA = T.StructType(
    [
        T.StructField("version", T.LongType()),
        T.StructField("parent_version", T.LongType()),
        T.StructField("schema_id", T.LongType()),
        T.StructField("total_rows", T.LongType()),
        T.StructField("last_epoch", T.LongType()),
        T.StructField("commit_id", T.StringType()),
        T.StructField("operation", T.StringType()),
    ]
)


def files(table: IceTable, version: int | None = None) -> DataFrame:
    """One row per live data/delete file of the snapshot (Iceberg's
    ``.files``). ``bytes`` is the real on-disk size (one stat per file,
    driver-side — same order as reading the manifests)."""
    rows = []
    for e in table.manifest_entries(version):
        p = table.root / e["path"]
        rows.append(
            (
                e["path"], e["partition_id"], "data", e["rows"],
                p.stat().st_size if p.exists() else None,
                e.get("min_url"), e.get("max_url"),
                e.get("added_epoch"), bool(e.get("bloom")),
            )
        )
    for d in table.delete_entries(version):
        p = table.root / d["path"]
        rows.append(
            (
                d["path"], d["partition_id"], "equality-deletes", d["rows"],
                p.stat().st_size if p.exists() else None,
                None, None, d.get("epoch"), False,
            )
        )
    return table.spark.createDataFrame(rows, _FILES_SCHEMA)


def snapshots(table: IceTable) -> DataFrame:
    """One row per RETAINED version (Iceberg's ``.snapshots``;
    ``operation`` summarizes what the commit did where recorded)."""
    rows = []
    for v in table._versions():
        m = table.metadata(v)
        s = m.get("summary") or {}
        if "compacted_pid" in s:
            op = "compact"
        elif "rolled_back_from" in s:
            op = "rollback"
        elif "purge" in s:
            op = "purge"
        elif s.get("commit_id"):
            op = "append/merge"
        else:
            op = "metadata"
        rows.append(
            (
                v,
                m.get("parent_version"),
                m.get("schema_id"),
                s.get("total_rows"),
                s.get("last_epoch"),
                s.get("commit_id"),
                op,
            )
        )
    return table.spark.createDataFrame(rows, _SNAPSHOTS_SCHEMA)


def partitions(table: IceTable, version: int | None = None) -> DataFrame:
    """Per-partition rollup (Iceberg's ``.partitions``) + the two debt
    signals the maintenance scheduler acts on: file count (compaction
    trigger) and delete-debt ratio (MoR shadowing)."""
    f = files(table, version)
    data = f.filter(F.col("content") == "data")
    dels = f.filter(F.col("content") == "equality-deletes")
    d = data.groupBy("partition_id").agg(
        F.count(F.lit(1)).alias("n_files"),
        F.sum("rows").alias("data_rows"),
        F.sum("bytes").alias("data_bytes"),
        F.min("min_url").alias("min_url"),
        F.max("max_url").alias("max_url"),
    )
    e = dels.groupBy("partition_id").agg(
        F.count(F.lit(1)).alias("n_delete_files"),
        F.sum("rows").alias("delete_rows"),
    )
    return (
        d.join(e, "partition_id", "left")
        .select(
            "partition_id", "n_files", "data_rows", "data_bytes",
            "min_url", "max_url",
            F.coalesce("n_delete_files", F.lit(0)).alias("n_delete_files"),
            F.coalesce("delete_rows", F.lit(0)).alias("delete_rows"),
            F.round(
                F.coalesce("delete_rows", F.lit(0))
                / F.greatest("data_rows", F.lit(1)),
                4,
            ).alias("delete_debt"),
        )
        .orderBy("partition_id")
    )


def refs(table: IceTable) -> DataFrame:
    """Named refs (tags) as a relation."""
    return table.spark.createDataFrame(
        [(k, int(v)) for k, v in sorted(table.refs().items())] or [],
        "name string, version long",
    )
