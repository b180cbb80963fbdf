"""Write path: stage data and equality-delete files in one Spark job,
publish them under immutable names, and build their manifest entries
from parquet footer statistics."""

from __future__ import annotations

import os
import shutil
import uuid
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from datax_spark.functions.hashing import url_partition


def _key_stats(meta: "pq.FileMetaData", key: str) -> tuple[str, str]:
    """min/max of the key column from parquet footer statistics only —
    no data pages are read (files are sorted by key, stats are exact)."""
    idx = meta.schema.to_arrow_schema().get_field_index(key)
    mins: list[str] = []
    maxs: list[str] = []
    for rg in range(meta.num_row_groups):
        st = meta.row_group(rg).column(idx).statistics
        if st is not None and st.has_min_max:
            lo = st.min if isinstance(st.min, str) else st.min.decode("utf-8")
            hi = st.max if isinstance(st.max, str) else st.max.decode("utf-8")
            # stats may be length-truncated for long strings; a truncated
            # min is already a conservative lower bound, a truncated max
            # must be padded up to stay an upper bound.
            if len(hi) >= 64:
                hi += "￿"
            mins.append(lo)
            maxs.append(hi)
    return (min(mins), max(maxs)) if mins else ("", "￿")


_STATS_STR_TRUNC = 64


def _stats_norm(v, dt: T.DataType, is_max: bool):
    """Normalize one parquet-footer min/max value to a JSON-storable,
    order-preserving form keyed by the SPARK column type: timestamps →
    epoch micros (int), dates → ordinal days, strings → ≤64-char
    prefix (max padded past any real suffix, same trick as
    _key_stats), numerics/bools as-is. Returns None when the value
    can't be normalized (→ the column is unprunable for this file)."""
    import datetime as _dt

    if v is None:
        return None
    if isinstance(dt, T.TimestampType):
        if not isinstance(v, _dt.datetime):
            return None
        if v.tzinfo is not None:
            v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        return int((v - _dt.datetime(1970, 1, 1)).total_seconds() * 1_000_000)
    if isinstance(dt, T.DateType):
        if not isinstance(v, _dt.date):
            return None
        return v.toordinal()
    if isinstance(dt, T.StringType):
        if isinstance(v, bytes):
            try:
                v = v.decode("utf-8")
            except UnicodeDecodeError:
                return None
        if not isinstance(v, str):
            return None
        if len(v) > _STATS_STR_TRUNC:
            v = v[:_STATS_STR_TRUNC]
            if is_max:
                v += "￿"
        return v
    if isinstance(v, bool) or isinstance(v, (int, float)):
        return v
    return None


def _column_stats(
    meta: "pq.FileMetaData", schema: T.StructType, key: str
) -> dict[str, list]:
    """Per-file [min, max] for every primitive comparable column except
    the key (which has the dedicated min_url/max_url envelope) and
    binary/nested payloads (stats on a 5 KB html blob are manifest
    bloat with no pruning power). Footer statistics only — no data
    pages are read. A column missing from any row group's stats is
    omitted (conservatively unprunable). Values are normalized by
    _stats_norm, so manifests stay plain JSON."""
    arrow = meta.schema.to_arrow_schema()
    out: dict[str, list] = {}
    for field in schema.fields:
        name, dt = field.name, field.dataType
        if name == key or isinstance(
            dt, (T.BinaryType, T.ArrayType, T.MapType, T.StructType)
        ):
            continue
        idx = arrow.get_field_index(name)
        if idx < 0:
            continue
        mins, maxs = [], []
        ok = True
        for rg in range(meta.num_row_groups):
            col = meta.row_group(rg).column(idx)
            st = col.statistics
            if st is None or not st.has_min_max:
                # all-null row group: prunable iff the whole group is
                # null (comparisons never match null) — otherwise bail
                if st is not None and st.null_count == meta.row_group(rg).num_rows:
                    continue
                ok = False
                break
            lo = _stats_norm(st.min, dt, is_max=False)
            hi = _stats_norm(st.max, dt, is_max=True)
            if lo is None or hi is None:
                ok = False
                break
            mins.append(lo)
            maxs.append(hi)
        if ok and mins:
            out[name] = [min(mins), max(maxs)]
    return out


def _data_rows(df: DataFrame) -> DataFrame:
    """Tag every row of ``df`` as a data row (``_dl = 0``) for the staged
    write. Not ``F.lit(0)``: Catalyst folds a literal out of the staged
    sort, the writer then re-sorts by (_dl, _pid) alone, and the files
    lose their key order."""
    return df.withColumn("_dl", F.col("_pid") * 0)


class StagingMixin:
    def bulk_overwrite(
        self,
        df: DataFrame,
        epoch: int,
        lsn_col: str | None = None,
        base_lsn: int = 0,
    ) -> int:
        """ADS-style bulk load (DataX S7: one-shot LOAD OVERWRITE into an
        analytics table): atomically replace the table's entire contents
        with ``df`` in one snapshot. Returns the new version.

        The load keeps every layout invariant the incremental path
        relies on — url-hash partitioning, within-partition key sort,
        key blooms, per-key ``_lsn`` — so CDC merges can resume on top
        of a bulk-loaded table. ``base_lsn`` (or ``lsn_col``) stamps the
        snapshot's logical position in the change stream: later change
        events apply iff their lsn exceeds it. Duplicate keys in ``df``
        are LWW-resolved by lsn before writing. Columns absent from
        ``df`` null-fill; new columns evolve the schema additively.
        Time travel to the pre-load version keeps working until expiry;
        replaying the same epoch is a metadata no-op. Cost: one
        key-hash exchange of ``df`` + O(old files + P) commit metadata —
        never a read of the old data.
        """
        if self.is_epoch_committed(epoch):
            return self.current_version()
        key = self.key_column
        if key not in df.columns:
            raise ValueError(f"bulk_overwrite input lacks key column {key!r}")
        lsn = (
            F.col(lsn_col).cast("long")
            if lsn_col
            else F.lit(int(base_lsn)).cast("long")
        )
        table_schema = self.schema()
        table_cols = [f.name for f in table_schema.fields]
        extra = [
            f
            for f in df.schema.fields
            if f.name not in table_cols and f.name != lsn_col
        ]
        new_schema = T.StructType(
            list(table_schema.fields)
            + [T.StructField(f.name, f.dataType, True) for f in extra]
        )
        out = df.select(
            *[
                (F.col(f.name) if f.name in df.columns else F.lit(None).cast(f.dataType)).alias(
                    f.name
                )
                for f in new_schema.fields
            ],
            lsn.alias("_lsn"),
        )
        # ONE exchange for the whole load: repartition to the table's
        # key-hash layout first; the LWW window needs only clustering by
        # key, which hash(key)%P already satisfies, so it adds a sort
        # within partitions and no second shuffle — and the write stages
        # aligned (task index == storage pid) with no exchange either.
        out = out.repartition(self.num_partitions, F.col(key))
        w = Window.partitionBy(key).orderBy(F.col("_lsn").desc())
        out = (
            out.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
            .withColumn("_pid", url_partition(key, self.num_partitions))
        )
        old = self.metadata()
        entries = self.stage_data_files(out, epoch, aligned=True)
        return self.commit(
            epoch,
            set(range(self.num_partitions)),
            entries,
            removed=self.manifest_entries() + self.delete_entries(),
            new_schema=new_schema,
            summary_extra={"bulk_overwrite": True, "base_lsn": int(base_lsn)},
            expected_version=old["version"],
            # full-table replace: nothing survives to overlap with
            verify_disjoint=False,
        )

    def stage_data_files(
        self,
        df: DataFrame,
        epoch: int,
        aligned: bool = False,
        bloom_compose: tuple[DataFrame, dict[int, list[dict]], dict[int, int]] | None = None,
    ) -> list[dict]:
        """Write ``df`` (sorted within partitions by key) as immutable data
        files under data/, one directory per partition id; returns manifest
        entries. Files become visible only when a snapshot referencing
        them commits — until then they are ignorable orphans.

        ``aligned=False`` (default): repartition(P, key) with
        murmur3-aligned partition ids (see functions/hashing.
        url_partition): task index == storage pid, so every task writes
        exactly one partition directory — no balls-in-bins collisions (a
        hash repartition on the pid VALUES would give one task 3-4 pids
        and a write straggler) and no range-sampling pass
        (repartitionByRange would execute the upstream plan, extraction
        UDF included, twice).

        ``aligned=True``: the caller guarantees ``df`` is ALREADY
        physically hash(key)%P partitioned — e.g. the MERGE full-outer
        join's output when spark.sql.shuffle.partitions == P and AQE is
        off. Catalyst reports UnknownPartitioning through the
        coalesce(t.key, b.key) projection, but every row physically sits
        in the reducer whose index equals its pid (both join inputs were
        hash-exchanged on the key with Spark's own HashPartitioning =
        url_partition), so the write runs with NO further exchange: the
        merged rows — whole affected partitions, html payload included —
        never cross the wire a second time. Correctness never depends on
        the alignment (partitionBy routes by VALUE); only the
        one-file-per-partition layout does, and apply_epoch pins the
        configs that make it hold.
        """
        return self._stage(_data_rows(df), epoch, aligned, bloom_compose)[0]

    def _data_entry_fn(self, epoch: int):
        """Manifest-entry builder for the staged data files of ``epoch``
        (key envelope and column stats from the parquet footer)."""
        key = self.key_column
        stats_schema = self._stats_schema()

        def entry(dest: Path, pid: int, meta: "pq.FileMetaData") -> dict:
            min_url, max_url = _key_stats(meta, key)
            e = {
                "path": str(dest.relative_to(self.root)),
                "partition_id": pid,
                "rows": meta.num_rows,
                "min_url": min_url,
                "max_url": max_url,
                "added_epoch": epoch,
            }
            if stats_schema is not None:
                e["stats"] = _column_stats(meta, stats_schema, key)
            return e

        return entry

    def _publish_staged(
        self,
        staging: Path,
        name_prefix: str,
        entry_fn,
    ) -> list[dict]:
        """Shared publish protocol for staged file sets (data and
        equality-delete files): enumerate per-pid parts, read footers
        (pooled — I/O-bound, GIL-releasing; ~0.5s/epoch at P=32, stays
        O(files) at cluster scale), skip empties, move each part to an
        immutable uuid-suffixed name under data/pid=<P>/, and build
        manifest entries. Files stay ignorable orphans until a snapshot
        references them."""
        staged = [
            (int(pid_dir.name.split("=")[1]), part)
            for pid_dir in sorted(staging.glob("_pid=*"))
            for part in sorted(pid_dir.glob("*.parquet"))
        ]
        with ThreadPoolExecutor(max_workers=min(16, max(len(staged), 1))) as ex:
            metas = list(ex.map(lambda t: pq.read_metadata(t[1]), staged))
        entries: list[dict] = []
        last_pid, seq = None, 0
        for (pid, part), meta in zip(staged, metas):
            if pid != last_pid:
                last_pid, seq = pid, 0
            if meta.num_rows == 0:
                continue
            dest_dir = self.data_dir / f"pid={pid}"
            dest_dir.mkdir(parents=True, exist_ok=True)
            dest = dest_dir / f"{name_prefix}-{seq:03d}-{uuid.uuid4().hex[:8]}.parquet"
            os.replace(part, dest)
            entries.append(entry_fn(dest, pid, meta))
            seq += 1
        shutil.rmtree(staging, ignore_errors=True)
        return entries

    def stage_data_and_delete_files(
        self,
        df: DataFrame,
        epoch: int,
        aligned: bool = False,
        bloom_compose: tuple[DataFrame, dict[int, list[dict]], dict[int, int]] | None = None,
    ) -> tuple[list[dict], list[dict]]:
        """Merge-on-read epoch write: ``df`` carries data rows
        (``_dl = 0``) and equality-delete rows (``_dl = 1``: the key,
        nulls elsewhere) and is written in ONE staged Spark job
        (``partitionBy(_dl, pid)``), so with ``aligned=True`` each task
        writes its pid's data file and at most one delete file. A delete
        file written at epoch E shadows its keys in data files with
        added_epoch < E — applied by the read path's anti-join, folded by
        compaction — so delete-file bytes are O(batch keys), which bounds
        write amplification for delete-heavy / sparse-update epochs.
        Delete files carry the data schema with nulls outside the key;
        the read path's delete scan names an explicit key-only schema
        (``_read_files``). Returns (data manifest entries, delete
        entries)."""
        return self._stage(df, epoch, aligned, bloom_compose)

    def _stage(
        self,
        df: DataFrame,
        epoch: int,
        aligned: bool,
        bloom_compose: tuple[DataFrame, dict[int, list[dict]], dict[int, int]] | None,
    ) -> tuple[list[dict], list[dict]]:
        """The one staged write behind both public staging calls and
        ``rebucket``: ``df`` carries ``_pid`` and a ``_dl`` tag (0 data,
        1 equality-delete) and is written by ONE Spark job. Returns
        (data manifest entries, delete entries)."""
        key = self.key_column
        if not aligned:
            df = df.repartition(self.num_partitions, F.col(key))
        pre = self._begin_bloom_compose(bloom_compose)
        staging = self.root / f"_staging-e{epoch:05d}-{uuid.uuid4().hex[:8]}"
        # sort leads with the partition columns (_dl, pid): the dynamic-
        # partition writer requires that ordering and would insert its
        # own local sort — dropping the within-file key sort — if ours
        # didn't already satisfy it
        self._write_conf(
            df.sortWithinPartitions("_dl", "_pid", key)
            .write.partitionBy("_dl", "_pid")
            .mode("overwrite")
        ).parquet(str(staging))

        def del_entry(dest: Path, pid: int, meta: "pq.FileMetaData") -> dict:
            return {
                "path": str(dest.relative_to(self.root)),
                "partition_id": pid,
                "rows": meta.num_rows,
                "epoch": epoch,
                "content": "equality-deletes",
            }

        entries = self._publish_staged(
            staging / "_dl=0", f"e{epoch:05d}", self._data_entry_fn(epoch)
        )
        dels = self._publish_staged(staging / "_dl=1", f"d-e{epoch:05d}", del_entry)
        shutil.rmtree(staging, ignore_errors=True)
        self._attach_blooms(entries, pre=pre)
        return entries, dels
