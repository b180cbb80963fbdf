"""Iceberg-modeled table format in pure PySpark + JSON metadata.

The real ``iceberg-spark-runtime`` jar cannot be fetched in this offline
sandbox (SURVEY.md §0.1), so the sink implements the same *model* —
immutable parquet data files + versioned snapshot metadata + atomic
optimistic commit — with an API shaped so the real Iceberg catalog can be
swapped in on a cluster with one adapter.

Layout::

    <root>/data/pid=<P>/<file>.parquet     immutable data files
    <root>/metadata/v<N>.metadata.json     snapshot N (schema, commits,
                                           per-partition manifest refs)
    <root>/metadata/manifests/m-<..>.json  immutable per-partition
                                           manifest (file entry list)
    <root>/metadata/blooms/<..>.bloom.parquet consolidated key-bloom
                                           sidecar (puffin-style; one row
                                           per data file of one staging
                                           call; probed as a JVM scan)
    <root>/metadata/version-hint.text      current version pointer
    <root>/lineage/epoch=<E>/*.parquet     per-partition lineage metrics

The manifest is SHARDED by partition: a snapshot holds one manifest-file
reference per partition, and a commit rewrites only the manifests of
partitions it touched — unchanged partitions carry their reference
forward. Commit cost is O(affected files + P), never O(all files); at
millions of files this is exactly the sharding real Iceberg uses to keep
the driver out of the write path. Bloom filters live in consolidated
sidecar parquets (one row per data file, shared by the files of one
staging call) referenced from manifest entries, so snapshot JSON stays
small, a bloom is read only when a MERGE actually probes that file, and
the probe's relation setup is O(staging calls), not O(probed files).

Key properties (all load-bearing for the north rule, BASELINE.json:6):

* **Atomic commit, optimistic concurrency**: metadata is staged to a tmp
  file then published with ``os.link`` (fails if the version already
  exists → ``TableCommitConflict``), then the hint file is swapped via
  rename. Readers resolve the hint, then the immutable snapshot.
* **Idempotence ledger**: each snapshot carries the cumulative set of
  applied ``(checkpoint_epoch, partition_id)`` keys; replaying a
  committed epoch is a metadata no-op.
* **Orphan tolerance**: data files not referenced by a committed snapshot
  are ignored by readers (Iceberg's own rule), so a crash between data
  write and metadata publish is harmless on replay.
* **Schema evolution**: schemas are an append-only list with schema ids;
  readers apply the current schema to old files (missing columns read as
  null — parquet reader semantics), which is exactly additive evolution.
* **Scan pruning**: the manifest stores per-file partition id, row count
  and min/max url. Partition-level pruning + conservative min/max file
  pruning keep MERGE from rewriting untouched files. At 100 TB this is
  what bounds write amplification: an epoch touching K urls rewrites
  O(files containing those urls), not the table.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import uuid
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path
from typing import Any

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from datax_spark.functions.hashing import PARTITION_HASH, url_partition

# v2: partition_spec records the partitioning hash identity
# (PARTITION_HASH) and load() validates it — a table laid out under a
# different hash function must fail to load, never silently mis-prune.
# v3: manifest sharded per partition (snapshot stores manifest-file
# references, not file entries) and blooms externalized to sidecars.
FORMAT_VERSION = 3


class TableCommitConflict(RuntimeError):
    """Another writer committed this version first (optimistic CAS lost)."""


class TableInvariantError(ValueError):
    """A raw commit would break the one-live-row-per-key invariant
    (added data files share keys with live files in the same partition
    and nothing in the commit shadows or removes the old copies)."""


class StaleWriterFence(RuntimeError):
    """This writer's lease generation was superseded — a newer driver
    took over the table (zombie fencing). The fenced writer must stop;
    its work is safe to abandon because every epoch it half-applied is
    either in the ledger (the successor skips it) or will be recomputed
    identically by the successor from the shared checkpoint."""


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


def _schema_to_json(schema: T.StructType) -> dict:
    return json.loads(schema.json())


def _schema_from_json(j: dict) -> T.StructType:
    return T.StructType.fromJson(j)


class IceTable:
    def __init__(self, spark: SparkSession, root: str | Path):
        self.spark = spark
        # Iceberg-spec timestamps: int64 micros, never legacy INT96 —
        # INT96 also writes NO footer min/max, which would blind the
        # per-file column envelopes (_column_stats) on timestamp columns
        spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        self.root = Path(root)
        self.meta_dir = self.root / "metadata"
        self.manifest_dir = self.meta_dir / "manifests"
        self.bloom_dir = self.meta_dir / "blooms"
        self.data_dir = self.root / "data"
        self.lineage_dir = self.root / "lineage"
        # manifest/bloom files are immutable (uuid-named, written once),
        # so caching by path is always safe
        self._manifest_cache: dict[str, list[dict]] = {}
        self._bloom_words_cache: dict[str, tuple[int, dict[int, int]]] = {}
        # writer-fence generation this handle holds (None = unfenced
        # legacy writer; commit() skips the lease check)
        self._fence_generation: int | None = None

    # ------------------------------------------------------------------ #
    # lifecycle
    # ------------------------------------------------------------------ #
    @classmethod
    def create(
        cls,
        spark: SparkSession,
        root: str | Path,
        schema: T.StructType,
        num_partitions: int = 16,
        key_column: str = "url",
        properties: dict[str, Any] | None = None,
    ) -> "IceTable":
        t = cls(spark, root)
        if (t.meta_dir / "version-hint.text").exists():
            raise FileExistsError(f"table already exists at {root}")
        t.meta_dir.mkdir(parents=True, exist_ok=True)
        t.manifest_dir.mkdir(parents=True, exist_ok=True)
        t.bloom_dir.mkdir(parents=True, exist_ok=True)
        t.data_dir.mkdir(parents=True, exist_ok=True)
        t.lineage_dir.mkdir(parents=True, exist_ok=True)
        meta = {
            "format_version": FORMAT_VERSION,
            "table_uuid": str(uuid.uuid5(uuid.NAMESPACE_URL, str(root))),
            "version": 0,
            "parent_version": None,
            "schema_id": 0,
            "schemas": [{"schema_id": 0, "schema": _schema_to_json(schema)}],
            "partition_spec": {
                "num_partitions": num_partitions,
                "key": key_column,
                "hash": PARTITION_HASH,
            },
            # per-partition manifest references: {pid: relpath}; empty
            # partitions have no entry
            "manifests": {},
            "commits": {},
            "commit_epoch_watermark": -1,
            "summary": {"total_rows": 0},
            "properties": dict(properties or {}),
        }
        t._publish(meta)
        return t

    @classmethod
    def load(cls, spark: SparkSession, root: str | Path) -> "IceTable":
        t = cls(spark, root)
        meta = t.metadata()  # raises if absent
        fv = meta.get("format_version")
        if fv != FORMAT_VERSION:
            raise ValueError(
                f"table at {root} has format_version {fv}, engine expects "
                f"{FORMAT_VERSION} — refusing to load"
            )
        stored = meta["partition_spec"].get("hash")
        if stored != PARTITION_HASH:
            # keys would resolve to different pids than the stored file
            # layout: MERGE would prune the wrong files, missing existing
            # rows and duplicating keys — fail loudly instead
            raise ValueError(
                f"table at {root} is partitioned by {stored!r}, engine "
                f"computes {PARTITION_HASH!r} — layout/hash mismatch"
            )
        return t

    # ------------------------------------------------------------------ #
    # metadata
    # ------------------------------------------------------------------ #
    def current_version(self) -> int:
        return int((self.meta_dir / "version-hint.text").read_text().strip())

    def metadata(self, version: int | str | None = None) -> dict[str, Any]:
        if isinstance(version, str):  # named ref — every read path
            version = self.resolve_ref(version)  # accepts a tag name
        v = self.current_version() if version is None else version
        return json.loads((self.meta_dir / f"v{v}.metadata.json").read_text())

    # ------------------------------------------------------------------ #
    # named refs (Iceberg table tags): a tag pins a snapshot against
    # expiry and names it for time travel — read(version="prod") works
    # anywhere an int version does (resolution happens in metadata()).
    # Tagging publishes a rewrite-only metadata version, so it is
    # changelog-invisible and CAS-safe against concurrent commits;
    # commit() carries refs forward automatically ({**meta} spread).
    # ------------------------------------------------------------------ #
    def refs(self) -> dict[str, int]:
        return dict(self.metadata().get("refs", {}))

    def resolve_ref(self, name: str) -> int:
        refs = self.metadata().get("refs", {})
        if name not in refs:
            raise KeyError(f"no tag {name!r} on table at {self.root}")
        return refs[name]

    def tag(self, name: str, version: int | None = None) -> int:
        """Pin ``version`` (default: current) under ``name``. Returns the
        pinned version. Re-tagging an existing name moves it."""
        meta = self.metadata()
        target = meta["version"] if version is None else int(version)
        self.metadata(target)  # must be a retained snapshot
        refs = dict(meta.get("refs", {}))
        refs[name] = target
        self._publish(
            {
                **meta,
                "version": meta["version"] + 1,
                "parent_version": meta["version"],
                "refs": refs,
            }
        )
        return target

    def drop_tag(self, name: str) -> None:
        meta = self.metadata()
        refs = dict(meta.get("refs", {}))
        if name not in refs:
            raise KeyError(f"no tag {name!r} on table at {self.root}")
        del refs[name]
        self._publish(
            {
                **meta,
                "version": meta["version"] + 1,
                "parent_version": meta["version"],
                "refs": refs,
            }
        )

    # ------------------------------------------------------------------ #
    # schema evolution beyond additive: RENAME and DROP, metadata-only
    # (Iceberg evolves by field-id; this format is name-based, so a
    # rename records a NAME MAPPING — current name → the prior names
    # that older data files carry. The read path requests both
    # generations in ONE scan (absent columns read as null per file)
    # and coalesces, so no file is rewritten and no per-file dispatch
    # exists. Compaction naturally migrates files to current names.
    # The one name-based limitation is made LOUD instead of silent:
    # re-adding a previously dropped/renamed-away name is refused —
    # with name-addressed files it would resurrect old bytes.)
    # ------------------------------------------------------------------ #
    def name_mapping(self, version: int | None = None) -> dict[str, list[str]]:
        """current column name → prior names older data files use."""
        return {
            k: list(v)
            for k, v in (self.metadata(version).get("name_mapping") or {}).items()
        }

    def _reserved_names(self, meta: dict) -> set[str]:
        """Names that must never be (re)introduced: every alias in the
        mapping and every dropped name (old files still carry their
        bytes — a name-based re-add would resurrect them)."""
        out = set(meta.get("dropped_names") or [])
        for aliases in (meta.get("name_mapping") or {}).values():
            out |= set(aliases)
        return out

    def rename_column(self, old: str, new: str) -> int:
        """Rename ``old`` to ``new`` — a rewrite-only snapshot (no data
        moves; changelog-invisible: a rename alone yields an EMPTY
        changelog). Old data files keep their bytes; reads coalesce
        through the name mapping; the key column cannot be renamed (its
        name is baked into delete files, bloom sidecars and the
        min/max-url envelopes)."""
        meta = self.metadata()
        schema = self.schema()
        names = {f.name for f in schema.fields}
        if old not in names:
            raise ValueError(f"no column {old!r} (have {sorted(names)})")
        if old == self.key_column:
            raise ValueError(
                f"cannot rename the key column {old!r}: delete files, "
                "bloom sidecars and key envelopes are addressed by it"
            )
        if new in names:
            raise ValueError(f"column {new!r} already exists")
        if new in self._reserved_names(meta):
            raise ValueError(
                f"name {new!r} was previously used (renamed away or "
                "dropped); older data files still carry bytes under it "
                "— pick a fresh name"
            )
        mapping = {k: list(v) for k, v in (meta.get("name_mapping") or {}).items()}
        aliases = mapping.pop(old, [])
        mapping[new] = [old, *aliases]
        fields = [
            T.StructField(new, f.dataType, f.nullable, f.metadata)
            if f.name == old
            else f
            for f in schema.fields
        ]
        return self._publish_schema_change(
            meta, T.StructType(fields), name_mapping=mapping
        )

    def drop_column(self, name: str) -> int:
        """Drop ``name`` — metadata-only; the column disappears from the
        current snapshot but stays readable via time travel (old
        versions keep their schema). Old bytes remain until compaction
        rewrites their files. Re-adding the name later is refused (see
        class of name-based limitations above)."""
        meta = self.metadata()
        schema = self.schema()
        if name not in {f.name for f in schema.fields}:
            raise ValueError(f"no column {name!r}")
        if name == self.key_column:
            raise ValueError(f"cannot drop the key column {name!r}")
        mapping = {k: list(v) for k, v in (meta.get("name_mapping") or {}).items()}
        dropped = list(meta.get("dropped_names") or [])
        dropped.extend([name, *mapping.pop(name, [])])
        fields = [f for f in schema.fields if f.name != name]
        return self._publish_schema_change(
            meta,
            T.StructType(fields),
            name_mapping=mapping,
            dropped_names=sorted(set(dropped)),
        )

    def _publish_schema_change(
        self, meta: dict, new_schema: T.StructType, **extra
    ) -> int:
        schemas = meta["schemas"] + [
            {"schema_id": len(meta["schemas"]), "schema": _schema_to_json(new_schema)}
        ]
        new_meta = {
            **meta,
            **extra,
            "version": meta["version"] + 1,
            "parent_version": meta["version"],
            "schema_id": len(meta["schemas"]),
            "schemas": schemas,
        }
        self._publish(new_meta)
        return new_meta["version"]

    # ------------------------------------------------------------------ #
    # table properties (Iceberg-style): write knobs every data-file
    # write path honors. Supported today:
    #   write.parquet.compression-codec  snappy|zstd|gzip|lz4|none
    #       (zstd is the 100-TB default choice: ~30-50% smaller files
    #       than snappy on web text for a modest CPU cost — at petabyte
    #       scan volumes the I/O saved dominates)
    #   write.max-records-per-file       int — caps file size so one
    #       hot partition's epoch write splits into parallel-scannable
    #       files (Spark's maxRecordsPerFile; manifests already carry
    #       multi-file partitions, and the compaction triggers bound
    #       the resulting file count)
    # Properties ride the metadata ({**meta} carries them through every
    # commit) so they version, time-travel and replicate with the table.
    # ------------------------------------------------------------------ #
    def properties(self) -> dict[str, Any]:
        return dict(self.metadata().get("properties") or {})

    def set_properties(self, props: dict[str, Any]) -> None:
        """Merge ``props`` into the table properties (None deletes a
        key) via a rewrite-only CAS'd snapshot — data files untouched,
        changelog-invisible, effective for every subsequent write."""
        meta = self.metadata()
        merged = dict(meta.get("properties") or {})
        for k, v in props.items():
            if v is None:
                merged.pop(k, None)
            else:
                merged[k] = v
        self._publish(
            {
                **meta,
                "version": meta["version"] + 1,
                "parent_version": meta["version"],
                "properties": merged,
            }
        )

    def _stats_schema(self) -> T.StructType | None:
        """The schema to collect per-file column stats against, or None
        when ``write.metadata.metrics = none`` switches collection off
        (stats add O(columns) floats/strings per manifest entry — at a
        million files that is real manifest weight, which is exactly
        why Iceberg makes it a table property)."""
        props = self.metadata().get("properties") or {}
        if props.get("write.metadata.metrics", "full") == "none":
            return None
        return self.schema()

    def _write_conf(self, writer):
        """Apply the table's write properties to a DataFrameWriter."""
        props = self.metadata().get("properties") or {}
        codec = props.get("write.parquet.compression-codec")
        if codec:
            writer = writer.option("compression", codec)
        max_rec = props.get("write.max-records-per-file")
        if max_rec:
            writer = writer.option("maxRecordsPerFile", int(max_rec))
        return writer

    # ------------------------------------------------------------------ #
    # writer fencing (zombie-driver protection). A lease is a monotone
    # generation stored IN the table metadata and bumped by a CAS'd
    # rewrite-only snapshot, so takeover serializes through the same
    # version CAS as every data commit — there is NO check-then-act
    # window: a zombie that read pre-takeover metadata loses the
    # version CAS (TableCommitConflict); one that reads post-takeover
    # metadata sees the newer generation and gets StaleWriterFence at
    # the fence check. Either way its commit cannot land. This is the
    # epoch-fencing pattern Kafka transactions / HDFS lease recovery
    # use, expressed as Iceberg-style metadata. Opt-in: handles that
    # never acquire a lease commit exactly as before (single-writer
    # deployments pay nothing).
    # ------------------------------------------------------------------ #
    def writer_lease(self) -> dict[str, Any]:
        """Current lease, ``{"generation": 0}`` if never acquired."""
        return dict(self.metadata().get("writer_lease") or {"generation": 0})

    def acquire_writer_lease(self, owner: str, max_retries: int = 5) -> int:
        """Take over as THE writer: bump the lease generation via a
        rewrite-only CAS'd snapshot and bind this handle to the new
        generation. Every commit through a handle bound to an older
        generation fails from this point on. Acquire BEFORE reading
        the checkpoint/table state you will resume from — the bump's
        CAS then guarantees nothing the fenced writer lands afterwards
        can have escaped your view."""
        last: TableCommitConflict | None = None
        for _ in range(max_retries + 1):
            meta = self.metadata()
            gen = int((meta.get("writer_lease") or {}).get("generation", 0)) + 1
            try:
                self._publish(
                    {
                        **meta,
                        "version": meta["version"] + 1,
                        "parent_version": meta["version"],
                        "writer_lease": {"generation": gen, "owner": owner},
                    }
                )
                self._fence_generation = gen
                return gen
            except TableCommitConflict as e:  # racing commit/acquire
                last = e
        raise TableCommitConflict(
            f"lease acquisition still conflicting after {max_retries} retries"
        ) from last

    def schema(self, version: int | None = None) -> T.StructType:
        meta = self.metadata(version)
        sid = meta["schema_id"]
        for s in meta["schemas"]:
            if s["schema_id"] == sid:
                return _schema_from_json(s["schema"])
        raise KeyError(f"schema_id {sid} not in metadata")

    @property
    def num_partitions(self) -> int:
        return self.metadata()["partition_spec"]["num_partitions"]

    @property
    def key_column(self) -> str:
        return self.metadata()["partition_spec"]["key"]

    # The idempotence ledger is kept exact only for a recent window of
    # epochs; older contiguous epochs fold into a single watermark (all
    # epochs ≤ watermark are committed — valid because the driver
    # applies epochs in increasing order). This bounds snapshot-JSON
    # growth: at 10^5+ epochs the exact map would otherwise dominate
    # the metadata the driver parses on every commit.
    LEDGER_RETAIN_EPOCHS = 128

    def is_committed(self, epoch: int, partition_id: int, version: int | None = None) -> bool:
        meta = self.metadata(version)
        if epoch <= meta.get("commit_epoch_watermark", -1):
            return True
        return f"{epoch}:{partition_id}" in meta["commits"]

    def is_epoch_committed(self, epoch: int, version: int | None = None) -> bool:
        meta = self.metadata(version)
        if epoch <= meta.get("commit_epoch_watermark", -1):
            return True
        return any(k.split(":")[0] == str(epoch) for k in meta["commits"])

    def committed_epochs(self, version: int | None = None) -> set[int]:
        meta = self.metadata(version)
        out = {int(k.split(":")[0]) for k in meta["commits"]}
        out.update(range(meta.get("commit_epoch_watermark", -1) + 1))
        return out

    # ------------------------------------------------------------------ #
    # sharded manifest
    # ------------------------------------------------------------------ #
    def _load_manifest_doc(self, relpath: str) -> dict:
        cached = self._manifest_cache.get(relpath)
        if cached is None:
            cached = json.loads((self.root / relpath).read_text())
            cached.setdefault("deletes", [])
            self._manifest_cache[relpath] = cached
        return cached

    def _load_manifest(self, relpath: str) -> list[dict]:
        return self._load_manifest_doc(relpath)["files"]

    def _iter_manifest_docs(
        self, version: int | None, partition_ids: set[int] | None
    ):
        refs = self.metadata(version)["manifests"]
        for pid_s, relpath in sorted(refs.items(), key=lambda kv: int(kv[0])):
            if partition_ids is not None and int(pid_s) not in partition_ids:
                continue
            yield self._load_manifest_doc(relpath)

    def manifest_entries(
        self,
        version: int | None = None,
        partition_ids: set[int] | None = None,
    ) -> list[dict]:
        """Data-file entries for a snapshot — only the requested
        partitions' manifest files are read (O(affected files), never
        O(table) when the caller prunes by partition)."""
        out: list[dict] = []
        for doc in self._iter_manifest_docs(version, partition_ids):
            out.extend(doc["files"])
        return out

    def delete_entries(
        self,
        version: int | None = None,
        partition_ids: set[int] | None = None,
    ) -> list[dict]:
        """Equality-delete file entries (merge-on-read): a delete file
        written at epoch E shadows matching keys in data files with
        added_epoch < E. Folded back by compaction."""
        out: list[dict] = []
        for doc in self._iter_manifest_docs(version, partition_ids):
            out.extend(doc["deletes"])
        return out

    def _write_manifest(
        self, pid: int, entries: list[dict], deletes: list[dict] | None = None
    ) -> str:
        name = f"m-p{pid:05d}-{uuid.uuid4().hex[:12]}.json"
        path = self.manifest_dir / name
        rel = str(path.relative_to(self.root))
        doc = {
            "partition_id": pid,
            "files": entries,
            "deletes": deletes or [],
        }
        path.write_text(json.dumps(doc, sort_keys=True))
        self._manifest_cache[rel] = doc
        return rel

    # ------------------------------------------------------------------ #
    # read path
    # ------------------------------------------------------------------ #
    def _local_df(self, rows: list[tuple], schema: T.StructType) -> DataFrame:
        """Driver-built rows as a JVM ``LocalRelation``, via an Arrow
        table. ``createDataFrame(<python list>)`` plans a PythonRDD scan
        instead: every job touching it waits ~0.25 s for a Python worker
        before its first row. Broadcasting a LocalRelation still runs a
        small JVM job (a ``ParallelCollectionRDD`` collect, up to one
        task per core) but starts no Python worker, whatever
        ``arrow.pyspark.enabled`` says. Every relation this class builds
        from driver rows goes through here, so its reads start no Python
        worker."""
        from pyspark.sql.pandas.types import to_arrow_schema

        arrow_schema = to_arrow_schema(schema)
        cols = list(zip(*rows)) or [()] * len(schema.fields)
        tbl = pa.table(
            [pa.array(list(c), f.type) for c, f in zip(cols, arrow_schema)],
            schema=arrow_schema,
        )
        return self.spark.createDataFrame(tbl, schema)

    def read(self, version: int | None = None, with_lsn: bool = False) -> DataFrame:
        return self._read_files(
            self.manifest_entries(version),
            version,
            with_lsn,
            deletes=self.delete_entries(version),
        )

    def lookup(
        self,
        keys,
        version: int | None = None,
        with_lsn: bool = False,
    ) -> DataFrame:
        """Point reads: the CURRENT row for each key (absent keys yield
        no row) — the serving-side primitive behind "what is this url's
        latest state". Three pruning layers before any data file opens:
        the keys' partition-id subset, the per-partition key envelopes,
        and the bloom sidecars (read_partitions) — so cost tracks the
        LOOKED-UP keys' file slices, not the table. ``keys`` is a list
        of key values or a single-column DataFrame named like the key
        column; the final semi-join is broadcast (a lookup batch is
        small by definition — use read_partitions directly for bulk
        probes)."""
        from datax_spark.functions.hashing import url_partition

        key = self.key_column
        if isinstance(keys, DataFrame):
            keys_df = keys.select(key)
        else:
            kt = {f.name: f.dataType for f in self.schema(version).fields}[key]
            keys_df = self._local_df(
                [(k,) for k in keys], T.StructType([T.StructField(key, kt)])
            )
        pids = {
            r["_p"]
            for r in keys_df.select(
                url_partition(key, self.num_partitions).alias("_p")
            )
            .distinct()
            .collect()
        }
        df, _ = self.read_partitions(
            pids, version, with_lsn=with_lsn, keys_df=keys_df
        )
        return df.join(F.broadcast(keys_df), key, "left_semi")

    def read_partitions(
        self,
        partition_ids: set[int],
        version: int | None = None,
        with_lsn: bool = False,
        pid_url_ranges: dict[int, tuple[str, str]] | None = None,
        keys_df: DataFrame | None = None,
        old_keys: dict[int, int] | None = None,
    ) -> tuple[DataFrame, list[dict]]:
        """Pruned scan: only files in ``partition_ids``, and — when the
        per-partition batch url envelope is supplied — only files whose
        [min_url, max_url] overlaps their partition's envelope
        (conservative: a skipped file provably contains no batch url),
        then the bloom probe of ``keys_df``. ``old_keys`` (per pid, the
        batch keys that already exist in the table) skips the probe for
        a file whose row share of its pid's candidates expects at least
        ``BLOOM_SURE_HITS`` of them: P(prunable) ≈ e^-4 under uniform
        spread, and a wrong keep costs one extra file read, never
        correctness. Returns the DataFrame and the pruned-in file
        entries (the MERGE rewrite set).
        """
        files = []
        for f in self.manifest_entries(version, partition_ids):
            pid = f["partition_id"]
            if pid_url_ranges is not None and pid in pid_url_ranges:
                lo, hi = pid_url_ranges[pid]
                if f["max_url"] < lo or f["min_url"] > hi:
                    continue
            files.append(f)
        if keys_df is not None:
            old_keys = old_keys or {}
            pid_rows: dict[int, int] = {}
            for f in files:
                pid_rows[f["partition_id"]] = pid_rows.get(f["partition_id"], 0) + f["rows"]
            keep = {
                f["path"]
                for f in files
                if old_keys.get(f["partition_id"], 0) * f["rows"]
                >= self.BLOOM_SURE_HITS * pid_rows[f["partition_id"]]
            }
            probe = [f for f in files if f["path"] not in keep]
            if probe:
                keep |= {f["path"] for f in self.bloom_prune(probe, keys_df)}
                files = [f for f in files if f["path"] in keep]
        df = self._read_files(
            files,
            version,
            with_lsn,
            deletes=self.delete_entries(version, partition_ids),
        )
        return df, files

    # ------------------------------------------------------------------ #
    # stats-pruned scans (Iceberg-style file skipping on ANY column)
    # ------------------------------------------------------------------ #
    def plan_scan(
        self,
        filters: list[tuple[str, str, Any]],
        version: int | None = None,
    ) -> tuple[list[dict], int]:
        """Scan planning: keep only data files whose per-file [min, max]
        column envelopes (collected from parquet footers at write time,
        see _column_stats) can satisfy EVERY filter. ``filters`` is a
        conjunction of ``(column, op, literal)`` with op ∈ {=, !=, <,
        <=, >, >=}. Pruning is conservative: a file without stats for a
        column (older manifests, disabled metrics, nested/binary types)
        is always kept; a pruned file provably contains no matching row
        (nulls never satisfy a comparison). Returns (kept_files,
        total_files) — the caller applies the residual filter for
        exactness. Key-column filters prune via the min_url/max_url
        envelope. Cost is O(manifest entries) driver-side metadata, the
        same order the scan itself must touch; nothing is read from
        data files at plan time."""
        ops = {"=", "!=", "<", "<=", ">", ">="}
        schema = {f.name: f.dataType for f in self.schema(version).fields}
        key = self.key_column
        norm_filters = []
        for col, op, val in filters:
            if op not in ops:
                raise ValueError(f"unsupported filter op {op!r} (use {sorted(ops)})")
            if col not in schema:
                raise ValueError(f"unknown column {col!r} in scan filter")
            if val is None:
                raise ValueError(
                    "NULL literal in a comparison matches nothing; filter "
                    "nulls with a residual isNull/isNotNull instead"
                )
            # strings compare RAW against the stored (truncated-min,
            # padded-max) bounds — truncating the literal itself could
            # prune a file whose true range contains it
            if isinstance(schema[col], T.StringType):
                nv = val if isinstance(val, str) else None
            else:
                nv = _stats_norm(val, schema[col], is_max=False)
            norm_filters.append((col, op, val, nv))

        # pre-rename files carry stats under prior names: consult the
        # mapping so old files stay prunable on renamed columns
        aliases = self.name_mapping(version)

        def keep(entry: dict) -> bool:
            stats = entry.get("stats") or {}
            for col, op, raw, nv in norm_filters:
                if col == key:
                    lo, hi = entry["min_url"], entry["max_url"]
                    v = raw
                else:
                    scol = col if col in stats else next(
                        (a for a in aliases.get(col, []) if a in stats), None
                    )
                    if scol is None or nv is None:
                        continue  # unprunable column: stay conservative
                    lo, hi = stats[scol]
                    v = nv
                if op == "=" and not (lo <= v <= hi):
                    return False
                if op == "!=" and lo == hi == v:
                    return False
                if op == ">" and not (hi > v):
                    return False
                if op == ">=" and not (hi >= v):
                    return False
                if op == "<" and not (lo < v):
                    return False
                if op == "<=" and not (lo <= v):
                    return False
            return True

        all_files = self.manifest_entries(version)
        kept = [f for f in all_files if keep(f)]
        return kept, len(all_files)

    def scan(
        self,
        filters: list[tuple[str, str, Any]],
        version: int | None = None,
        with_lsn: bool = False,
    ) -> DataFrame:
        """Stats-pruned read: ``plan_scan`` drops every data file whose
        column envelopes exclude the filters, the survivors are scanned
        with merge-on-read deletes applied (only the touched
        partitions' delete files), and the EXACT filter runs as a
        residual on top — so the result equals
        ``read().filter(...)`` while the I/O scales with the matching
        files, not the table. At 100 TB this is the difference between
        a full-table scan and touching one time-slice's files for a
        ``warc_ts >= X`` query."""
        kept, _ = self.plan_scan(filters, version)
        pids = {f["partition_id"] for f in kept}
        df = self._read_files(
            kept, version, with_lsn, deletes=self.delete_entries(version, pids)
        )
        residual = F.lit(True)
        for col, op, val in filters:
            c = F.col(col)
            residual = residual & {
                "=": c == F.lit(val),
                "!=": c != F.lit(val),
                "<": c < F.lit(val),
                "<=": c <= F.lit(val),
                ">": c > F.lit(val),
                ">=": c >= F.lit(val),
            }[op]
        return df.filter(residual)

    def _read_files(
        self,
        files: list[dict],
        version: int | None,
        with_lsn: bool,
        deletes: list[dict] | None = None,
    ) -> DataFrame:
        schema = self.schema(version)
        if with_lsn:
            schema = T.StructType(schema.fields + [T.StructField("_lsn", T.LongType(), True)])
        if not files:
            return self._local_df([], schema)
        # rename support: ONE scan requests current AND prior names (a
        # column absent in a given file reads as null per file), then a
        # coalesce folds the generations — no per-file dispatch, no
        # rewrite. Files written post-rename carry the current name.
        mapping = {
            k: v
            for k, v in self.name_mapping(version).items()
            if any(f.name == k for f in schema.fields)
        }
        read_schema = schema
        if mapping:
            by_name = {f.name: f for f in schema.fields}
            extra = [
                T.StructField(a, by_name[cur].dataType, True)
                for cur, aliases in mapping.items()
                for a in aliases
            ]
            read_schema = T.StructType(schema.fields + extra)

        def _scan(entries: list[dict]) -> DataFrame:
            # explicit schema → old files lacking evolved columns yield
            # nulls (additive schema evolution on read, ST4) and the scan
            # prunes unrequested columns at the parquet footer level.
            df = self.spark.read.schema(read_schema).parquet(
                *[str(self.root / f["path"]) for f in entries]
            )
            for cur, aliases in mapping.items():
                df = df.withColumn(cur, F.coalesce(cur, *aliases)).drop(*aliases)
            return df

        deletes = deletes or []
        if not deletes:
            return _scan(files)
        # merge-on-read: a delete file written at epoch E shadows keys in
        # data files with added_epoch < E. ONE scan of every data file
        # (small files pack into shared splits), each row tagged with its
        # file's added_epoch from the manifest via the file path; ONE
        # narrow scan of every delete file reduced to max(delete_epoch)
        # per key; a single broadcast anti-join on
        # (key equal AND max_delete_epoch > added_epoch) applies all the
        # debt — a key survives iff no later delete shadows it, and
        # "exists epoch > ae" ≡ "max epoch > ae". The earlier shape (one
        # scan group + anti-join per distinct added_epoch, each re-reading
        # the overlapping delete tail) cost O(E) scans + O(E²) delete
        # reads per epoch at E epochs of debt; the endurance drive
        # measured epochs growing 3s → 230s between compactions from it.
        # The wide data rows still never shuffle: both joins broadcast.
        # ONE path → epoch side table serves both joins (a data file's
        # added_epoch, a delete file's epoch): the two broadcasts are the
        # same plan, so Spark builds it once and reuses the exchange.
        key = self.key_column
        _file = F.regexp_replace(F.input_file_name(), "^[a-zA-Z]+:(//)?", "")
        epochs = F.broadcast(
            self._local_df(
                [(str(self.root / f["path"]), int(f.get("added_epoch", 0))) for f in files]
                + [(str(self.root / d["path"]), int(d["epoch"])) for d in deletes],
                T.StructType(
                    [T.StructField("_file", T.StringType()), T.StructField("_ep", T.LongType())]
                ),
            )
        )
        # left join: an unmatched path (normalization drift) keeps the
        # row with _ae null — the null propagates through the anti-join
        # condition as not-true, so the row survives rather than being
        # silently dropped
        df = (
            _scan(files)
            .withColumn("_file", _file)
            .join(epochs, "_file", "left")
            .withColumnRenamed("_ep", "_ae")
        )
        dk = (
            self.spark.read.schema(T.StructType([T.StructField(key, T.StringType())]))
            .parquet(*[str(self.root / d["path"]) for d in deletes])
            .withColumn("_file", _file)
            .join(epochs, "_file")
            .groupBy(F.col(key).alias("_dk"))
            .agg(F.max("_ep").alias("_de"))
        )
        return df.join(
            F.broadcast(dk),
            (F.col(key) == F.col("_dk"))
            & (F.col("_de") > F.col("_ae")),
            "left_anti",
        ).drop("_file", "_ae")

    def read_lineage(self) -> DataFrame:
        if not self.lineage_dir.exists() or not any(self.lineage_dir.iterdir()):
            return self._local_df([], LINEAGE_SCHEMA)
        return self.spark.read.schema(LINEAGE_SCHEMA).parquet(str(self.lineage_dir / "*" / "*.parquet"))

    def write_quarantine(self, dirty: DataFrame, epoch: int) -> None:
        """Append an epoch's dirty (malformed) events to the quarantine
        area — routed, never applied (SURVEY.md P5). Idempotent per
        epoch: an existing epoch directory is left untouched on replay."""
        dest = self.root / "quarantine" / f"epoch={epoch}"
        if dest.exists():
            return
        tmp = self.root / "quarantine" / f".tmp-{uuid.uuid4().hex}"
        dirty.write.mode("overwrite").parquet(str(tmp))
        try:
            os.rename(tmp, dest)
        except OSError:
            shutil.rmtree(tmp, ignore_errors=True)
            if not dest.exists():
                # not the lost-race case (another writer published the
                # epoch) — a real failure must not silently drop the
                # epoch's dirty rows
                raise

    def read_quarantine(self) -> DataFrame | None:
        qdir = self.root / "quarantine"
        if not qdir.exists() or not any(qdir.glob("epoch=*")):
            return None
        return self.spark.read.option("mergeSchema", "true").parquet(
            *[str(p) for p in sorted(qdir.glob("epoch=*"))]
        )

    def quarantine_epochs(self) -> list[str]:
        """Names of the quarantine epoch directories currently present."""
        qdir = self.root / "quarantine"
        return sorted(p.name for p in qdir.glob("epoch=*")) if qdir.exists() else []

    def archive_quarantine(self, epoch_dirs: list[str]) -> int:
        """Move the named quarantine epoch directories into
        ``quarantine_archive`` (kept, NEVER deleted — the audit trail of
        what a reprocess consumed). A name that already exists in the
        archive (an epoch number reused across reprocess generations)
        archives under a ``.rK`` suffix rather than deleting either
        copy — the audit trail must not lose rows even when the two
        directories' contents differ. Returns the number of directories
        moved."""
        qdir = self.root / "quarantine"
        adir = self.root / "quarantine_archive"
        adir.mkdir(parents=True, exist_ok=True)
        moved = 0
        for name in epoch_dirs:
            src = qdir / name
            if not src.exists():
                continue
            dest = adir / name
            k = 1
            while dest.exists():
                dest = adir / f"{name}.r{k}"
                k += 1
            os.rename(src, dest)
            moved += 1
        return moved

    def read_incremental(self, from_version: int, to_version: int | None = None) -> DataFrame:
        """Incremental scan for downstream CDC consumers: rows in data
        files ADDED strictly after ``from_version`` up to ``to_version``
        (Iceberg's incremental-append scan). With copy-on-write MERGE an
        added file carries its partition's full post-image, so consumers
        see the latest state of every key touched since ``from_version``.
        """
        to_version = self.current_version() if to_version is None else to_version
        old = {f["path"] for f in self.manifest_entries(from_version)}
        files = [
            f for f in self.manifest_entries(to_version) if f["path"] not in old
        ]
        # merge-on-read: apply the target version's equality deletes, or a
        # key updated twice via MoR in the range would surface both its
        # stale and current rows (and an insert-then-delete as live)
        return self._read_files(
            files, to_version, with_lsn=False,
            deletes=self.delete_entries(to_version),
        )

    def read_changes(
        self,
        from_version: int,
        to_version: int | None = None,
        pre_images: bool = False,
    ) -> DataFrame:
        """Net row-level changelog (change-data-feed) between two retained
        versions: one row per key whose LIVE state differs, labeled
        ``_op`` ∈ {I, U, D}, carrying the to-version schema — post-image
        values for I/U, the pre-image for D — plus ``_lsn``: the
        post-image LSN for I/U; for D, the deletion event's LSN is not
        retained (the row is physically gone), so the feed emits the
        pre-image LSN + 1 — any value strictly past the pre-image orders
        the delete correctly for chained application, because the true
        deletion LSN was itself greater (per-key monotonicity). Renaming
        ``_op``→op / ``_lsn``→lsn yields a valid change-event batch, so a
        second table can ingest this feed directly (lake-to-lake sync —
        the DataX story with the lake as a *source*; tested end-to-end in
        tests/test_changelog.py).

        This is a SEMANTIC diff of the two states, not a file-log walk,
        so rewrite-only commits (compaction, rebucket, expiry) produce an
        EMPTY changelog, and merge-on-read deletes need no special
        casing. Cost scales with the CHANGED partitions' state, not the
        table: a partition whose data+delete file sets are identical at
        both versions cannot hold a changed key and is never scanned
        (when the partition spec itself changed between the versions —
        a rebucket — pids aren't comparable and the diff falls back to
        both full states). Rows equal in every user column but touched
        by a same-value rewrite do NOT appear (_lsn is bookkeeping, not
        payload).

        ``pre_images=True`` switches to the Delta-CDF four-op form the
        incremental-view maintainer consumes: each U splits into a
        ``UB`` (update pre-image, from-version values + LSN) and a
        ``UA`` (update post-image) row; I and D are unchanged. The
        split is a per-row explode inside the SAME single full-outer
        join — both images are already on the joined row, so pre-images
        cost no extra scan or shuffle."""
        to_version = self.current_version() if to_version is None else to_version
        key = self.metadata(to_version)["partition_spec"]["key"]
        bootstrap_empty = from_version == 0 and not (
            self.meta_dir / "v0.metadata.json"
        ).exists()
        if not bootstrap_empty and not (
            self.meta_dir / f"v{from_version}.metadata.json"
        ).exists():
            retained = sorted(
                int(p.name[1:].split(".")[0])
                for p in self.meta_dir.glob("v*.metadata.json")
            )
            raise ValueError(
                f"read_changes from_version={from_version} is expired "
                f"(retained versions: {retained}); re-bootstrap from 0 "
                f"(full state as inserts) or tag sync cursors so expiry "
                f"keeps them"
            )

        def _file_sets(v: int) -> dict[int, set[str]]:
            sets: dict[int, set[str]] = {}
            for f in self.manifest_entries(v) + self.delete_entries(v):
                sets.setdefault(f["partition_id"], set()).add(f["path"])
            return sets

        if bootstrap_empty:
            # v0 — the freshly-created table — is empty BY CONSTRUCTION
            # (create() publishes no files), so even after snapshot
            # expiry deletes its metadata the v0 state is known: the
            # bootstrap diff is "every live row is an insert". Without
            # this, the first sync against an aged source table crashed
            # on the missing v0 metadata file.
            schema_lsn = T.StructType(
                self.schema(to_version).fields
                + [T.StructField("_lsn", T.LongType(), True)]
            )
            state_a = self._local_df([], schema_lsn)
            state_b = self.read(to_version, with_lsn=True)
            spec_a = spec_b = None
        else:
            spec_a = self.metadata(from_version)["partition_spec"]
            spec_b = self.metadata(to_version)["partition_spec"]
        if spec_a is not None and spec_a == spec_b:
            fa, fb = _file_sets(from_version), _file_sets(to_version)
            pids = {
                p for p in set(fa) | set(fb) if fa.get(p, set()) != fb.get(p, set())
            }
            state_a, _ = self.read_partitions(pids, from_version, with_lsn=True)
            state_b, _ = self.read_partitions(pids, to_version, with_lsn=True)
        elif spec_a is not None:  # cross-rebucket diff: pids incomparable
            state_a = self.read(from_version, with_lsn=True)
            state_b = self.read(to_version, with_lsn=True)

        cols = [f.name for f in self.schema(to_version).fields]
        vals = [c for c in cols if c != key]
        # rename boundary: the from-version state carries pre-rename
        # names — fold them onto to-version names BEFORE the column
        # compare, so a rename alone yields an EMPTY changelog (it is a
        # rewrite-only schema event, not row churn)
        to_mapping = self.name_mapping(to_version)

        def _align(df: DataFrame, side: str) -> DataFrame:
            for cur, aliases in to_mapping.items():
                if cur not in df.columns:
                    for al in aliases:
                        if al in df.columns:
                            df = df.withColumnRenamed(al, cur)
                            break
            for f in self.schema(to_version).fields:
                if f.name not in df.columns:
                    df = df.withColumn(f.name, F.lit(None).cast(f.dataType))
            return df.select(
                F.col(key).alias(f"{side}_{key}"),
                *[F.col(c).alias(f"{side}_{c}") for c in vals],
                F.col("_lsn").alias(f"{side}_lsn"),
            )

        a, b = _align(state_a, "a"), _align(state_b, "b")
        j = a.join(b, a[f"a_{key}"] == b[f"b_{key}"], "full_outer")
        changed = F.lit(False)
        for c in vals:
            changed = changed | ~F.col(f"a_{c}").eqNullSafe(F.col(f"b_{c}"))
        op = (
            F.when(F.col(f"a_{key}").isNull(), "I")
            .when(F.col(f"b_{key}").isNull(), "D")
            .otherwise("U")
        )
        filtered = j.withColumn("_op", op).filter(
            (F.col("_op") != "U") | changed
        )
        if pre_images:
            def _img(side: str, lsn: F.Column) -> F.Column:
                return F.struct(
                    F.col(f"{side}_{key}").alias(key),
                    *[F.col(f"{side}_{c}").alias(c) for c in vals],
                    lsn.alias("_lsn"),
                )

            def _entry(o: str, img: F.Column) -> F.Column:
                return F.struct(F.lit(o).alias("_op"), img.alias("row"))

            rows = (
                F.when(
                    F.col("_op") == "I",
                    F.array(_entry("I", _img("b", F.col("b_lsn")))),
                )
                .when(
                    F.col("_op") == "D",
                    F.array(_entry("D", _img("a", F.col("a_lsn") + 1))),
                )
                .otherwise(
                    F.array(
                        _entry("UB", _img("a", F.col("a_lsn"))),
                        _entry("UA", _img("b", F.col("b_lsn"))),
                    )
                )
            )
            e = filtered.select(F.explode(rows).alias("e"))
            return e.select(
                F.col("e._op").alias("_op"),
                *[F.col(f"e.row.{c}").alias(c) for c in [key, *vals]],
                F.col("e.row._lsn").alias("_lsn"),
            )
        # side-select by op, NOT coalesce: an update that nulls an evolved
        # column must surface the null post-image, not the old value
        is_d = F.col("_op") == "D"
        pick = lambda c: F.when(is_d, F.col(f"a_{c}")).otherwise(F.col(f"b_{c}"))
        return filtered.select(
            "_op",
            pick(key).alias(key),
            *[pick(c).alias(c) for c in vals],
            F.when(is_d, F.col("a_lsn") + 1)
            .otherwise(F.col("b_lsn"))
            .alias("_lsn"),
        )

    def version_as_of(self, ts) -> int:
        """Newest retained version committed at or before ``ts`` (unix
        seconds or datetime) — SQL's ``FOR SYSTEM_TIME AS OF`` / Iceberg
        ``snapshot_at``. Versions predating the stamp field (or written
        by purge's in-place rewrite) fall back to file mtime."""
        import datetime as _dt

        if isinstance(ts, _dt.datetime):
            ts = ts.timestamp()
        best = None
        for p in self.meta_dir.glob("v*.metadata.json"):
            v = int(p.name[1:].split(".")[0])
            at = self.metadata(v).get("committed_at")
            if at is None:
                at = p.stat().st_mtime
            if at <= ts and (best is None or v > best):
                best = v
        if best is None:
            raise ValueError(
                f"no retained snapshot at or before {ts} "
                f"(oldest retained may have been expired)"
            )
        return best

    def history(self) -> list[dict]:
        """Snapshot log, oldest → newest (Iceberg's table.history()):
        one row per still-retained version with its summary. Expired
        versions are absent — exactly the time-travel horizon."""
        current = self.current_version()
        out = []
        for v in range(current + 1):
            if not (self.meta_dir / f"v{v}.metadata.json").exists():
                continue
            m = self.metadata(v)
            out.append(
                {
                    "version": v,
                    "parent_version": m["parent_version"],
                    "schema_id": m["schema_id"],
                    "summary": m["summary"],
                }
            )
        return out

    # ------------------------------------------------------------------ #
    # maintenance (Iceberg-style table services)
    # ------------------------------------------------------------------ #
    def rebucket(self, new_num_partitions: int) -> int:
        """Partition-spec evolution: rewrite the whole table under a new
        partition count (a table that outgrew its bucket count gets hot
        partitions and oversized files; at 10^10 rows this is the
        re-bucketing maintenance job, run rarely and deliberately).
        One full read (deletes applied) → one aligned write → one
        commit; the idempotence ledger carries over, so epoch replay
        semantics are untouched. Readers loading after the commit see
        the new partition_spec atomically."""
        if new_num_partitions == self.num_partitions:
            return self.current_version()
        df = self.read(with_lsn=True)
        meta = self.metadata()
        # route by the NEW partitioning: repartitioned here to the new
        # count, the staged write needs no exchange of its own (task
        # index == new pid); the new spec publishes after the files
        key = self.key_column
        df = _data_rows(
            df.withColumn("_pid", url_partition(key, new_num_partitions))
        ).repartition(new_num_partitions, F.col(key))
        new_files, _ = self._stage(
            df, meta["summary"].get("last_epoch", 0), aligned=True, bloom_compose=None
        )
        # ONE atomic snapshot: full new manifest set AND the new
        # partition_spec together — no window where new-layout files pair
        # with the old spec (pruning under a mismatched spec would probe
        # wrong partitions)
        by_pid: dict[int, list[dict]] = {}
        for f in new_files:
            by_pid.setdefault(f["partition_id"], []).append(f)
        manifests = {
            str(pid): self._write_manifest(pid, entries)
            for pid, entries in sorted(by_pid.items())
        }
        new_version = meta["version"] + 1
        self._publish(
            {
                **meta,
                "version": new_version,
                "parent_version": meta["version"],
                "partition_spec": {
                    **meta["partition_spec"],
                    "num_partitions": new_num_partitions,
                },
                "manifests": manifests,
                "summary": {
                    **meta["summary"],
                    "total_rows": sum(f["rows"] for f in new_files),
                    "rebucketed_to": new_num_partitions,
                },
            }
        )
        return new_version

    def compact(self, min_files: int = 2) -> list[int]:
        """Table-service sweep: compact every partition holding at least
        ``min_files`` data files (bloom-pruned merges accumulate small
        per-epoch files in hot partitions). Returns the partitions
        compacted. Run between epochs — each compaction is its own
        snapshot and CAS-conflicts safely with concurrent ingest."""
        counts: dict[int, int] = {}
        for f in self.manifest_entries() + self.delete_entries():
            counts[f["partition_id"]] = counts.get(f["partition_id"], 0) + 1
        done = []
        for pid, n in sorted(counts.items()):
            if n >= min_files and self.compact_partition(pid) is not None:
                done.append(pid)
        return done

    def compact_partition(self, partition_id: int) -> int | None:
        """Rewrite a partition's files into one sorted file (bin-pack
        compaction). A no-op (returns None) when the partition already
        has <= 1 file. Publishes a new snapshot; concurrent ingest would
        CAS-conflict and retry, exactly like Iceberg's rewrite-data-files
        action."""
        meta = self.metadata()
        files = self.manifest_entries(partition_ids={partition_id})
        dels = self.delete_entries(partition_ids={partition_id})
        if len(files) <= 1 and not dels:
            return None
        # read WITH deletes applied → the compacted file materializes the
        # post-delete state and the folded delete files drop out of the
        # manifest (merge-on-read debt paid down here, exactly Iceberg's
        # rewrite-data-files + rewrite-position-deletes pairing)
        df = self._read_files(files, None, with_lsn=True, deletes=dels)
        df = df.withColumn("_pid", F.lit(partition_id))
        epoch_tag = meta["summary"].get("last_epoch", 0)
        # stage_data_files' aligned repartition(P, key) routes every row
        # of this partition to one task → exactly one output file
        new_files = self.stage_data_files(df, epoch_tag)
        return self.commit(
            epoch_tag,
            set(),  # maintenance: no new (epoch, pid) idempotence keys
            new_files,
            removed=files + dels,
            summary_extra={"compacted_pid": partition_id},
            # the rewrite set was computed against this snapshot; an
            # interleaved ingest invalidates it → conflict, not silent
            # row resurrection
            expected_version=meta["version"],
            # pure rewrite of one partition's full file set: disjoint by
            # construction, skip the raw-commit overlap guard
            verify_disjoint=False,
        )

    def expire_snapshots(self, keep_last: int = 2) -> list[str]:
        """Delete metadata versions, orphaned data files, manifest files
        and bloom sidecars older than the last ``keep_last`` snapshots.
        Returns deleted data-file paths. Time travel to expired versions
        stops working — exactly Iceberg's expire_snapshots contract."""
        current = self.current_version()
        cutoff = max(current - keep_last + 1, 0)
        # tagged snapshots survive expiry regardless of age (Iceberg ref
        # retention): they stay readable and their files stay live
        keep = set(range(cutoff, current + 1)) | set(
            self.metadata().get("refs", {}).values()
        )
        live: set[str] = set()
        live_manifests: set[str] = set()
        live_blooms: set[str] = set()
        for v in sorted(keep):
            live_manifests |= set(self.metadata(v)["manifests"].values())
            for f in self.manifest_entries(v):
                live.add(f["path"])
                if f.get("bloom"):
                    live_blooms.add(f["bloom"])
            live |= {d["path"] for d in self.delete_entries(v)}
        deleted: list[str] = []
        # enumerate versions from the directory, not range(cutoff): after
        # K expiries only ~keep_last versions exist, and a per-epoch
        # expiry schedule must not pay O(all epochs ever) stat calls
        expired = sorted(
            v
            for p in self.meta_dir.glob("v*.metadata.json")
            if (v := int(p.name[1:].split(".")[0])) < cutoff and v not in keep
        )
        for v in expired:
            for mrel in self.metadata(v)["manifests"].values():
                try:
                    doc = self._load_manifest_doc(mrel)
                except FileNotFoundError:
                    # manifest shared with an earlier-expired version
                    # (single-partition maintenance commits leave the
                    # other partitions' manifests untouched); its files
                    # were already swept when it was first expired
                    continue
                for f in doc["files"] + doc["deletes"]:
                    if f["path"] not in live and (self.root / f["path"]).exists():
                        (self.root / f["path"]).unlink()
                        deleted.append(f["path"])
                        brel = f.get("bloom")
                        # a consolidated sidecar is shared by every file
                        # of its staging call — sweep it only when no
                        # retained version references it through ANY file
                        if brel and brel not in live_blooms:
                            (self.root / brel).unlink(missing_ok=True)
                if mrel not in live_manifests:
                    (self.root / mrel).unlink(missing_ok=True)
                    self._manifest_cache.pop(mrel, None)
            (self.meta_dir / f"v{v}.metadata.json").unlink(missing_ok=True)
        return deleted

    def rollback(self, to_version: int) -> int:
        """Restore snapshot ``to_version``'s state as a NEW version —
        Iceberg rollback semantics: history stays append-only (the bad
        versions remain inspectable until expiry), data files are not
        touched, and everything that DEFINES state comes back wholesale
        from the target snapshot: manifests, schema pointer + history,
        partition spec, the ``(epoch, pid)`` commit ledger, and its
        watermark. Because the rolled-back ledger no longer records the
        epochs applied after ``to_version``, a driver ``replay()``
        re-applies exactly those epochs — rollback + replay converges
        to the pre-rollback state bit-for-bit, and rollback + corrected
        upstream data re-ingests cleanly. Target must not be expired."""
        cur = self.metadata()
        if to_version == cur["version"]:
            return to_version
        old = self.metadata(to_version)  # raises if expired/absent
        new_meta = {
            **old,
            "version": cur["version"] + 1,
            "parent_version": cur["version"],
            # refs are table-level, not snapshot-state: tags created
            # after the restored version must survive the rollback
            "refs": cur.get("refs", {}),
            "summary": {
                **old["summary"],
                "rolled_back_from": cur["version"],
                "restored_version": to_version,
            },
        }
        self._publish(new_meta)
        return new_meta["version"]

    def remove_orphans(self, grace_seconds: float = 3600.0) -> list[str]:
        """Delete files under the table root that NO metadata version
        references — data/delete files staged by an epoch that crashed
        before its commit, and their manifests/bloom sidecars. (Readers
        already ignore them: only committed snapshots are scanned —
        Iceberg's own rule — so orphans cost disk, not correctness;
        this is Iceberg's ``remove_orphan_files`` action.)

        ``grace_seconds`` protects an IN-FLIGHT epoch: a file younger
        than the grace window is presumed to belong to a staging whose
        commit hasn't landed yet and is kept. Returns removed paths
        (root-relative)."""
        import time as _time

        ref_files: set[str] = set()
        ref_manifests: set[str] = set()
        ref_blooms: set[str] = set()
        versions = sorted(
            int(p.name[1:].split(".")[0])
            for p in self.meta_dir.glob("v*.metadata.json")
        )
        for v in versions:
            for mrel in self.metadata(v)["manifests"].values():
                ref_manifests.add(mrel)
                doc = self._load_manifest_doc(mrel)
                for f in doc["files"] + doc["deletes"]:
                    ref_files.add(f["path"])
                    if f.get("bloom"):
                        ref_blooms.add(f["bloom"])
        cutoff = _time.time() - grace_seconds
        removed: list[str] = []

        def sweep(base: Path, pattern: str, referenced: set[str]) -> None:
            if not base.exists():
                return
            for p in base.rglob(pattern):
                rel = str(p.relative_to(self.root))
                if rel in referenced or p.stat().st_mtime >= cutoff:
                    continue
                p.unlink()
                removed.append(rel)

        sweep(self.data_dir, "*.parquet", ref_files)
        sweep(self.manifest_dir, "*.json", ref_manifests)
        sweep(self.bloom_dir, "*", ref_blooms)
        # staging trees (_staging-*) are where a crashed epoch's files
        # actually live — _publish_staged removes them on success, so a
        # surviving one IS the crash artifact. Age by the newest file
        # inside (the write may have died mid-stream).
        import shutil as _shutil

        for d in self.root.glob("_staging-*"):
            if not d.is_dir():
                continue
            newest = max(
                (p.stat().st_mtime for p in d.rglob("*") if p.is_file()),
                default=d.stat().st_mtime,
            )
            if newest < cutoff:
                _shutil.rmtree(d, ignore_errors=True)
                removed.append(str(d.relative_to(self.root)))
        for rel in removed:
            self._manifest_cache.pop(rel, None)
        return sorted(removed)

    def purge_keys(self, keys) -> dict[str, Any]:
        """Compliance hard-delete (right-to-be-forgotten): physically
        remove every row whose key is in ``keys`` from EVERY retained
        snapshot — the current state, all time-travel versions, tagged
        snapshots, equality-delete files, and the quarantine area —
        while preserving version numbers, the ``(epoch, pid)`` commit
        ledger, schema history, tags and every OTHER row bit-for-bit.
        This is the one operation that legitimately rewrites history in
        place: ordinary deletes (MERGE D-events, DELETE FROM) remove a
        key from the NEXT snapshot only, and expire_snapshots ages data
        out wholesale; a legal erasure demand needs the key gone from
        the versions that remain readable.

        Scale shape: the touched-file set is pruned three ways before
        any data is read — partition (murmur3 of each key names its
        pid, only those pids' manifests load), the per-file
        [min_url, max_url] envelope, then the bloom sidecars — so a
        k-key purge rewrites O(files actually containing those keys),
        not O(table). Each hit file is rewritten once (versions share
        physical files; the rewrite is shared the same way) via a
        driver-side Arrow read→filter→write that preserves row order,
        physical schema (evolved columns, ``_lsn``), codec and footer
        stats; rewrites fan out on an I/O thread pool. Bloom sidecars
        are carried over unchanged: a bloom is a maybe-contains filter,
        so one still advertising a purged key costs a wasted probe,
        never a wrong result.

        Semantics kept: ``read(v)`` at every retained v excludes the
        keys and is otherwise unchanged; ``read_changes`` between
        retained versions can no longer emit the keys; replaying an
        epoch whose UPSTREAM feed still carries the key will re-insert
        it — erasure of the source feed is the caller's duty (same as
        Iceberg + Kafka deployments). Maintenance op: run from the
        single writer (or under the writer lease) like rebucket and
        expire_snapshots — a commit racing the in-place metadata
        rewrite could resurrect a pre-purge manifest.

        Returns ``{"files_rewritten", "files_dropped", "rows_purged",
        "delete_files_rewritten", "quarantine_rows_purged",
        "versions_touched", "audit_version"}``.
        """
        keys = sorted({k for k in keys})
        key = self.key_column
        if not keys:
            return {
                "files_rewritten": 0, "files_dropped": 0, "rows_purged": 0,
                "delete_files_rewritten": 0, "quarantine_rows_purged": 0,
                "versions_touched": [], "audit_version": self.current_version(),
            }
        # pids via the engine's own hash (one tiny job — never reimplement
        # murmur3 driver-side and risk a seed drift)
        kdf = self._local_df(
            [(k,) for k in keys], T.StructType([T.StructField(key, T.StringType())])
        )
        pids = {
            r["p"]
            for r in kdf.select(
                url_partition(F.col(key), self.num_partitions).alias("p")
            ).distinct().collect()
        }
        versions = sorted(
            int(p.name[1:].split(".")[0])
            for p in self.meta_dir.glob("v*.metadata.json")
        )
        # union of candidate entries across every retained version,
        # keyed by physical path (versions share files; rewrite once)
        data_entries: dict[str, dict] = {}
        del_entries: dict[str, dict] = {}
        metas = {v: self.metadata(v) for v in versions}
        for v in versions:
            for pid_s, mrel in metas[v]["manifests"].items():
                if int(pid_s) not in pids:
                    continue
                doc = self._load_manifest_doc(mrel)
                for f in doc["files"]:
                    if any(f["min_url"] <= k <= f["max_url"] for k in keys):
                        data_entries.setdefault(f["path"], f)
                for d in doc["deletes"]:
                    # narrow key lists — no envelope in the entry; always
                    # candidates within an affected pid
                    del_entries.setdefault(d["path"], d)
        candidates = self.bloom_prune(list(data_entries.values()), kdf)
        stats_schema = self._stats_schema()
        key_set = set(keys)

        def _rewrite(path_rel: str, is_delete: bool):
            """Arrow read→filter→write of one file; returns
            (path_rel, new_entry|None, rows_removed) — new_entry is the
            old manifest entry with path/rows/stats refreshed; None when
            every row was purged. Row order, schema, codec preserved."""
            import pyarrow.compute as pc

            src = self.root / path_rel
            tbl = pq.read_table(src)
            mask = pc.is_in(tbl[key], value_set=pa.array(keys, tbl[key].type))
            removed = pc.sum(mask).as_py() or 0
            if not removed:
                return path_rel, data_entries.get(path_rel) or del_entries.get(path_rel), 0
            kept = tbl.filter(pc.invert(mask))
            old = del_entries[path_rel] if is_delete else data_entries[path_rel]
            if kept.num_rows == 0:
                return path_rel, None, removed
            codec = "snappy"
            try:
                codec = pq.ParquetFile(src).metadata.row_group(0).column(0).compression.lower()
            except Exception:
                pass
            dest = src.parent / f"purge-{uuid.uuid4().hex[:12]}.parquet"
            pq.write_table(kept, dest, compression=codec, version="2.6")
            meta = pq.read_metadata(dest)
            e = {**old, "path": str(dest.relative_to(self.root)), "rows": meta.num_rows}
            if not is_delete:
                e["min_url"], e["max_url"] = _key_stats(meta, key)
                if stats_schema is not None and "stats" in old:
                    e["stats"] = _column_stats(meta, stats_schema, key)
            return path_rel, e, removed

        jobs = [(f["path"], False) for f in candidates] + [
            (p, True) for p in del_entries
        ]
        mapping: dict[str, dict | None] = {}
        rows_purged = files_rewritten = files_dropped = dels_rewritten = 0
        removed_by_path: dict[str, int] = {}
        if jobs:
            with ThreadPoolExecutor(max_workers=min(16, len(jobs))) as ex:
                for path_rel, new_entry, removed in ex.map(
                    lambda j: _rewrite(*j), jobs
                ):
                    if removed:
                        mapping[path_rel] = new_entry
                        removed_by_path[path_rel] = removed
                        is_del = path_rel in del_entries
                        rows_purged += 0 if is_del else removed
                        if new_entry is None:
                            files_dropped += 1
                        elif is_del:
                            dels_rewritten += 1
                        else:
                            files_rewritten += 1
        touched_versions: list[int] = []
        replaced_manifests: set[str] = set()
        if mapping:
            new_manifest_for: dict[str, str] = {}  # old rel -> new rel
            for v in versions:
                meta = metas[v]
                manifests = dict(meta["manifests"])
                delta_rows = 0
                changed = False
                for pid_s in list(manifests):
                    if int(pid_s) not in pids:
                        continue
                    mrel = manifests[pid_s]
                    doc = self._load_manifest_doc(mrel)
                    hit = any(
                        f["path"] in mapping for f in doc["files"] + doc["deletes"]
                    )
                    if not hit:
                        continue
                    delta_rows += sum(
                        removed_by_path.get(f["path"], 0) for f in doc["files"]
                    )
                    if mrel not in new_manifest_for:
                        nf = [
                            mapping.get(f["path"], f)
                            for f in doc["files"]
                            if mapping.get(f["path"], f) is not None
                        ]
                        nd = [
                            mapping.get(d["path"], d)
                            for d in doc["deletes"]
                            if mapping.get(d["path"], d) is not None
                        ]
                        new_manifest_for[mrel] = self._write_manifest(
                            int(pid_s), nf, nd
                        )
                        replaced_manifests.add(mrel)
                    manifests[pid_s] = new_manifest_for[mrel]
                    changed = True
                if not changed:
                    continue
                summary = dict(meta.get("summary") or {})
                if "total_rows" in summary:
                    summary["total_rows"] = summary["total_rows"] - delta_rows
                new_meta = {**meta, "manifests": manifests, "summary": summary}
                tmp = self.meta_dir / f".tmp-purge-{uuid.uuid4().hex}.json"
                tmp.write_text(json.dumps(new_meta, sort_keys=True))
                os.replace(tmp, self.meta_dir / f"v{v}.metadata.json")
                touched_versions.append(v)
            for path_rel in mapping:
                (self.root / path_rel).unlink(missing_ok=True)
            for mrel in replaced_manifests:
                (self.root / mrel).unlink(missing_ok=True)
                self._manifest_cache.pop(mrel, None)
        # quarantine rows carry the full raw payload including the key
        q_rows = 0
        qdir = self.root / "quarantine"
        if qdir.exists():
            import pyarrow.compute as pc

            for part in sorted(qdir.glob("epoch=*/*.parquet")):
                tbl = pq.read_table(part)
                if key not in tbl.schema.names:
                    continue
                mask = pc.is_in(
                    tbl[key], value_set=pa.array(keys, tbl[key].type)
                )
                n = pc.sum(mask).as_py() or 0
                if not n:
                    continue
                tmp = part.parent / f".tmp-{uuid.uuid4().hex}.parquet"
                pq.write_table(
                    tbl.filter(pc.invert(mask)), tmp, version="2.6"
                )
                os.replace(tmp, part)
                # Spark's local-FS writes leave a .crc sidecar; stale
                # after the in-place rewrite → Hadoop ChecksumException
                (part.parent / f".{part.name}.crc").unlink(missing_ok=True)
                q_rows += n
        # audit trail: a rewrite-only snapshot recording THAT a purge ran
        # (count only — recording the keys would defeat the erasure)
        cur = self.metadata()
        audit = {
            **cur,
            "version": cur["version"] + 1,
            "parent_version": cur["version"],
            "summary": {
                **(cur.get("summary") or {}),
                "purge": {
                    "keys_purged": len(keys),
                    "rows_purged": rows_purged,
                    "versions_touched": touched_versions,
                },
            },
        }
        self._publish(audit)
        return {
            "files_rewritten": files_rewritten,
            "files_dropped": files_dropped,
            "rows_purged": rows_purged,
            "delete_files_rewritten": dels_rewritten,
            "quarantine_rows_purged": q_rows,
            "versions_touched": touched_versions,
            "audit_version": audit["version"],
        }

    def clone(self, target_root: str | Path) -> "IceTable":
        """Zero-copy clone: a fully independent table at ``target_root``
        sharing the source's immutable data bytes via hard links. Every
        retained snapshot, tag, property, the commit ledger, lineage,
        bloom sidecars and quarantine come along, so the clone time
        travels and replays exactly like the source — but each side's
        subsequent commits, compactions and expiries are invisible to
        the other (new files get new uuid names; linked files are never
        mutated in place, the engine's immutability rule, so a link can
        never observe a write through the other root). Disk cost is
        metadata-only — this is the dev/test-against-prod story without
        a copy, and unlike a path-sharing view (Iceberg's register_table
        on the same location) the source expiring a snapshot can never
        dangle the clone: each root owns its links. Falls back to a real
        copy per-file when the target sits on a different filesystem."""
        src_root = self.root
        t = IceTable(self.spark, target_root)
        if (t.meta_dir / "version-hint.text").exists():
            raise FileExistsError(f"table already exists at {target_root}")
        for d in (t.meta_dir, t.manifest_dir, t.bloom_dir, t.data_dir, t.lineage_dir):
            d.mkdir(parents=True, exist_ok=True)

        def _link(rel: str) -> None:
            src, dst = src_root / rel, t.root / rel
            if dst.exists():
                return
            dst.parent.mkdir(parents=True, exist_ok=True)
            try:
                os.link(src, dst)
            except OSError:
                shutil.copy2(src, dst)

        new_uuid = str(uuid.uuid5(uuid.NAMESPACE_URL, str(target_root)))
        versions = sorted(
            int(p.name[1:].split(".")[0])
            for p in self.meta_dir.glob("v*.metadata.json")
        )
        for v in versions:
            meta = self.metadata(v)
            for mrel in meta["manifests"].values():
                _link(mrel)
                doc = self._load_manifest_doc(mrel)
                for f in doc["files"] + doc["deletes"]:
                    _link(f["path"])
                    if f.get("bloom"):
                        _link(f["bloom"])
            (t.meta_dir / f"v{v}.metadata.json").write_text(
                json.dumps({**meta, "table_uuid": new_uuid}, sort_keys=True)
            )
        for extra in ("lineage", "quarantine"):
            base = src_root / extra
            if base.exists():
                for p in base.rglob("*"):
                    if p.is_file():
                        _link(str(p.relative_to(src_root)))
        (t.meta_dir / "version-hint.text").write_text(
            (self.meta_dir / "version-hint.text").read_text()
        )
        return IceTable.load(self.spark, target_root)

    # ------------------------------------------------------------------ #
    # write path
    # ------------------------------------------------------------------ #
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

    # ------------------------------------------------------------------ #
    # per-file key bloom filters (manifest-level secondary index)
    # ------------------------------------------------------------------ #
    # Envelope [min,max] pruning is weak when a batch's keys span a
    # partition's range; the bloom answers "could this file contain any
    # of the batch's keys" per file. Build and probe both run as Spark
    # jobs over the SAME hash expressions (xxhash64(key, i)), so no
    # Python-side hash reimplementation exists to drift. The word arrays
    # live in CONSOLIDATED sidecar (puffin-style) PARQUET files under
    # metadata/blooms/ — one row per data file, one file per staging
    # call — referenced by path from manifest entries: snapshot and
    # manifest JSON stay small, a sidecar is read only when a MERGE
    # actually probes its files, the probe reads sidecars as a
    # distributed parquet scan (word maps never transit the driver), and
    # the probe's relation setup is O(staging calls) not O(probed
    # files).
    BLOOM_K = 4
    BLOOM_BITS_PER_KEY = 10
    BLOOM_MAX_BITS = 1 << 20
    # cap on cached sidecar word maps (compose path): bounds driver
    # memory at ~cache_max × 128 KB regardless of epoch count
    BLOOM_WORDS_CACHE_MAX = 256
    # expected true hits (batch keys that already exist, spread by row
    # share) at which read_partitions keeps a file without probing it
    BLOOM_SURE_HITS = 4

    def _bloom_positions(self, key_col, m_col):
        return [
            F.pmod(F.xxhash64(key_col, F.lit(i)), m_col) for i in range(self.BLOOM_K)
        ]

    def _bloom_m_for_rows(self, rows: int) -> int:
        return min(
            max(1 << (rows * self.BLOOM_BITS_PER_KEY - 1).bit_length(), 1024),
            self.BLOOM_MAX_BITS,
        )

    def _load_sidecar_words(
        self, rel: str, path: str
    ) -> tuple[int, dict[int, int]] | None:
        """Driver-side read of one data file's bloom → (m, sparse word
        map), or None if the sidecar is gone. A sidecar parquet is
        CONSOLIDATED — one row per data file written by the same staging
        call, keyed by the ``path`` column — so one read populates the
        cache for every row. Cached (sidecars are immutable),
        FIFO-capped: a rewritten file's bloom is composed once and the
        file dies, so over a long ingest an uncapped map is pure driver
        growth (~128 KB per max-size entry). Used only by bloom
        COMPOSITION, which touches O(rewritten files) blooms per
        epoch — the probe path never comes through here."""
        ck = (rel, path)
        cached = self._bloom_words_cache.get(ck)
        if cached is not None:
            return cached
        p = self.root / rel
        if not p.exists():
            return None
        t = pq.read_table(p, columns=["path", "m", "word_idx", "bits"])
        for i in range(t.num_rows):
            m = t.column("m")[i].as_py()
            words = dict(
                zip(t.column("word_idx")[i].as_py(), t.column("bits")[i].as_py())
            )
            self._cache_sidecar_words((rel, t.column("path")[i].as_py()), (m, words))
        return self._bloom_words_cache.get(ck)

    def _cache_sidecar_words(self, ck, val) -> None:
        while len(self._bloom_words_cache) >= self.BLOOM_WORDS_CACHE_MAX:
            self._bloom_words_cache.pop(next(iter(self._bloom_words_cache)))
        self._bloom_words_cache[ck] = val

    def _bloom_words_for_keys(
        self, keys_df: DataFrame, m_by_pid: dict[int, int]
    ) -> dict[int, dict[int, int]]:
        """One narrow Spark job: bloom word maps of the batch's keys per
        partition id, sized per-pid. Same hash expressions as build and
        probe — no Python-side hash reimplementation."""
        if not m_by_pid:
            return {}
        key = self.key_column
        m_map = F.create_map(
            *[x for pid, m in m_by_pid.items() for x in (F.lit(pid), F.lit(m))]
        )
        df = (
            keys_df.select(F.col("_pid"), F.col(key))
            .withColumn("_m", F.element_at(m_map, F.col("_pid")))
            .filter(F.col("_m").isNotNull())
        )
        pos = F.explode(F.array(*self._bloom_positions(F.col(key), F.col("_m")))).alias("_pos")
        rows = (
            df.select("_pid", pos)
            .select(
                "_pid",
                (F.col("_pos") / 64).cast("long").alias("_w"),
                F.expr("shiftleft(CAST(1 AS BIGINT), CAST(_pos % 64 AS INT))").alias("_b"),
            )
            .groupBy("_pid", "_w")
            .agg(F.bit_or("_b").alias("_bits"))
            .collect()
        )
        out: dict[int, dict[int, int]] = {}
        for r in rows:
            out.setdefault(r["_pid"], {})[int(r["_w"])] = int(r["_bits"])
        return out

    def _write_bloom_sidecars(self, rows: list[tuple[dict, int, dict[int, int]]]) -> None:
        """Write ONE consolidated sidecar parquet for a whole staging
        call — one row per new data file, keyed by the ``path`` column —
        and stamp each entry's ``bloom`` ref with the shared rel. The
        probe scans sidecars as distributed parquet; with per-file
        sidecars its relation setup (driver-side stat + plan per path)
        was O(live data files) per epoch, the dominant read-side fixed
        cost the endurance profile measured. Consolidation divides the
        probed path count by the files-per-staging factor and replaces N
        driver pq.write_table calls with one."""
        if not rows:
            return
        self.bloom_dir.mkdir(parents=True, exist_ok=True)
        idx = [sorted(sparse) for _, _, sparse in rows]
        tbl = pa.table(
            {
                "path": pa.array([e["path"] for e, _, _ in rows], pa.string()),
                "pid": pa.array([e["partition_id"] for e, _, _ in rows], pa.int32()),
                "m": pa.array([m for _, m, _ in rows], pa.int64()),
                "k": pa.array([self.BLOOM_K] * len(rows), pa.int32()),
                "word_idx": pa.array(idx, pa.list_(pa.int64())),
                "bits": pa.array(
                    [
                        [int(sparse[w]) for w in ws]
                        for (_, _, sparse), ws in zip(rows, idx)
                    ],
                    pa.list_(pa.int64()),
                ),
            }
        )
        sidecar = self.bloom_dir / f"b-{uuid.uuid4().hex[:12]}.bloom.parquet"
        pq.write_table(tbl, sidecar)
        rel = str(sidecar.relative_to(self.root))
        for e, _, _ in rows:
            e["bloom"] = rel

    def _begin_bloom_compose(
        self,
        compose: tuple[DataFrame, dict[int, list[dict]], dict[int, int]] | None,
    ):
        """Start the bloom-compose batch-keys job BEFORE the epoch's data
        write so the two Spark jobs overlap — run serially, the narrow
        words job added ~0.5-1s of pure wall per epoch, the dominant
        residual fixed cost at small (endurance-shape) epochs.

        The per-pid bloom size m must be known before the write for that
        to work, so it is predicted instead of derived from the written
        file's row count: pids with rewritten old files use the old
        sidecars' common m (OR-composition requires equal m anyway);
        fresh pids use the batch key count, an upper bound on the new
        file's rows (sparse word maps store set bits only, so a
        too-large m costs nothing). ``_finish`` falls back to the scan
        path for any file whose prediction was unusable or badly
        undersized.

        Returns ``(m_by_pid, maps_by_pid, words_future)`` or None.
        """
        if compose is None:
            return None
        keys_df, old_by_pid, n_keys_by_pid = compose
        m_by_pid: dict[int, int] = {}
        maps_by_pid: dict[int, list[dict[int, int]]] = {}
        for pid, olds in old_by_pid.items():
            maps: list[dict[int, int]] = []
            m: int | None = None
            for o in olds:
                side = o.get("bloom") and self._load_sidecar_words(o["bloom"], o["path"])
                if not side or (m is not None and side[0] != m):
                    m = None
                    break
                m = side[0]
                maps.append(side[1])
            if m is not None:
                m_by_pid[pid], maps_by_pid[pid] = m, maps
        for pid, nk in n_keys_by_pid.items():
            if pid not in old_by_pid:
                m_by_pid[pid] = self._bloom_m_for_rows(nk)
                maps_by_pid[pid] = []
        # the job inherits the caller's local properties (job group,
        # description, pool) — a plain pool thread would drop them, and
        # cancelJobGroup would miss the compose job. Submitted through a
        # lambda so the job's call site names this line, not the pool's
        # thread.py (Spark names a job after the frame entering pyspark)
        words = inheritable_thread_target(self.spark)(self._bloom_words_for_keys)
        ex = ThreadPoolExecutor(max_workers=1)
        fut = ex.submit(lambda: words(keys_df, m_by_pid))
        ex.shutdown(wait=False)  # future still completes; no cleanup path
        return (m_by_pid, maps_by_pid, fut)

    def _attach_blooms(self, entries: list[dict], pre=None) -> None:
        """Write a key-bloom sidecar per new data file.

        Default path: one Spark job re-reading the new files' key column.
        With ``pre`` (from ``_begin_bloom_compose``) — the MERGE path —
        a new file's bloom is instead the bitwise OR of the rewritten
        old files' sidecars and the batch keys' bloom: the new file's
        keys are exactly (old files' keys ∖ deletes) ∪ batch keys, so
        the OR is a conservative superset (deleted keys linger as
        false-positive bits until compaction rebuilds from a real
        scan). Cost is O(batch keys) + O(rewritten sidecar bytes) per
        epoch instead of re-reading every rewritten partition's key
        column — at 100 TB a CoW epoch rewrites multi-hundred-MB files
        whose keys would otherwise be re-hashed every epoch — and the
        batch-keys job already ran concurrently with the data write.
        Falls back to the scan for any file whose old sidecars were
        missing or mismatched, or whose predicted m is >4× undersized
        for the rows actually written (compaction folding many files
        into one; the guard keeps the composed bloom's false-positive
        rate useful rather than letting it decay toward always-hit).
        """
        if not entries:
            return
        key = self.key_column
        m_by_path = {e["path"]: self._bloom_m_for_rows(e["rows"]) for e in entries}
        out_rows: list[tuple[dict, int, dict[int, int]]] = []
        rescan = entries
        if pre is not None:
            m_by_pid, maps_by_pid, fut = pre
            batch_words = fut.result()
            rescan = []
            for e in entries:
                pid = e["partition_id"]
                m_e = m_by_pid.get(pid)
                if m_e is None or self._bloom_m_for_rows(e["rows"]) > 4 * m_e:
                    rescan.append(e)
                    continue
                words: dict[int, int] = {}
                for wm in maps_by_pid[pid] + [batch_words.get(pid, {})]:
                    for w, bits in wm.items():
                        words[w] = words.get(w, 0) | bits
                out_rows.append((e, m_e, words))
            if not rescan:
                self._write_bloom_sidecars(out_rows)
                return
            m_by_path = {e["path"]: m_by_path[e["path"]] for e in rescan}
        paths = [str(self.root / p) for p in m_by_path]
        df = self.spark.read.parquet(*paths).select(
            # normalize the file URI (input_file_name yields file://...)
            F.regexp_replace(F.input_file_name(), "^[a-zA-Z]+:(//)?", "").alias("_file"),
            F.col(key),
        )
        m_map = F.create_map(
            *[x for p, m in m_by_path.items() for x in (F.lit(str(self.root / p)), F.lit(m))]
        )
        df = df.withColumn("_m", F.element_at(m_map, F.col("_file")))
        pos = F.explode(F.array(*self._bloom_positions(F.col(key), F.col("_m")))).alias("_pos")
        words = (
            df.select("_file", "_m", pos)
            .select(
                "_file",
                (F.col("_pos") / 64).cast("long").alias("_w"),
                F.expr("shiftleft(CAST(1 AS BIGINT), CAST(_pos % 64 AS INT))").alias("_b"),
            )
            .groupBy("_file", "_w")
            .agg(F.bit_or("_b").alias("_bits"))
            .groupBy("_file")
            .agg(F.map_from_arrays(F.collect_list("_w"), F.collect_list("_bits")).alias("_words"))
            .collect()
        )
        by_file = {r["_file"]: r["_words"] for r in words}
        # parquet sidecar, one row per file: the PROBE side reads
        # sidecars as a distributed JVM-side scan (map_from_arrays over
        # the two word columns) instead of round-tripping every candidate
        # file's word map through the driver each epoch — at E live
        # files that transfer was O(E · bloom bytes) Python→JVM per
        # MERGE, the dominant residual per-epoch driver cost the
        # endurance drive measured between compactions
        for e in rescan:
            sparse = by_file.get(str(self.root / e["path"]))
            if sparse is not None:
                out_rows.append(
                    (e, m_by_path[e["path"]], {int(w): int(b) for w, b in sparse.items()})
                )
        self._write_bloom_sidecars(out_rows)

    def bloom_prune(self, files: list[dict], keys_df: DataFrame) -> list[dict]:
        """Drop files whose bloom proves they contain NONE of the batch
        keys. Files without a bloom are always kept. The membership test
        is one small Spark job: broadcast the file blooms, AND the k bit
        tests per (key, file), keep files with any hit."""
        testable = [f for f in files if f.get("bloom")]
        if not testable:
            return files
        key = self.key_column

        # the word maps stay JVM-side — one distributed scan of exactly
        # the probed files' sidecars, no per-epoch Python→JVM transfer of
        # O(candidate files · bloom bytes)
        sidecar_schema = T.StructType(
            [
                T.StructField("path", T.StringType()),
                T.StructField("pid", T.IntegerType()),
                T.StructField("m", T.LongType()),
                T.StructField("word_idx", T.ArrayType(T.LongType())),
                T.StructField("bits", T.ArrayType(T.LongType())),
            ]
        )
        # consolidated sidecars: many probed files share one sidecar
        # parquet — dedupe before the scan so relation setup is
        # O(staging calls), not O(probed files). Rows for files not
        # under probe may come along; their hits are ignored (kept
        # filters over ``files``).
        side_paths = sorted({str(self.root / f["bloom"]) for f in testable})
        blooms = F.broadcast(
            self.spark.read.schema(sidecar_schema)
            .parquet(*side_paths)
            .select(
                "path",
                "pid",
                "m",
                F.map_from_arrays("word_idx", "bits").alias("words"),
            )
        )
        keys = keys_df.select(
            F.col(key), url_partition(F.col(key), self.num_partitions).alias("pid")
        )
        probe = keys.join(blooms, "pid")
        for i, p in enumerate(self._bloom_positions(F.col(key), F.col("m"))):
            probe = probe.withColumn(f"_p{i}", p)
        hit = None
        for i in range(self.BLOOM_K):
            this = F.expr(
                f"(coalesce(element_at(words, CAST(_p{i} / 64 AS BIGINT)), CAST(0 AS BIGINT))"
                f" & shiftleft(CAST(1 AS BIGINT), CAST(_p{i} % 64 AS INT))) != 0"
            )
            hit = this if hit is None else (hit & this)
        hits = {
            r["path"]
            for r in probe.filter(hit).select("path").distinct().collect()
        }
        kept = [f for f in files if not f.get("bloom") or f["path"] in hits]
        return kept

    def _assert_disjoint_commit(
        self,
        added_files: list[dict],
        removed: list[dict],
        added_deletes: list[dict],
    ) -> None:
        """Enforce the one-live-row-per-key invariant at commit time for
        RAW data-file appends: an added file whose keys overlap a still-
        live file in the same partition, with nothing in the commit
        removing or shadowing the old copies, would make every read
        surface duplicate rows per key (and read_changes emit phantom
        updates — the bug tests/test_changelog.py's property test
        caught). Exemptions, in increasing cost order:

        - partitions where this commit also adds equality-delete files:
          the caller is doing a MoR upsert and its delete files shadow
          the replaced copies (the engine trusts writer-produced delete
          coverage, exactly as Iceberg trusts its writers);
        - added files whose [min,max] key envelope is disjoint from
          every surviving live file's (footer stats, zero I/O);
        - otherwise ONE exact narrow check: scan only the key column of
          the just-written files and semi-join it against the candidate
          live files' post-delete state. Raises TableInvariantError with
          sample clashing keys. (No bloom fast path here: bloom_prune
          joins on pid = url_partition(key), which tables written with a
          synthetic pid column legitimately violate — the exact check
          must not trust that equivalence.)

        Internal invariant-maintaining paths (apply_epoch's CoW rewrite /
        MoR delete coverage, compaction, bulk_overwrite) skip this via
        verify_disjoint=False — they prove disjointness by construction.
        """
        removed_paths = {f["path"] for f in removed}
        del_pids = {d["partition_id"] for d in added_deletes}
        adds_by_pid: dict[int, list[dict]] = {}
        for f in added_files:
            if f["partition_id"] not in del_pids:
                adds_by_pid.setdefault(f["partition_id"], []).append(f)
        if not adds_by_pid:
            return
        candidates: list[dict] = []
        probe_adds: list[dict] = []
        for pid, adds in adds_by_pid.items():
            live = [
                f
                for f in self.manifest_entries(partition_ids={pid})
                if f["path"] not in removed_paths
            ]
            hit_any = False
            for lf in live:
                if any(
                    not (lf["max_url"] < a["min_url"] or lf["min_url"] > a["max_url"])
                    for a in adds
                ):
                    candidates.append(lf)
                    hit_any = True
            if hit_any:
                probe_adds.extend(adds)
        if not candidates:
            return
        key = self.key_column
        key_schema = T.StructType([T.StructField(key, T.StringType())])
        added_keys = self.spark.read.schema(key_schema).parquet(
            *[str(self.root / f["path"]) for f in probe_adds]
        )
        # exact check against the LIVE state of the candidate files:
        # rows already shadowed by existing delete files are dead and
        # must not be counted as clashes (re-inserting a MoR-deleted key
        # via a raw append is legal)
        pids = {f["partition_id"] for f in candidates}
        live_keys = self._read_files(
            candidates, None, with_lsn=False,
            deletes=self.delete_entries(None, pids),
        ).select(key)
        clash = (
            live_keys.join(F.broadcast(added_keys), key, "left_semi")
            .limit(5)
            .collect()
        )
        if clash:
            sample = sorted(r[key] for r in clash)
            raise TableInvariantError(
                f"commit would create duplicate live rows for key(s) "
                f"{sample} in partition(s) {sorted(pids)}: added data "
                f"files overlap live files and the commit neither "
                f"removes the old copies (removed=) nor shadows them "
                f"with equality-delete files (added_deletes=). Upserts "
                f"must go through apply_epoch / stage_data_and_delete_"
                f"files, or pass verify_disjoint=False if the keys are "
                f"provably disjoint."
            )

    def commit_append_with_retry(
        self,
        epoch: int,
        partition_ids: set[int],
        added_files: list[dict],
        new_schema: T.StructType | None = None,
        summary_extra: dict | None = None,
        max_retries: int = 5,
    ) -> int:
        """Additive commit that survives optimistic-CAS races with other
        writers (Iceberg's retryable-append semantics). Pure appends
        compose with ANY interleaved commit — they remove nothing and
        shadow nothing, so losing the CAS only means the manifest deltas
        must be rebuilt against the NEW current snapshot, which
        ``commit`` already does by re-reading metadata on every call
        (the staged data files themselves never move). Anything that
        removes or shadows files (upserts, compaction, rebucket) must
        NOT auto-retry — its rewrite set was computed against a specific
        version — which is why those paths pass ``expected_version`` and
        surface ``TableCommitConflict`` to be recomputed instead.

        The one-live-row-per-key invariant is re-verified against the
        fresh snapshot on every attempt, so an interleaved commit that
        introduces an overlap turns the retry into a
        ``TableInvariantError`` rather than a silent duplicate.
        """
        last: TableCommitConflict | None = None
        for _ in range(max_retries + 1):
            try:
                return self.commit(
                    epoch,
                    partition_ids,
                    added_files,
                    new_schema=new_schema,
                    summary_extra=summary_extra,
                )
            except TableCommitConflict as e:  # lost the CAS — rebuild
                last = e
        raise TableCommitConflict(
            f"append still conflicting after {max_retries} retries"
        ) from last

    def commit(
        self,
        epoch: int,
        partition_ids: set[int],
        added_files: list[dict],
        removed: list[dict] | None = None,
        new_schema: T.StructType | None = None,
        summary_extra: dict | None = None,
        added_deletes: list[dict] | None = None,
        expected_version: int | None = None,
        verify_disjoint: bool = True,
    ) -> int:
        """Publish a new snapshot: per touched partition, manifest = old −
        removed + added (data and equality-delete lists alike); untouched
        partitions carry their manifest-file reference forward unchanged.
        Idempotence keys ``(epoch, pid)`` recorded; atomic CAS publish.
        Cost is O(touched files + P) — independent of the table's total
        file count.

        ``removed`` takes full manifest entries — data or delete (they
        carry the partition_id needed to locate the one manifest to
        rewrite, and the row count that keeps summary.total_rows
        incremental). ``summary.total_rows`` counts PHYSICAL data-file
        rows; under merge-on-read shadowed rows still count until
        compaction folds them out.
        """
        removed = removed or []
        added_deletes = added_deletes or []
        if verify_disjoint and added_files:
            self._assert_disjoint_commit(added_files, removed, added_deletes)
        meta = self.metadata()
        if self._fence_generation is not None:
            lease = meta.get("writer_lease") or {"generation": 0}
            if int(lease["generation"]) != self._fence_generation:
                raise StaleWriterFence(
                    f"writer generation {self._fence_generation} superseded "
                    f"by {lease['generation']} "
                    f"(owner {lease.get('owner')!r}) — this driver is fenced"
                )
        if expected_version is not None and meta["version"] != expected_version:
            # optimistic-transaction validation for multi-snapshot
            # operations (compaction, rebucket): their added/removed sets
            # were computed against `expected_version`; building them
            # onto a LATER snapshot could resurrect rows an interleaved
            # ingest already rewrote. The CAS on _publish only catches
            # same-version races — this catches stale reads.
            raise TableCommitConflict(
                f"table moved to v{meta['version']} since v{expected_version} "
                "was read — recompute the maintenance operation"
            )
        new_version = meta["version"] + 1
        removed_by_pid: dict[int, set[str]] = {}
        for f in removed:
            removed_by_pid.setdefault(f["partition_id"], set()).add(f["path"])
        added_by_pid: dict[int, list[dict]] = {}
        for f in added_files:
            added_by_pid.setdefault(f["partition_id"], []).append(f)
        del_by_pid: dict[int, list[dict]] = {}
        for d in added_deletes:
            del_by_pid.setdefault(d["partition_id"], []).append(d)
        manifests = dict(meta["manifests"])
        touched = set(removed_by_pid) | set(added_by_pid) | set(del_by_pid)
        for pid in sorted(touched):
            old_ref = manifests.get(str(pid))
            doc = self._load_manifest_doc(old_ref) if old_ref else {"files": [], "deletes": []}
            gone = removed_by_pid.get(pid, set())
            entries = [f for f in doc["files"] if f["path"] not in gone]
            entries = entries + added_by_pid.get(pid, [])
            dels = [d for d in doc["deletes"] if d["path"] not in gone]
            dels = dels + del_by_pid.get(pid, [])
            if entries or dels:
                manifests[str(pid)] = self._write_manifest(pid, entries, dels)
            else:
                manifests.pop(str(pid), None)
        commits = dict(meta["commits"])
        commit_id = hashlib.sha256(
            json.dumps(
                [
                    epoch,
                    sorted(f["path"] for f in added_files),
                    sorted(f["path"] for f in removed),
                ]
            ).encode()
        ).hexdigest()[:16]
        for pid in partition_ids:
            commits[f"{epoch}:{pid}"] = commit_id
        # fold the contiguous old-epoch prefix into the watermark; only
        # the recent window stays exact. A fully-empty epoch (no clean
        # rows → never committed) leaves a gap that stalls the fold —
        # harmless (replay of it is a recomputed no-op), just un-compacted.
        watermark = meta.get("commit_epoch_watermark", -1)
        if partition_ids:
            exact_epochs = sorted({int(k.split(":")[0]) for k in commits})
            cutoff = max(e for e in exact_epochs) - self.LEDGER_RETAIN_EPOCHS
            for e in exact_epochs:
                if e > cutoff or e != watermark + 1:
                    break
                watermark = e
            commits = {
                k: v for k, v in commits.items() if int(k.split(":")[0]) > watermark
            }
        schemas = meta["schemas"]
        schema_id = meta["schema_id"]
        if new_schema is not None and _schema_to_json(new_schema) != schemas[schema_id]["schema"]:
            old_names = {
                f["name"] for f in schemas[schema_id]["schema"]["fields"]
            }
            clash = {
                f.name for f in new_schema.fields if f.name not in old_names
            } & self._reserved_names(meta)
            if clash:
                raise ValueError(
                    f"cannot add column(s) {sorted(clash)}: the name(s) "
                    "were previously renamed away or dropped and older "
                    "data files still carry bytes under them (name-based "
                    "format — a re-add would resurrect old values); use "
                    "a fresh name"
                )
            schema_id = len(schemas)
            schemas = schemas + [{"schema_id": schema_id, "schema": _schema_to_json(new_schema)}]
        total_rows = (
            meta["summary"]["total_rows"]
            - sum(f["rows"] for f in removed if f.get("content") != "equality-deletes")
            + sum(f["rows"] for f in added_files)
        )
        new_meta = {
            **meta,
            "version": new_version,
            "parent_version": meta["version"],
            "schema_id": schema_id,
            "schemas": schemas,
            "manifests": manifests,
            "commits": commits,
            "commit_epoch_watermark": watermark,
            "summary": {
                "total_rows": total_rows,
                "last_epoch": epoch,
                "commit_id": commit_id,
                **(summary_extra or {}),
            },
        }
        self._publish(new_meta)
        return new_version

    def _publish(self, meta: dict) -> None:
        import time as _time

        # wall-clock commit stamp: powers AS-OF time travel
        # (version_as_of). Stamped at publish, so a rollback/tag gets
        # its own stamp while purge's in-place history rewrites keep
        # the original ones. Metadata was never bit-deterministic
        # (uuid file names); replay equivalence is about TABLE STATE.
        meta = {**meta, "committed_at": _time.time()}
        v = meta["version"]
        final = self.meta_dir / f"v{v}.metadata.json"
        tmp = self.meta_dir / f".tmp-{uuid.uuid4().hex}.json"
        tmp.write_text(json.dumps(meta, indent=1, sort_keys=True))
        try:
            os.link(tmp, final)  # atomic create-if-absent: the CAS
        except FileExistsError as e:
            raise TableCommitConflict(f"version {v} already committed") from e
        finally:
            tmp.unlink(missing_ok=True)
        hint_tmp = self.meta_dir / f".hint-{uuid.uuid4().hex}"
        hint_tmp.write_text(str(v))
        os.replace(hint_tmp, self.meta_dir / "version-hint.text")

    def write_lineage(self, epoch: int, rows: list[dict]) -> None:
        """Append per-partition lineage metrics for an epoch (idempotent:
        an existing epoch directory is left untouched on replay)."""
        import pyarrow as pa

        dest = self.lineage_dir / f"epoch={epoch}"
        if dest.exists():
            return
        tmp = self.lineage_dir / f".tmp-{uuid.uuid4().hex}"
        tmp.mkdir(parents=True)
        arrays = {
            f.name: pa.array([r.get(f.name) for r in rows], type=_PA_TYPES[f.name])
            for f in LINEAGE_SCHEMA.fields
        }
        pq.write_table(pa.table(arrays), tmp / "lineage.parquet")
        try:
            os.rename(tmp, dest)
        except OSError:
            shutil.rmtree(tmp, ignore_errors=True)
            if not dest.exists():
                raise  # same rule as write_quarantine: only a lost race is benign


LINEAGE_SCHEMA = T.StructType(
    [
        T.StructField("checkpoint_epoch", T.LongType()),
        T.StructField("partition_id", T.IntegerType()),
        T.StructField("start_offset", T.LongType()),
        T.StructField("end_offset", T.LongType()),
        T.StructField("lsn_watermark", T.LongType()),
        T.StructField("rows_in", T.LongType()),
        T.StructField("rows_upserted", T.LongType()),
        T.StructField("rows_deleted", T.LongType()),
        T.StructField("rows_dirty", T.LongType()),
        T.StructField("commit_id", T.StringType()),
        T.StructField("wall_ms", T.LongType()),
    ]
)

_PA_TYPES: dict[str, Any] = {}


def _init_pa_types() -> None:
    import pyarrow as pa

    _PA_TYPES.update(
        {
            "checkpoint_epoch": pa.int64(),
            "partition_id": pa.int32(),
            "start_offset": pa.int64(),
            "end_offset": pa.int64(),
            "lsn_watermark": pa.int64(),
            "rows_in": pa.int64(),
            "rows_upserted": pa.int64(),
            "rows_deleted": pa.int64(),
            "rows_dirty": pa.int64(),
            "commit_id": pa.string(),
            "wall_ms": pa.int64(),
        }
    )


_init_pa_types()
