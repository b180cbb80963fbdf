"""Iceberg-modeled table format in pure PySpark + JSON metadata.

The real ``iceberg-spark-runtime`` jar cannot be fetched in this offline
sandbox (SURVEY.md §0.1), so the sink implements the same *model* —
immutable parquet data files + versioned snapshot metadata + atomic
optimistic commit — with an API shaped so the real Iceberg catalog can be
swapped in on a cluster with one adapter.

``IceTable`` holds the lifecycle, refs, schema changes, properties,
writer lease and quarantine area, and inherits one mixin per concern:
``commit`` (ledger, manifests, snapshot references, publish, lineage),
``staging`` (write path), ``bloom`` (key blooms), ``scan`` (read path),
``maintenance`` (table services) and ``governance`` (purge, clone).

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

import json
import os
import shutil
import uuid
from pathlib import Path
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from datax_spark.functions.hashing import PARTITION_HASH
from datax_spark.icetable.bloom import BloomMixin
from datax_spark.icetable.commit import (  # noqa: F401 (re-exported)
    LINEAGE_SCHEMA,
    CommitMixin,
    StaleWriterFence,
    TableCommitConflict,
    TableInvariantError,
    _schema_from_json,
    _schema_to_json,
)
from datax_spark.icetable.governance import GovernanceMixin
from datax_spark.icetable.maintenance import MaintenanceMixin
from datax_spark.icetable.scan import ScanMixin
from datax_spark.icetable.staging import StagingMixin

# v2: partition_spec records the partitioning hash identity
# (PARTITION_HASH) and load() validates it — a table laid out under a
# different hash function must fail to load, never silently mis-prune.
# v3: manifest sharded per partition (snapshot stores manifest-file
# references, not file entries) and blooms externalized to sidecars.
FORMAT_VERSION = 3


class IceTable(
    GovernanceMixin, MaintenanceMixin, ScanMixin, StagingMixin, BloomMixin, CommitMixin
):
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
