"""Commit path: the idempotence ledger, the sharded manifest, the
snapshot-reference walk, the atomic snapshot publish and lineage."""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import uuid

import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema


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


def _schema_to_json(schema: T.StructType) -> dict:
    return json.loads(schema.json())


def _schema_from_json(j: dict) -> T.StructType:
    return T.StructType.fromJson(j)


class CommitMixin:
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

    def _versions(self) -> list[int]:
        """Every snapshot version whose metadata file is on disk, ascending."""
        return sorted(
            int(p.name[1:].split(".")[0])
            for p in self.meta_dir.glob("v*.metadata.json")
        )

    def _referenced(self, versions) -> tuple[set[str], set[str], set[str]]:
        """Root-relative paths the snapshots ``versions`` reference:
        (data + delete files, manifests, bloom sidecars)."""
        files: set[str] = set()
        manifests: set[str] = set()
        blooms: set[str] = set()
        for v in versions:
            for mrel in self.metadata(v)["manifests"].values():
                manifests.add(mrel)
                doc = self._load_manifest_doc(mrel)
                for f in doc["files"] + doc["deletes"]:
                    files.add(f["path"])
                    if f.get("bloom"):
                        blooms.add(f["bloom"])
        return files, manifests, blooms

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

_PA_TYPES = {f.name: f.type for f in to_arrow_schema(LINEAGE_SCHEMA)}
