"""Maintenance (Iceberg-style table services): rebucket, compaction,
snapshot expiry, rollback and orphan removal."""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import functions as F

from datax_spark.functions.hashing import url_partition
from datax_spark.icetable.staging import _data_rows


class MaintenanceMixin:
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
        live, live_manifests, live_blooms = self._referenced(sorted(keep))
        deleted: list[str] = []
        # enumerate versions from the directory, not range(cutoff): after
        # K expiries only ~keep_last versions exist, and a per-epoch
        # expiry schedule must not pay O(all epochs ever) stat calls
        expired = [v for v in self._versions() if v < cutoff and v not in keep]
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

        ref_files, ref_manifests, ref_blooms = self._referenced(self._versions())
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
