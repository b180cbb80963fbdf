"""Governance: compliance purge of keys from every retained snapshot,
and zero-copy clone."""

from __future__ import annotations

import json
import os
import shutil
import uuid
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path
from typing import Any

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import types as T

from datax_spark.icetable.staging import _column_stats, _key_stats


class GovernanceMixin:
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
        pids = self._pids(kdf)
        versions = self._versions()
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
        t = type(self)(self.spark, target_root)
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
        versions = self._versions()
        files, manifests, blooms = self._referenced(versions)
        for rel in files | manifests | blooms:
            _link(rel)
        for v in versions:
            (t.meta_dir / f"v{v}.metadata.json").write_text(
                json.dumps({**self.metadata(v), "table_uuid": new_uuid}, sort_keys=True)
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
        return type(self).load(self.spark, target_root)
