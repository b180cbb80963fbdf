"""Read path: full, point, partition-pruned and stats-pruned reads with
merge-on-read deletes applied, incremental reads, the row-level
changelog and time travel."""

from __future__ import annotations

from typing import Any

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from datax_spark.functions.hashing import url_partition
from datax_spark.icetable.commit import LINEAGE_SCHEMA
from datax_spark.icetable.staging import _stats_norm


class ScanMixin:
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
        key = self.key_column
        if isinstance(keys, DataFrame):
            keys_df = keys.select(key)
        else:
            kt = {f.name: f.dataType for f in self.schema(version).fields}[key]
            keys_df = self._local_df(
                [(k,) for k in keys], T.StructType([T.StructField(key, kt)])
            )
        df, _ = self.read_partitions(
            self._pids(keys_df), version, with_lsn=with_lsn, keys_df=keys_df
        )
        return df.join(F.broadcast(keys_df), key, "left_semi")

    def _pids(self, keys_df: DataFrame) -> set[int]:
        """Partition ids of the keys in ``keys_df`` (one column, named
        like the key column)."""
        key = self.key_column
        return {
            r["_p"]
            for r in keys_df.select(
                url_partition(key, self.num_partitions).alias("_p")
            )
            .distinct()
            .collect()
        }

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
            raise ValueError(
                f"read_changes from_version={from_version} is expired "
                f"(retained versions: {self._versions()}); re-bootstrap from 0 "
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
        for v in self._versions():
            at = self.metadata(v).get("committed_at")
            if at is None:
                at = (self.meta_dir / f"v{v}.metadata.json").stat().st_mtime
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
