"""Per-file key bloom filters (manifest-level secondary index).

Envelope [min,max] pruning is weak when a batch's keys span a
partition's range; the bloom answers "could this file contain any
of the batch's keys" per file. Build and probe both run as Spark
jobs over the SAME hash expressions (xxhash64(key, i)), so no
Python-side hash reimplementation exists to drift. The word arrays
live in CONSOLIDATED sidecar (puffin-style) PARQUET files under
metadata/blooms/ — one row per data file, one file per staging
call — referenced by path from manifest entries: snapshot and
manifest JSON stay small, a sidecar is read only when a MERGE
actually probes its files, the probe reads sidecars as a
distributed parquet scan (word maps never transit the driver), and
the probe's relation setup is O(staging calls) not O(probed
files)."""

from __future__ import annotations

import uuid
from concurrent.futures import ThreadPoolExecutor

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from datax_spark.functions.hashing import url_partition


class BloomMixin:
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
