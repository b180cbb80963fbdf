"""Exactly-once MERGE INTO apply — the engine's native sink operator.

Reimagines DataX's Writer plugins (reference scope: README.md:2 names ten
batch sinks) as an Iceberg-style copy-on-write MERGE with idempotent
snapshot commits keyed on ``(checkpoint_epoch, partition_id)``
(BASELINE.json:6,14 — normative).

One epoch application, end to end::

    raw events ──split_dirty──▶ clean ──LWW(window)──▶ resolved (1 row/url)
        │                                              ▼
        └──▶ quarantine counts    target (pruned: affected pids ∩ file
                                  url-envelopes, via manifest)
        ⟗ full_outer on url, lsn-guarded, extract text (Arrow UDF)
        ──▶ merged partitions ──▶ immutable data files
        ──▶ atomic snapshot commit + lineage

Scale notes (the parts that matter at 10^10 events / 100 TB):

* LWW runs BEFORE extraction, so the expensive UDF sees one row per key,
  not one per event. It is always the ``window`` plan — with wide
  (html-payload) rows it measured faster than the struct max_by at both
  8 and 32 cores (the object-hash aggregate falls back to sort-based
  past 128 groups, paying the sort twice). Skew needs no salt: the
  Window's partial top-1 before the exchange collapses a hot key to one
  row per mapper, and url-hash partitioning spreads hot domains across
  partitions.
* The extraction UDF lives in the merge projection — the plan's single
  terminal stage — so it executes exactly once per epoch. Earlier
  drafts extracted into a persisted batch; under memory pressure
  evicted cache blocks re-ran the UDF in every consumer stage, which
  showed up as uniform multi-second tasks in the write stage and made
  32-core runs SLOWER than 8-core.
* Nothing is persisted: payload bytes cross the engine exactly once
  per epoch (scan → one LWW shuffle → merge join → write). The stat
  jobs run on a NARROW projection (url, lsn, op — parquet column
  pruning never touches html), whose per-key last-op resolve provably
  yields the same affected pids, envelopes, watermarks and key/delete
  counts as the wide resolve, at ~1% of the bytes.
* The target scan is pruned twice from the manifest (partition ids, then
  per-partition url envelopes) — an epoch touching K urls reads and
  rewrites O(files containing them), never the table.
* The merge-write runs pid-aligned with shuffle partitions pinned to the
  table's partition count: the join's reducers ARE the storage
  partitions, so merged rows go straight to their files with no
  post-merge exchange (a full-outer equi-join always shuffles both
  sides by key — that one shuffle is the only time payload bytes cross
  the wire).
* Driver-side collects are bounded by the partition count (≤ P rows),
  never by data volume.
* The cross-epoch lsn guard (``batch.lsn > target._lsn``) makes late or
  replayed events per-row no-ops — exactly-once composes from idempotent
  epoch commits + this guard.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from datax_spark.functions.extract import extract_text_udf
from datax_spark.functions.hashing import url_partition
from datax_spark.icetable.table import IceTable
from datax_spark.operators.lww import lww_resolve
from datax_spark.operators.quarantine import (
    check_error_budget,
    dirty_predicate,
    split_dirty,
)

# columns that exist on the wire but never reach storage
_WIRE_ONLY = ("op", "lsn")
# batches with more distinct keys than this skip the per-file bloom
# probe: dense batches hit every file anyway
BLOOM_PRUNE_MAX_KEYS = 100_000
# auto merge picks merge-on-read when a copy-on-write rewrite would move
# more than this many target rows per batch key
MOR_REWRITE_RATIO = 4.0


@dataclass
class EpochStats:
    epoch: int
    version: int | None = None
    skipped: bool = False
    rows_in: int = 0
    rows_dirty: int = 0
    rows_upserted: int = 0
    rows_deleted: int = 0
    affected_partitions: int = 0
    wall_ms: int = 0
    evolved_columns: list[str] = field(default_factory=list)
    merge_mode: str | None = None  # "cow" | "mor"


def apply_epoch(
    table: IceTable,
    events: DataFrame,
    epoch: int,
    start_offset: int = 0,
    end_offset: int = 0,
    error_budget: float | None = None,
    extract: bool = True,
    merge_strategy: str = "auto",
) -> EpochStats:
    """Apply one change-event batch to the table, exactly once.

    ``merge_strategy``: ``cow`` rewrites every affected file (read +
    merge + full rewrite — best when the batch touches most rows of the
    files it hits); ``mor`` (merge-on-read) writes only the resolved
    batch rows plus narrow equality-delete files that shadow older
    copies at read time (write cost O(batch), paid back by compaction —
    best for delete-heavy / sparse-update epochs); ``auto`` picks mor
    when the copy-on-write rewrite would move more than
    ``MOR_REWRITE_RATIO`` rows per batch key. The decision inputs
    (manifest state + batch stats) are deterministic, so replay from
    scratch re-makes identical choices."""
    t0 = time.monotonic()
    stats = EpochStats(epoch=epoch)
    key = table.key_column
    num_p = table.num_partitions

    if table.is_epoch_committed(epoch):
        # replayed epoch: already in the ledger (exact key or folded
        # under the epoch watermark)
        stats.skipped = True
        return stats

    # CDC sources lag table schema changes: a batch still carrying a
    # pre-rename column name folds onto the current name (metadata-only
    # projection; table.name_mapping) before anything else looks at it
    mapping = table.name_mapping()
    for cur, aliases in mapping.items():
        if cur not in events.columns:
            for al in aliases:
                if al in events.columns:
                    events = events.withColumnRenamed(al, cur)
                    break

    clean, dirty = split_dirty(events, key)
    do_extract = extract and "html" in clean.columns

    # ---- driver-side stats: ONE narrow job, bounded by P --------------- #
    # The stat job reads only (url, lsn, op) — parquet column pruning
    # never touches the html payload. It computes BOTH the raw
    # per-(pid, dirty) input counts and the per-pid resolved-key stats
    # (key count, last-op deletes, lsn watermark, url envelope) in one
    # two-level aggregation: per (pid, dirty, key) first — max_by(op,
    # lsn) is exactly the LWW winner, and the partial agg combines
    # map-side, so the shuffle carries one row per key instead of one
    # per event (the previous window-based form shuffled every event
    # row, and needed a second concurrent job for the raw counts).
    # The wide plan (`resolved`, with extraction) is NOT persisted and
    # NOT materialized here: its single consumer is the merge-write
    # pass below, so payload bytes cross the engine exactly once.

    # the bloom probe and compose need only the batch key SET: duplicate
    # keys set the same bloom bits and hit the same files
    narrow = clean.select(key).withColumn("_pid", url_partition(key, num_p))

    per_key = (
        events.select(
            url_partition(key, num_p).alias("_pid"),
            dirty_predicate(key).alias("_dirty"),
            F.col(key).alias("_k"),
            F.col("lsn"),
            F.col("op"),
        )
        .groupBy("_pid", "_dirty", "_k")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.max_by("op", "lsn").alias("last_op"),
            F.min_by("op", "lsn").alias("first_op"),
            F.max("lsn").alias("max_lsn"),
        )
    )
    stat_rows = (
        per_key.groupBy("_pid", "_dirty")
        .agg(
            F.sum("n_rows").alias("rows_in"),
            F.count(F.lit(1)).alias("n_keys"),
            F.sum(F.when(F.col("last_op") == "D", 1).otherwise(0)).alias("n_del"),
            # keys the source says already existed: their first op in
            # the batch updates or deletes (read_partitions' probe skip)
            F.sum(F.when(F.col("first_op").isin("U", "D"), 1).otherwise(0)).alias(
                "n_old"
            ),
            F.max("max_lsn").alias("max_lsn"),
            F.min("_k").alias("min_url"),
            F.max("_k").alias("max_url"),
        )
        .collect()
    )
    pid_rows = [r for r in stat_rows if not r["_dirty"]]
    rows_in_by_pid = {r["_pid"]: int(r["rows_in"]) for r in pid_rows}
    dirty_by_pid = {
        r["_pid"]: int(r["rows_in"]) for r in stat_rows if r["_dirty"]
    }
    stats.rows_in = sum(rows_in_by_pid.values())
    stats.rows_dirty = sum(dirty_by_pid.values())
    check_error_budget(stats.rows_in + stats.rows_dirty, stats.rows_dirty, error_budget)
    if stats.rows_dirty > 0:
        # routed, not dropped (DataX dirty-record collector): the write
        # costs a job only on epochs that actually have dirty rows
        table.write_quarantine(dirty, epoch)

    # ---- wide resolve: one Window-over-LSN shuffle ------------------- #
    resolved = lww_resolve(clean, key=key, order="lsn", strategy="window")
    resolved = resolved.withColumn("_pid", url_partition(key, num_p))

    affected = {r["_pid"] for r in pid_rows}
    # partial-replay safety: pids of this epoch already in the ledger
    # (crash after a commit that covered them) must not re-apply
    already = {pid for pid in affected if table.is_committed(epoch, pid)}
    if already:
        affected -= already
        resolved = resolved.filter(~F.col("_pid").isin(*[int(p) for p in already]))
    if not affected:
        stats.skipped = True
        return stats
    envelopes = {r["_pid"]: (r["min_url"], r["max_url"]) for r in pid_rows}

    # ---- schema evolution (ST4): batch columns ∖ table columns --------- #
    table_schema = table.schema()
    table_cols = [f.name for f in table_schema.fields]
    batch_only = [
        f
        for f in resolved.schema.fields
        # '_'-prefixed columns are wire-side annotations (raw-key
        # shadow, partition id) — never schema-evolved into the table
        if f.name not in table_cols
        and f.name not in _WIRE_ONLY
        and not f.name.startswith("_")
    ]
    if do_extract and "text" not in table_cols:
        # extraction produces a column the batch doesn't carry; a table
        # created without `text` must still receive it via additive
        # schema evolution, exactly like a batch-borne new column
        batch_only = [f for f in batch_only if f.name != "text"] + [
            T.StructField("text", T.StringType(), True)
        ]
    out_fields = list(table_schema.fields) + [
        T.StructField(f.name, f.dataType, True) for f in batch_only
    ]
    new_schema = T.StructType(out_fields)
    out_cols = [f.name for f in new_schema.fields]
    stats.evolved_columns = [f.name for f in batch_only]

    # ---- pruned target scan + lsn-guarded full-outer MERGE ------------- #
    # Small batches additionally prune by per-file key blooms: an epoch
    # touching few keys rewrites only files that (probably) contain
    # them, regardless of how widely the keys scatter inside a
    # partition's [min,max] envelope. The probe is one extra narrow job,
    # so it is gated on batch size — dense batches hit every file anyway.
    total_keys = sum(r["n_keys"] for r in pid_rows)
    keys_df = narrow.select(key) if 0 < total_keys <= BLOOM_PRUNE_MAX_KEYS else None
    target, rewrite_files = table.read_partitions(
        affected,
        with_lsn=True,
        pid_url_ranges=envelopes,
        keys_df=keys_df,
        old_keys={r["_pid"]: r["n_old"] for r in pid_rows},
    )

    # ---- strategy: copy-on-write vs merge-on-read ---------------------- #
    # CoW rewrites every pruned-in file (write ∝ affected rows); MoR
    # writes only the resolved batch + narrow equality-delete files
    # (write ∝ batch keys) and lets reads anti-join until compaction
    # folds the debt. auto: MoR when CoW would move > ratio rows/key —
    # i.e. delete-heavy or sparse-update epochs hitting dense files.
    rewrite_rows = sum(f["rows"] for f in rewrite_files)
    use_mor = merge_strategy == "mor" or (
        merge_strategy == "auto"
        and total_keys > 0
        and rewrite_rows > MOR_REWRITE_RATIO * total_keys
    )
    stats.merge_mode = "mor" if use_mor else "cow"

    if use_mor:
        # narrow lsn guard: one column-pruned pass over the pruned files'
        # (key, _lsn) — late rows (lsn ≤ applied) drop out exactly as the
        # CoW join guard drops them, keeping the two modes bit-equivalent
        tn = target.select(F.col(key).alias("_tk"), F.col("_lsn").alias("_tlsn"))
        guard = F.col("_tlsn").isNull() | (F.col("lsn") > F.col("_tlsn"))
        guarded = resolved.join(tn, resolved[key] == tn["_tk"], "left_outer").filter(
            guard
        )

        def _mor_value(c: str):
            if c == "text" and do_extract:
                return F.when(F.col("op") != "D", extract_text_udf(F.col("html")))
            if c in resolved.columns:
                return F.col(c)
            return F.lit(None)

        # the same join yields both legs, tagged _dl: a data row per
        # upsert, and an equality-delete row (key, nulls) per guarded key
        # that EXISTS in the target (an upsert shadows its older copy; a
        # delete removes it). Keys absent from the pruned target shadow
        # nothing — pruning is conservative, so a missing key is provably
        # absent from the whole partition — and including them would
        # write one delete row per INSERT, inflating delete files and the
        # driver's delete-debt metric into spurious compactions. Rows
        # keep the join's pid-aligned partitioning, so each task writes
        # its pid's data file and at most one delete file.
        data_row = F.struct(
            *[_mor_value(c).alias(c) for c in out_cols],
            F.col("lsn").alias("_lsn"),
            F.col("_pid"),
            F.lit(0).alias("_dl"),
        )
        delete_row = F.struct(
            *[(F.col(c) if c == key else F.lit(None)).alias(c) for c in out_cols],
            F.lit(None).alias("_lsn"),
            F.col("_pid"),
            F.lit(1).alias("_dl"),
        )
        legs = F.array(
            F.when(F.col("op") != "D", data_row),
            F.when(F.col("_tlsn").isNotNull(), delete_row),
        )
        merged = guarded.select(
            F.explode(F.filter(legs, lambda r: r.isNotNull())).alias("_r")
        ).select("_r.*")
    else:
        b = resolved.alias("b")
        t = target.alias("t")
        joined = t.join(b, F.col(f"t.{key}") == F.col(f"b.{key}"), "full_outer")
        take_batch = F.col("b.op").isNotNull() & (
            F.col("t._lsn").isNull() | (F.col("b.lsn") > F.col("t._lsn"))
        )
        is_delete = take_batch & (F.col("b.op") == "D")

        def _batch_value(c: str):
            if c == "text" and do_extract:
                # vectorized extraction, lazily here so the UDF sits in the
                # write stage only; null html (target-only rows, deletes)
                # short-circuits inside the UDF
                return F.when(F.col("b.op") != "D", extract_text_udf(F.col("b.html")))
            if c in resolved.columns:
                return F.col(f"b.{c}")
            return F.lit(None)

        merged = joined.filter(~is_delete).select(
            *[
                F.when(take_batch, _batch_value(c))
                .otherwise(F.col(f"t.{c}") if c in target.columns else F.lit(None))
                .alias(c)
                for c in out_cols
            ],
            F.when(take_batch, F.col("b.lsn")).otherwise(F.col("t._lsn")).alias("_lsn"),
            F.when(take_batch, F.col("b._pid"))
            .otherwise(url_partition(f"t.{key}", num_p))
            .alias("_pid"),
        )

    # ---- pid-aligned write: no post-merge exchange --------------------- #
    # The full-outer join physically partitions its output by
    # hash(key)%shuffle_partitions (both sides are hash-exchanged on the
    # key; matched, batch-only and target-only rows all land in the
    # reducer of their common key). Pinning shuffle partitions to the
    # table's partition count makes reducer index == storage pid, so the
    # write stage needs no repartition — previously the merged rows
    # (whole affected partitions, html included) crossed the wire a
    # second time because coalesce(t.key, b.key) hides the partitioning
    # from Catalyst. AQE is pinned off for this one job: partition
    # coalescing or skew-splitting would change the file layout (still
    # correct, but replay must reproduce files bit-for-bit).
    conf = table.spark.conf
    saved = {
        "spark.sql.shuffle.partitions": conf.get("spark.sql.shuffle.partitions"),
        "spark.sql.adaptive.enabled": conf.get("spark.sql.adaptive.enabled"),
    }
    conf.set("spark.sql.shuffle.partitions", str(num_p))
    conf.set("spark.sql.adaptive.enabled", "false")
    # bloom maintenance stays O(batch): a new file's keys are exactly
    # (rewritten files' keys ∖ deletes) ∪ batch keys, so its bloom is
    # composed from the rewritten sidecars OR'd with a bloom of the
    # batch keys (one narrow job over the batch keys) instead of re-reading
    # the rewritten partitions' key column — at 100 TB that re-read is
    # O(partition rows) per CoW epoch. Deleted keys linger as
    # false-positive bits until compaction's scan-path rebuild purges
    # them (conservative: blooms only ever over-keep files).
    bloom_keys = narrow.select("_pid", key)
    if already:
        bloom_keys = bloom_keys.filter(~F.col("_pid").isin(*[int(p) for p in already]))
    # per-pid batch key counts: upper bound on a fresh pid's new-file
    # rows, used to size its bloom BEFORE the write so the batch-keys
    # bloom job can run concurrently with the data write
    n_keys_by_pid = {r["_pid"]: r["n_keys"] for r in pid_rows if r["_pid"] in affected}
    old_by_pid: dict[int, list[dict]] = {}
    if not use_mor:
        for f in rewrite_files:
            old_by_pid.setdefault(f["partition_id"], []).append(f)
    try:
        if use_mor:
            # one pass: data rows + equality-delete keys of the one
            # guarded join in ONE Spark job — a second job or leg repeats
            # the per-epoch fixed cost (scheduling, the guard scan, an
            # LWW shuffle), which dominates small batches
            new_files, new_deletes = table.stage_data_and_delete_files(
                merged,
                epoch,
                aligned=True,
                bloom_compose=(bloom_keys, old_by_pid, n_keys_by_pid),
            )
        else:
            new_files = table.stage_data_files(
                merged,
                epoch,
                aligned=True,
                bloom_compose=(bloom_keys, old_by_pid, n_keys_by_pid),
            )
            new_deletes = []
    finally:
        for k, v in saved.items():
            conf.set(k, v)

    # ---- upsert/delete counts from resolved (1 row per key) ------------ #
    by_pid = {r["_pid"]: r for r in pid_rows if r["_pid"] in affected}
    lineage_rows = []
    commit_wall = int((time.monotonic() - t0) * 1000)
    # pids outside `affected` (only dirty rows, or already committed on a
    # replay) still get a zero lineage row so the epoch's rows_dirty
    # accounting is complete (quarantine routing is observable per
    # partition even when nothing clean landed there)
    zero = {"max_lsn": None, "n_keys": 0, "n_del": 0, "rows_in": 0}
    for pid in sorted(affected | set(dirty_by_pid)):
        r = by_pid.get(pid, zero)
        stats.rows_upserted += r["n_keys"] - r["n_del"]
        stats.rows_deleted += r["n_del"]
        lineage_rows.append(
            {
                "checkpoint_epoch": epoch,
                "partition_id": pid,
                "start_offset": start_offset,
                "end_offset": end_offset,
                "lsn_watermark": r["max_lsn"],
                "rows_in": int(r["rows_in"]),
                "rows_upserted": r["n_keys"] - r["n_del"],
                "rows_deleted": r["n_del"],
                # per-pid (NOT the epoch total stamped on every row —
                # summing rows_dirty across an epoch must equal the
                # injected dirty count exactly once)
                "rows_dirty": dirty_by_pid.get(pid, 0),
                "commit_id": None,  # filled below
                "wall_ms": commit_wall,
            }
        )

    version = table.commit(
        epoch,
        affected,
        new_files,
        # MoR leaves existing files in place — the delete files shadow
        # stale rows at read time; CoW swaps the rewritten set
        removed=[] if use_mor else rewrite_files,
        new_schema=new_schema if batch_only else None,
        summary_extra={"epoch": epoch},
        added_deletes=new_deletes,
        # invariant maintained by construction: CoW removes the full
        # rewrite set (bloom-pruned-out files provably hold no batch
        # key), MoR shadows every replaced copy with a delete file —
        # skip commit's raw-append overlap guard on the hot path
        verify_disjoint=False,
    )
    commit_id = table.metadata(version)["summary"]["commit_id"]
    for row in lineage_rows:
        row["commit_id"] = commit_id
    table.write_lineage(epoch, lineage_rows)

    stats.version = version
    stats.affected_partitions = len(affected)
    stats.wall_ms = int((time.monotonic() - t0) * 1000)
    return stats


# epochs >= this are reserved for dead-letter reprocess jobs: they share
# the (epoch, pid) ledger with ingest but can never collide with a CDC
# driver's own epoch numbering (which grows from 0 with its offset log)
REPROCESS_EPOCH_BASE = 1 << 40


def reprocess_quarantine(
    table: IceTable,
    repair,
    epoch: int,
    **apply_kwargs,
) -> EpochStats | None:
    """Dead-letter repair loop: read the quarantine area, apply the
    caller's ``repair(DataFrame) -> DataFrame`` (fix keys, map ops,
    backfill LSNs), and re-ingest through the SAME ``apply_epoch`` path
    under a fresh ``epoch`` — rows the repair could not fix fail
    ``split_dirty`` again and re-quarantine under the new epoch, so
    nothing is ever silently dropped. Consumed epoch directories move
    to ``quarantine_archive`` (audit trail), and only the directories
    that existed BEFORE the apply are archived, so the new epoch's
    re-quarantined leftovers stay live.

    Idempotence: archive happens only when the apply actually ran —
    either it committed clean rows, or every repaired row failed again
    and was re-quarantined (``skipped`` with ``rows_dirty > 0``: the
    leftovers now live under the NEW epoch, so the consumed dirs are
    redundant). A ledger-replay skip (``skipped`` with zero dirty)
    wrote nothing, so it archives nothing — the consumed directories
    stay live, and the NEXT reprocess (fresh epoch) re-consumes them:
    re-ingesting identical (key, lsn) rows is a no-op under the MERGE
    lsn guard, so convergence costs one extra no-op epoch and never
    loses a row. The target epoch must not already have a LIVE
    quarantine directory (``write_quarantine`` is idempotent per epoch
    — an existing directory would silently swallow the re-quarantine
    of this run's unfixable rows, and the subsequent archive would
    remove their only live copy): such a call raises up front; pick a
    fresh epoch (the job-spec path auto-picks from the reserved
    ``REPROCESS_EPOCH_BASE`` namespace). Returns None when the
    quarantine area is empty."""
    consumed = table.quarantine_epochs()
    if f"epoch={epoch}" in consumed:
        raise ValueError(
            f"reprocess epoch {epoch} already has a live quarantine "
            f"directory — its re-quarantined leftovers would be silently "
            f"dropped; use a fresh epoch (live: {consumed})"
        )
    q = table.read_quarantine()
    if q is None:
        return None
    stats = apply_epoch(table, repair(q), epoch, **apply_kwargs)
    if not stats.skipped or stats.rows_dirty > 0:
        table.archive_quarantine(consumed)
    return stats
