"""Incremental materialized-view maintenance from the table changelog.

The point of a change-data-feed is that downstream aggregates should
NOT be recomputed from scratch on every source commit. This module
maintains a grouped sum/count view (the materialized-aggregate shape:
per-language corpus profiles, per-source token budgets, per-partition
lineage stats) from ``IceTable.read_changes(pre_images=True)`` deltas:

    view(v2) == maintain_agg_view(view(v1), changes(v1, v2))

for ANY pair of retained versions — proven differentially in
tests/test_incremental_view.py against the full recompute, including
updates that MOVE a row between groups (the case that makes pre-images
mandatory: the UB row decrements the old group, the UA row increments
the new one).

Scale shape: the delta aggregation is one map-side-combined pass over
the CHANGE batch (churn-sized, not table-sized); the merge is a join on
group keys between two |groups|-row relations, with the delta side
broadcast when small. A 100 TB table with 10^4 groups and 10^6 changed
rows per commit maintains its rollup by shuffling ~10^4 rows — the full
recompute it replaces would re-scan the table. min/max are deliberately
NOT offered: they are not incrementally maintainable under deletes
without keeping per-group heaps; use a periodic full refresh for those.

Supported measures: row count (``n_rows``) and ``SUM`` over numeric
columns. Each sum carries a non-null-value count (``nn_<c>``) so the
SQL identity "SUM over zero non-null values is NULL" survives deletes
that drain a group to all-NULL measures — without it, an incrementally
maintained sum decays to 0 where the recompute says NULL. Groups whose
maintained row count reaches zero are REMOVED, so the maintained
relation is always exactly what a fresh GROUP BY produces.

Exactness: integral/decimal measures maintain bit-exactly. Floating
point sums are subject to the usual (a+b)-b ≠ a rounding drift under
long delete chains; at scale, prefer decimal measures or periodic
refresh anchoring (the CDC driver's epoch cadence makes the refresh a
natural maintenance action).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, functions as F

#: ops carried by a pre-image changelog and their contribution sign.
_PLUS = ("I", "UA")
_MINUS = ("D", "UB")


def agg_view(
    df: DataFrame, group_cols: Sequence[str], sum_cols: Sequence[str]
) -> DataFrame:
    """Full recompute of the maintained view: one grouped aggregate.

    Columns: ``group_cols…, n_rows, sum_<c>…, nn_<c>…`` — the exact
    schema ``maintain_agg_view`` preserves, so refresh-from-scratch and
    incremental maintenance are interchangeable."""
    return df.groupBy(*[F.col(c) for c in group_cols]).agg(
        F.count(F.lit(1)).alias("n_rows"),
        *[F.sum(c).alias(f"sum_{c}") for c in sum_cols],
        *[F.count(c).alias(f"nn_{c}") for c in sum_cols],
    )


def changes_delta(
    changes: DataFrame, group_cols: Sequence[str], sum_cols: Sequence[str]
) -> DataFrame:
    """Per-group net delta of a pre-image change batch.

    Plain two-op feeds (a bare ``U`` with only the post-image) cannot
    maintain sums — the pre-image's contribution is unknown — so a
    stray U row fails the job loudly instead of corrupting the view.
    """
    sign = (
        F.when(F.col("_op").isin(*_PLUS), F.lit(1))
        .when(F.col("_op").isin(*_MINUS), F.lit(-1))
        .otherwise(
            F.expr(
                "raise_error('incremental_view: changelog op without "
                "pre-images (need read_changes(pre_images=True))')"
            ).cast("int")
        )
    )
    return changes.groupBy(*[F.col(c) for c in group_cols]).agg(
        F.sum(sign).alias("_d_n"),
        *[
            # sign * NULL is NULL and SUM skips it — same null algebra
            # as the recompute's SUM over the raw rows.
            F.sum(sign * F.col(c)).alias(f"_d_{c}")
            for c in sum_cols
        ],
        *[
            F.sum(
                F.when(F.col(c).isNotNull(), sign).otherwise(F.lit(0))
            ).alias(f"_dnn_{c}")
            for c in sum_cols
        ],
    )


def maintain_agg_view(
    view: DataFrame,
    changes: DataFrame,
    group_cols: Sequence[str],
    sum_cols: Sequence[str],
) -> DataFrame:
    """Apply a ``read_changes(pre_images=True)`` batch to a view built
    by :func:`agg_view`, returning the maintained view.

    Null group keys are legal groups (SQL GROUP BY keeps them), so the
    merge joins with null-safe equality — a plain equi-join would
    duplicate the NULL group on both sides. The merge is a FULL OUTER
    join (new groups appear, drained groups must surface to be
    dropped), which Spark cannot broadcast — so it sort-merges on the
    group key. Both sides are |groups|-sized relations, never the fact
    table, so the exchange is the cheap part of the plan by
    construction."""
    delta = changes_delta(changes, group_cols, sum_cols)
    v = view.alias("v")
    d = delta.alias("d")
    cond = None
    for c in group_cols:
        t = F.col(f"v.{c}").eqNullSafe(F.col(f"d.{c}"))
        cond = t if cond is None else cond & t
    merged = v.join(d, cond, "full_outer")
    n = F.coalesce(F.col("v.n_rows"), F.lit(0)) + F.coalesce(
        F.col("d._d_n"), F.lit(0)
    )
    cols = []
    for c in sum_cols:
        nn = F.coalesce(F.col(f"v.nn_{c}"), F.lit(0)) + F.coalesce(
            F.col(f"d._dnn_{c}"), F.lit(0)
        )
        # SUM over zero non-null values is NULL, not 0 — the nn counter
        # is what lets a delete-drained group recover that identity.
        s = F.when(nn == 0, F.lit(None)).otherwise(
            F.coalesce(F.col(f"v.sum_{c}"), F.lit(0))
            + F.coalesce(F.col(f"d._d_{c}"), F.lit(0))
        )
        cols.append((s.alias(f"sum_{c}"), nn.alias(f"nn_{c}")))
    return merged.select(
        *[F.coalesce(F.col(f"v.{c}"), F.col(f"d.{c}")).alias(c) for c in group_cols],
        n.alias("n_rows"),
        *[s for s, _ in cols],
        *[nn for _, nn in cols],
    ).filter(F.col("n_rows") > 0)


# --------------------------------------------------------------------- #
# incrementally maintained JOIN views (two CDC tables, shared key)
# --------------------------------------------------------------------- #


def create_join_view(spark, path, table_a, table_b, num_partitions: int = 8):
    """Create the (empty) materialized inner-join view table for
    ``V = A ⋈_key B`` where BOTH sources are CDC tables keyed on the
    SAME key column (the engine's one-live-row-per-key model makes the
    join 1:1, so V is keyed on that column too and maintains through
    the ordinary apply_epoch MERGE path).

    Schema = A's columns + B's non-key columns; a non-key name
    collision raises (a silently renamed column would desynchronize the
    view from any consumer's expectations)."""
    from pyspark.sql import types as T

    from datax_spark.icetable.table import IceTable

    key = table_a.key_column
    if table_b.key_column != key:
        raise ValueError(
            f"join view needs a shared key column: A has {key!r}, "
            f"B has {table_b.key_column!r}"
        )
    a_fields = list(table_a.schema().fields)
    b_fields = [f for f in table_b.schema().fields if f.name != key]
    clash = {f.name for f in a_fields} & {f.name for f in b_fields}
    if clash:
        raise ValueError(
            f"non-key column collision between the join sides: "
            f"{sorted(clash)} — rename one side first"
        )
    return IceTable.create(
        spark,
        path,
        T.StructType(a_fields + b_fields),
        num_partitions=num_partitions,
        key_column=key,
    )


def join_view_events(
    table_a,
    table_b,
    from_a: int,
    to_a: int,
    from_b: int,
    to_b: int,
    epoch: int,
) -> DataFrame:
    """Change events that move the join view from state
    (A@from_a ⋈ B@from_b) to (A@to_a ⋈ B@to_b) — churn-sized, never a
    re-join of the full tables.

    Affected keys = keys changed on EITHER side; both sides' post-image
    rows for those keys come from PRUNED reads (partition-id subset +
    bloom file skipping via read_partitions), so the maintenance cost
    scales with churn × the matching slices, not table size. A key with
    live rows on both sides emits one upsert carrying the joined row; a
    key with either side missing emits a delete (inner-join semantics).
    Every event carries lsn = ``epoch``: the view's own epochs strictly
    increase, which keeps the per-key LSN guard monotone even though
    the two SOURCE tables' LSN spaces are unrelated."""
    key = table_a.key_column
    ch_a = table_a.read_changes(from_a, to_a)
    ch_b = table_b.read_changes(from_b, to_b)
    affected = ch_a.select(key).unionByName(ch_b.select(key)).distinct()

    # pruned point reads of the affected keys' post-images on each side
    # (IceTable.lookup: pid subset + envelopes + bloom file skipping)
    a = table_a.lookup(affected, version=to_a)
    b = table_b.lookup(affected, version=to_b)
    joined = a.join(b.drop(*(set(b.columns) & set(a.columns) - {key})), key)
    payload_cols = [c for c in joined.columns if c != key]
    upserts = joined.select(
        key, *payload_cols,
        F.lit("U").alias("op"), F.lit(int(epoch) + 1).alias("lsn"),
    )
    dels = (
        affected.join(joined.select(key), key, "left_anti")
        .select(
            key,
            *[F.lit(None).cast(joined.schema[c].dataType).alias(c)
              for c in payload_cols],
            F.lit("D").alias("op"), F.lit(int(epoch) + 1).alias("lsn"),
        )
    )
    return upserts.unionByName(dels)


def sync_join_view(view, table_a, table_b) -> dict:
    """Advance the materialized join view to the sources' CURRENT
    states: cursor tags on the source tables (named after the view
    root, the jobspec sinceTag pattern) record the last synced
    versions; absent tags bootstrap from 0 (full state as inserts —
    the empty-v0 changelog contract). The events go through the
    ordinary apply_epoch exactly-once path, then the tags advance.
    A crash before the tag moves re-reads the same span; the ledger
    makes the replay a no-op."""
    import hashlib

    tag = "joinview_" + hashlib.md5(str(view.root).encode()).hexdigest()[:12]

    def _cursor(table):
        try:
            return table.resolve_ref(tag)
        except KeyError:
            return 0

    from_a, from_b = _cursor(table_a), _cursor(table_b)
    to_a, to_b = table_a.current_version(), table_b.current_version()
    if (from_a, from_b) == (to_a, to_b):
        return {"epoch": None, "a": (from_a, to_a), "b": (from_b, to_b)}
    # rewrite-/metadata-only spans (including this function's own tag
    # publishes) produce an EMPTY semantic changelog: no epoch, and the
    # tags stay put — moving them would publish yet another version and
    # chase itself forever
    if (
        table_a.read_changes(from_a, to_a).limit(1).count() == 0
        and table_b.read_changes(from_b, to_b).limit(1).count() == 0
    ):
        return {"epoch": None, "a": (from_a, to_a), "b": (from_b, to_b)}
    committed = view.committed_epochs()
    epoch = (max(committed) + 1) if committed else 0
    events = join_view_events(
        table_a, table_b, from_a, to_a, from_b, to_b, epoch
    )
    from datax_spark.operators.merge import apply_epoch

    apply_epoch(view, events, epoch=epoch, extract=False)
    table_a.tag(tag, to_a)
    table_b.tag(tag, to_b)
    return {"epoch": epoch, "a": (from_a, to_a), "b": (from_b, to_b)}


class AggViewSync:
    """Driver-registrable maintained AGGREGATE view: wraps the
    maintain_agg_view delta path behind the ``.sync(table)`` + version
    cursor protocol the EpochDriver's ``derived`` list expects (the
    same contract as the CDC-maintained index artifacts). The view is
    materialized as parquet under ``root`` (|groups| rows — rewriting
    it whole per sync is metadata-cheap even on a 100 TB source).

    Crash atomicity (the meta-as-commit-point pattern shared with the
    index artifacts): each sync writes the maintained view to a
    VERSION-NAMED dir ``view-v{to}`` and then atomically renames
    ``cursor.json`` naming both the source version and that dir — the
    cursor IS the commit point. A crash before the cursor rename
    leaves the cursor at the old version pointing at the old dir, so
    the retry recomputes the same span onto the same still-intact
    previous view (idempotent — the earlier two-rename swap could
    advance the view before the cursor landed, and the retry would
    re-apply the span's deltas onto the already-advanced view,
    double-counting). Unreferenced dirs are GC'd after commit."""

    def __init__(self, spark, root, table, group_cols, sum_cols=()):
        import json
        from pathlib import Path

        self.spark = spark
        self.root = Path(root)
        self.group_cols = list(group_cols)
        self.sum_cols = list(sum_cols)
        cur = self.root / "cursor.json"
        if cur.exists():
            self.meta = json.loads(cur.read_text())
        else:
            self.meta = {"source": {"path": str(table.root), "version": 0}}

    def _view_path(self):
        # committed dir named by the cursor; "view" is the pre-r4
        # layout read for back-compat
        d = self.meta.get("view_dir")
        if d is not None:
            return self.root / d
        return self.root / "view"

    def read(self) -> DataFrame:
        p = self._view_path()
        if not p.exists():
            raise FileNotFoundError(f"no maintained view at {p} — sync first")
        return self.spark.read.parquet(str(p))

    def sync(self, table) -> dict:
        import shutil

        src = self.meta["source"]
        if str(table.root) != src["path"]:
            raise ValueError(
                f"view tracks {src['path']}, got table at {table.root}"
            )
        frm = int(src["version"])
        to = table.current_version()
        if to == frm:
            return {"from": frm, "to": to, "changed": 0}
        changes = table.read_changes(frm, to, pre_images=True)
        n = changes.limit(1).count()
        if n == 0:
            # rewrite-/metadata-only span: advance the cursor only
            self.meta["source"] = {**src, "version": to}
            self._commit()
            return {"from": frm, "to": to, "changed": 0}
        if self._view_path().exists():
            view = self.read()
        else:
            view = agg_view(
                changes.limit(0).drop("_op", "_lsn"),
                self.group_cols, self.sum_cols,
            )
        maintained = maintain_agg_view(
            view, changes, self.group_cols, self.sum_cols
        )
        # stage under a version name; only the cursor rename publishes
        # it — a crash anywhere before that leaves the committed view
        # AND cursor at the previous version (retry is a clean redo of
        # the same span, never a double-apply). Same commit-point
        # discipline as text_index.publish_generation, but the dir is
        # VERSION-named and the commit rides cursor.json because the
        # source version must land in the identical atomic write.
        new_dir = f"view-v{to}"
        maintained.write.mode("overwrite").parquet(str(self.root / new_dir))
        self.meta["source"] = {**src, "version": to}
        self.meta["view_dir"] = new_dir
        self._commit()
        # GC every staged/previous dir the cursor no longer references
        for p in self.root.iterdir():
            if p.name == new_dir or not p.is_dir():
                continue
            if p.name.startswith("view-v") or p.name == "view" or (
                p.name.startswith(".view-")
            ):
                shutil.rmtree(p, ignore_errors=True)
        return {"from": frm, "to": to, "changed": 1}

    def _commit(self) -> None:
        import json
        import os
        import tempfile

        self.root.mkdir(parents=True, exist_ok=True)
        fd, tmp = tempfile.mkstemp(dir=self.root, prefix=".cur-", suffix=".json")
        with os.fdopen(fd, "w") as f:
            json.dump(self.meta, f)
        os.replace(tmp, self.root / "cursor.json")

