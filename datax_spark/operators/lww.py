"""Last-writer-wins resolution over LSN (SURVEY.md §2.5 W1 — normative).

Semantics (BASELINE.json:6): within a change batch, each key keeps the
event with the maximum LSN. Per-key LSN monotonicity is the source
contract, so max-LSN equals "last in log order"; a sequential fold over
the log and this set-wise resolution provably agree (property-tested in
tests/test_lww.py against ``reference_apply``).

Physical strategies — same semantics, different shuffle profiles:

* ``window`` — the rule's literal form: ``row_number() OVER (PARTITION BY
  key ORDER BY lsn DESC) = 1``. Spark plans a PARTIAL WindowGroupLimit
  (top-1 per key) on the map side BEFORE the exchange (asserted in
  tests/test_plans.py), so duplicate keys — including zipf-hot urls —
  collapse to ~one row per (mapper, key) before crossing the wire, then
  one sort per reducer. With wide html-payload rows this measured
  fastest at every parallelism tested (8/32 cores, 0.25-2M-event
  batches).
* ``max_by`` — ``groupBy(key).agg(max_by(struct(*), lsn))``. Also
  map-side combined, but the object-hash aggregate falls back to
  sort-based past spark.sql.objectHashAggregate.sortBased.
  fallbackThreshold (128 groups), paying the wide-row sort twice —
  measured ~1.5x slower than ``window`` on payload rows. Fine for
  narrow rows.

``apply_epoch`` always resolves with ``window``. Hot keys need no salt:
the partial top-1 before the exchange leaves one row per (mapper, key)
however hot the key, and url-hash partitioning spreads hot domains
across partitions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def lww_resolve(
    df: DataFrame,
    key: str = "url",
    order: str = "lsn",
    strategy: str = "window",
) -> DataFrame:
    """One row per ``key``: the event with the maximum ``order`` value."""
    cols = df.columns
    if strategy == "window":
        w = Window.partitionBy(key).orderBy(F.col(order).desc())
        return (
            df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
    if strategy == "max_by":
        payload = F.struct(*[F.col(c) for c in cols])
        return (
            df.groupBy(key)
            .agg(F.max_by(payload, F.col(order)).alias("_row"))
            .select([F.col(f"_row.{c}").alias(c) for c in cols])
        )
    raise ValueError(f"unknown lww strategy: {strategy}")
