"""Z-order (Morton) layout clustering — multi-dimensional data skipping.

Sorting a table by ONE column makes that column's per-file min/max
ranges tight (so predicate file-pruning works) and every other
column's ranges useless. Interleaving the bits of several columns into
one Morton key and range-partitioning by it shrinks per-file ranges on
ALL the interleaved dimensions at once — the layout pass behind
"OPTIMIZE ZORDER BY" in lakehouse engines. Applied ahead of parquet
writes it makes the footer min/max row-group statistics selective on
every clustered column (Spark's scan skips row groups on pushed
filters for any column); IceTable's own key min/max + bloom pruning
(`icetable/scan.py`, `icetable/bloom.py`) stays key-column-specific
and is unaffected.

Everything is codegen: the interleave is a fixed fan of shift/mask/or
expressions (no UDF), and the layout pass is one
``repartitionByRange`` (a range exchange — the same price as any
global sort) + in-partition sort. Verified effect: tests/test_layout.py
measures per-file min/max spans of BOTH dimensions shrinking vs a
single-column sort.

Determinism: bit arithmetic only — an external SQL engine reproduces
z-values exactly (``zvalue_sql`` emits the identical expression).
"""

from __future__ import annotations

from functools import reduce
from typing import Sequence

from pyspark.sql import Column, DataFrame, functions as F


def zvalue(cols: Sequence, bits: int = 8) -> Column:
    """Morton key of the given integer columns; each value must already
    be in [0, 2**bits) — scale first (``minmax_scale`` or a modulo).
    Column i's bit b lands at position b*ncols + i."""
    cols = [F.col(c) if isinstance(c, str) else c for c in cols]
    n = len(cols)
    parts = []
    for i, c in enumerate(cols):
        x = c.cast("long")
        for b in range(bits):
            parts.append(
                F.shiftleft(
                    F.shiftright(x, b).bitwiseAND(F.lit(1)), b * n + i
                )
            )
    return reduce(lambda a, b: a.bitwiseOR(b), parts).alias("zvalue")


def zvalue_sql(cols: Sequence[str], bits: int = 8) -> str:
    """The identical Morton expression as portable SQL (for oracles and
    pushdown into external engines)."""
    n = len(cols)
    parts = [
        f"((({c} >> {b}) & 1) << {b * n + i})"
        for i, c in enumerate(cols)
        for b in range(bits)
    ]
    return " | ".join(parts)


def minmax_scale(c, lo: float, hi: float, bits: int = 8) -> Column:
    """Affine map of [lo, hi] onto the integer grid [0, 2**bits): the
    caller supplies the bounds (one tiny agg upstream — O(1) driver
    metadata, never a per-row collect)."""
    c = F.col(c) if isinstance(c, str) else c
    span = float(hi) - float(lo)
    top = (1 << bits) - 1
    if span < 0:
        raise ValueError(f"hi < lo ({hi} < {lo})")
    if span == 0:
        # constant column in this batch: everything in bucket 0 rather
        # than an ANSI DIVIDE_BY_ZERO
        return F.lit(0).cast("long")
    scaled = F.floor(
        (c.cast("double") - F.lit(float(lo))) / F.lit(span) * F.lit(top + 1)
    )
    return F.least(F.greatest(scaled, F.lit(0)), F.lit(top)).cast("long")


def zorder_sort(
    df: DataFrame, zcol: Column, num_partitions: int | None = None
) -> DataFrame:
    """The layout pass: ONE range exchange on the Morton key + an
    in-partition sort; write the result and every interleaved dimension
    gets tight per-file min/max bounds."""
    parted = (
        df.repartitionByRange(num_partitions, zcol)
        if num_partitions
        else df.repartitionByRange(zcol)
    )
    return parted.sortWithinPartitions(zcol)
