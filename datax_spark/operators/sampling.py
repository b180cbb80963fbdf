"""Deterministic corpus sampling — the subset operators a training-data
pipeline runs LAST (after cleaning/dedup): carve a reproducible sample
or assemble a per-source token-budget mix. No RNG anywhere: replaying
the pipeline regenerates byte-identical samples (the same property the
CDC engine's replay and k-means sampling rely on).

* ``deterministic_sample`` gates on an md5 prefix of the key — a pure
  projection + filter (codegen, no shuffle), engine-portable (the
  DuckDB oracle compares the same hex strings), and stable under
  corpus growth: a row's membership never changes as other rows come
  and go (unlike ``df.sample``, whose membership depends on partition
  layout and seed plumbing).
* ``token_budget_sample`` fills a per-group token budget in a
  deterministic priority order (quality desc, id asc): one window
  cumulative sum per group — the shuffle is keyed on the group column,
  so a 100-source mix build is one exchange of narrow rows.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def sample_gate(key: Column, fraction: float) -> Column:
    """Boolean membership: md5-prefix < threshold. Fraction granularity
    is 1/16^6 (six hex digits); lexicographic compare of fixed-width
    lowercase hex is monotone with value, so both engines agree."""
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction must be in [0, 1], got {fraction}")
    gate = int(fraction * 16**6)
    if gate >= 16**6:  # 7-hex threshold would break the 6-char compare
        return F.lit(True)
    thresh = format(gate, "06x")
    return F.substring(F.md5(key.cast("string")), 1, 6) < F.lit(thresh)


def deterministic_sample(
    df: DataFrame, fraction: float, key_col: str = "doc_id"
) -> DataFrame:
    """Stable ~``fraction`` subset keyed on ``key_col``."""
    return df.filter(sample_gate(F.col(key_col), fraction))


def token_budget_sample(
    df: DataFrame,
    budget_tokens: int,
    by: str = "source",
    id_col: str = "doc_id",
    token_col: str = "n_tokens",
    quality_col: str | None = "quality",
) -> DataFrame:
    """Per-``by``-group mix: take documents in (quality desc, id asc)
    priority order until the group's cumulative token count reaches
    ``budget_tokens``. The first document of a group is always taken
    (a budget smaller than every document still yields one per group,
    not zero). Adds ``cum_tokens`` — the running total INCLUDING the
    row — so the output is self-describing."""
    order = [F.col(id_col).asc()]
    if quality_col is not None:
        order.insert(0, F.col(quality_col).desc())
    w = (
        Window.partitionBy(by)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum(F.col(token_col)).over(w).cast("long")
    return (
        df.withColumn("cum_tokens", cum)
        .filter(F.col("cum_tokens") - F.col(token_col) < budget_tokens)
    )


def weighted_sample_topk(
    df: DataFrame,
    k: int,
    weight_col: str = "n_chars",
    key_col: str = "doc_id",
    score_col: str = "sample_score",
) -> DataFrame:
    """Deterministic weighted sampling without replacement: the k rows
    with the smallest ``u / w``, where ``u`` is a 48-bit md5 integer of
    the key and ``w`` the row's weight — the integer-exact, engine-
    portable form of the Efraimidis–Spirakis exponential race (for the
    winning, smallest keys ``u/w`` and ``-ln(1-u)/w`` agree to first
    order, so selection probability is ∝ weight). No RNG and NO
    transcendentals: both inputs of the one division are exact
    integers, and IEEE-754 division is correctly rounded, so every
    engine computes a BIT-IDENTICAL score — membership can't flip
    across engines the way ln()/pow() ulp noise flips it.

    Scale shape: scoring is a pure projection; top-k is a map-side
    partial top-k per partition + one k-row reduce (Spark's
    TakeOrdered), never a full sort."""
    u = F.conv(F.substring(F.md5(F.col(key_col).cast("string")), 1, 12), 16, 10)
    score = (u.cast("double") / F.col(weight_col).cast("double")).alias(score_col)
    return (
        df.withColumn(score_col, score)
        .orderBy(F.col(score_col).asc(), F.col(key_col).asc())
        .limit(k)
    )


def stratified_sample(
    df: DataFrame,
    fractions: dict[str, float],
    by: str = "source",
    key_col: str = "doc_id",
    default_fraction: float = 0.0,
) -> DataFrame:
    """Per-group deterministic sample — the corpus-mixing primitive
    (upsample curated sources, downsample crawl bulk): each row passes
    its GROUP's md5 gate, so membership inherits every
    ``deterministic_sample`` property (no RNG, growth-stable,
    engine-portable) per group. Groups absent from ``fractions`` get
    ``default_fraction`` (0.0 = drop unknown sources — the safe default
    for an explicit mix recipe)."""
    gate = sample_gate(F.col(key_col), default_fraction)
    for group, frac in sorted(fractions.items()):
        gate = F.when(
            F.col(by) == group, sample_gate(F.col(key_col), frac)
        ).otherwise(gate)
    return df.filter(gate)
