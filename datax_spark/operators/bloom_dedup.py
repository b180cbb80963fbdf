"""Bloom-membership incremental dedup — "is this page already in the
corpus?" answered without shuffling the corpus.

The production problem: a recrawl batch of N new pages must be checked
against a corpus of M >> N already-ingested pages. The exact answer is
an anti-join, but at 100 TB the corpus side of that join is the whole
lake. The standard fix (used by every incremental-ingest system,
including this engine's per-file key blooms in ``icetable/bloom.py``) is
a Bloom filter built ONCE over the corpus keys and broadcast to the
batch: probes are map-side, the corpus is never re-read, false
positives are resolved by an exact join against only the flagged rows.

This module is the corpus-level, engine-portable form: a BLOCKED bloom
(B blocks × 63 usable bits in a signed i64 word) whose hash functions
are md5-prefix integers, so the driver's DuckDB oracle can replay the
exact same bits (``tests/test_bloom_dedup.py`` + the
``bloom_membership`` contract query). The icetable sidecar blooms use
the same word layout.

Scale shape:
* build — one map-side-combined ``groupBy(block).agg(bit_or)`` over the
  corpus: output is B rows (kilobytes), independent of corpus size.
* probe — broadcast-join the B-row word table to the batch on block id:
  zero shuffle of either corpus or batch.
* verify — the exact md5 semi-join runs only over bloom-positive rows
  (expected = true-dup rate + false-positive rate ≈ |dups| + N/2^bits).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _h(key: Column, lo: int) -> Column:
    """Independent-ish 32-bit hash: md5 hex slice [lo, lo+8) as int."""
    return F.conv(F.substring(F.md5(key), lo, 8), 16, 10).cast("bigint")


def bloom_terms(key: Column, n_blocks: int) -> tuple[Column, Column]:
    """(block, bits): the block id and the two-bit mask this key sets.
    Bits live in [0, 63) — bit 63 stays clear so the word arithmetic
    never touches the sign bit in either engine."""
    block = _h(key, 1) % n_blocks
    one = F.lit(1).cast("long")
    bits = F.call_function(
        "shiftleft", one, (_h(key, 9) % 63).cast("int")
    ).bitwiseOR(F.call_function("shiftleft", one, (_h(key, 17) % 63).cast("int")))
    return block, bits


def build_bloom(
    corpus: DataFrame, key: Column, n_blocks: int = 1024
) -> DataFrame:
    """(block, word): the corpus's blocked bloom — B rows total."""
    block, bits = bloom_terms(key, n_blocks)
    return (
        corpus.select(block.alias("block"), bits.alias("bits"))
        .groupBy("block")
        .agg(F.bit_or("bits").alias("word"))
    )


def probe_bloom(
    batch: DataFrame, bloom: DataFrame, key: Column, n_blocks: int = 1024
) -> DataFrame:
    """Batch rows + ``bloom_hit`` (bool): might-be-in-corpus. The bloom
    side is broadcast; the batch never shuffles."""
    block, bits = bloom_terms(key, n_blocks)
    probed = batch.withColumn("_block", block).withColumn("_bits", bits)
    return (
        probed.join(F.broadcast(bloom), probed["_block"] == bloom["block"], "left")
        .select(
            *batch.columns,
            (
                F.col("word").isNotNull()
                & (F.col("word").bitwiseAND(F.col("_bits")) == F.col("_bits"))
            ).alias("bloom_hit"),
        )
    )


def bloom_dedup_flags(
    corpus: DataFrame,
    batch: DataFrame,
    key_col: str = "text",
    id_col: str = "doc_id",
    n_blocks: int = 1024,
) -> DataFrame:
    """The full incremental-dedup decision per batch row:
    (id, bloom_hit, exact_dup) — ``exact_dup`` is ground truth via the
    md5 semi-join, run ONLY over bloom-positive rows (bloom-negative is
    definitively new; that short-circuit is the operator's point).
    ``bloom_hit & ~exact_dup`` rows are the filter's false positives.
    """
    key = F.col(key_col)
    bloom = build_bloom(corpus, key, n_blocks)
    flagged = probe_bloom(batch, bloom, key, n_blocks)
    corpus_keys = corpus.select(F.md5(key).alias("_ckey")).distinct()
    hits = flagged.filter("bloom_hit").join(
        corpus_keys,
        F.md5(F.col(key_col)) == F.col("_ckey"),
        "left",
    ).select(
        id_col,
        F.lit(True).alias("bloom_hit"),
        F.col("_ckey").isNotNull().alias("exact_dup"),
    )
    misses = flagged.filter(~F.col("bloom_hit")).select(
        id_col,
        F.lit(False).alias("bloom_hit"),
        F.lit(False).alias("exact_dup"),
    )
    return hits.unionByName(misses)
