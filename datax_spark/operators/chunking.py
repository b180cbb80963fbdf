"""Chunking & sequence packing — the last mile of a pretraining data
pipeline: split long documents into overlapping context-sized windows,
and pack short documents into dense fixed-budget groups.

Both are pure DataFrame compositions over whitespace tokens (the same
space-split the rest of the text family uses, so token accounting is
consistent end to end) and fully deterministic:

* ``chunk_documents`` — per-row array work only (split → slice per
  window start) followed by one posexplode; NO shuffle at all. A 100 TB
  corpus chunks in a single map stage.
* ``pack_documents`` — greedy concatenation order is (id asc) within a
  pack domain (default: ``source``); a document's pack is
  ``floor(cum_tokens_before / context)``. One window shuffle keyed on
  the pack domain. Packing globally would serialize on one reducer —
  the domain column IS the parallelism knob (a real pipeline packs per shard/source; cross-domain packing
  only changes which <2*context-token tail fragments exist).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def chunk_documents(
    df: DataFrame,
    chunk_tokens: int = 512,
    overlap: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, chunk_idx, chunk_text, n_chunk_tokens) — sliding windows of
    ``chunk_tokens`` whitespace tokens advancing by
    ``chunk_tokens - overlap``. Documents shorter than one chunk yield
    exactly one chunk; empty documents yield none."""
    if not 0 <= overlap < chunk_tokens:
        raise ValueError("need 0 <= overlap < chunk_tokens")
    step = chunk_tokens - overlap
    toks = F.filter(F.split(F.col(text_col), " "), lambda t: t != "")
    n = F.size(toks)
    starts = F.sequence(F.lit(0), F.greatest(n - 1, F.lit(0)), F.lit(step))
    # a trailing start whose chunk would be PURE overlap (fully contained
    # in the previous window) is dropped: keep start 0, or starts with
    # at least one token beyond the overlap region
    starts = F.filter(starts, lambda s: (s == 0) | (s + overlap < n))
    chunks = F.transform(
        starts, lambda s: F.slice(toks, s + 1, chunk_tokens)
    )
    out = (
        df.select(F.col(id_col), toks.alias("_toks"), chunks.alias("_chunks"))
        .filter(F.size("_toks") > 0)
        .select(id_col, F.posexplode("_chunks").alias("chunk_idx", "_c"))
        .select(
            id_col,
            "chunk_idx",
            F.array_join("_c", " ").alias("chunk_text"),
            F.size("_c").cast("long").alias("n_chunk_tokens"),
        )
    )
    return out


def pack_documents(
    df: DataFrame,
    context_tokens: int = 2048,
    by: str = "source",
    id_col: str = "doc_id",
    token_col: str = "n_tokens",
) -> DataFrame:
    """Greedy sequential packing: concatenate the domain's documents in
    id order and cut every ``context_tokens`` — a document lands in pack
    ``floor(tokens_before_it / context)``. Returns one row per
    (domain, pack): (by, pack_id, n_docs, n_tokens, first_doc,
    last_doc). Unlike first-fit bin packing this is streaming-friendly,
    order-deterministic, and what sequence-packing pretraining loaders
    actually do (documents are split across pack boundaries at read
    time; the pack table records the budget accounting)."""
    w = (
        Window.partitionBy(by)
        .orderBy(F.col(id_col).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum_before = F.sum(F.col(token_col)).over(w) - F.col(token_col)
    tagged = df.withColumn(
        "pack_id", F.floor(cum_before / F.lit(context_tokens)).cast("long")
    )
    return tagged.groupBy(by, "pack_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(token_col).cast("long").alias("n_tokens"),
        F.min(id_col).alias("first_doc"),
        F.max(id_col).alias("last_doc"),
    )
