"""End-to-end training-data curation pipeline — the composition layer
over the text/dedup operator families (SURVEY.md §8 "training-data
pipeline operators"; the FineWeb/SlimPajama-style prep flow a 100 TB
Common-Crawl corpus actually runs):

    annotate (lang-id, quality, token count)     one codegen projection
      → filter by language + quality             before ANY shuffle
      → exact dedup (canonicalized md5, LWW keep-lowest-id)
      → near-dup removal (MinHash LSH pairs → drop larger id)
      → curated corpus + per-stage funnel counts

plus the full production composition on top: ``full_prep`` (adds the
Gopher gate, benchmark decontamination, PII redaction),
``full_prep_funnel`` (its retention accounting), and
``incremental_prep`` (the same flow for batch-arriving corpora, near-
dup against the persisted MinHashIndex).

Scale design: annotation is a narrow JVM-codegen projection (no Python,
no shuffle), and the cheap filters run FIRST so every downstream shuffle
(the exact-dedup window, the MinHash token explode/agg, the LSH band
join) sees only survivors — at web scale the quality+lang gate drops
40-60% of pages before the first exchange. Exact dedup uses the
window-over-canon-hash form (map-side WindowGroupLimit partial, same
shape as the CDC engine's LWW resolve); near-dup candidates come only
from the bucketed LSH equi-join (operators/dedup.py — never all-pairs).

The drop rule for a near-dup pair (a, b) with a < b is "drop b": the
deterministic keep-lowest-id policy FineWeb uses within clusters.
It is intentionally non-transitive (b dropped for a does not protect c
paired only with b) — matching the industry-standard pairwise form,
SQL-expressible, and order-independent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import text as TXT
from . import dedup as DD


def annotate(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document annotations in one codegen stage: detected language,
    quality score, BPE-ish token count. Keeps all input columns."""
    t = F.col(text_col)
    return df.select(
        "*",
        TXT.lang_id(t).alias("lang_det"),
        TXT.quality_score(t).alias("quality"),
        TXT.regex_token_count(t).alias("n_tokens"),
    )


def _gates(
    df: DataFrame,
    *,
    min_quality: float,
    langs: tuple[str, ...] | None,
    id_col: str,
    text_col: str,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(annotated, lang/quality-filtered, exact-deduped) — the cheap
    pre-near-dup gate chain shared by the one-shot and incremental
    pipelines. Exact dedup uses the one canonical fingerprint (shared
    with doc_fingerprint / normalized_dedup — a spec change must move
    all three together)."""
    ann = annotate(df, id_col, text_col)
    cond = F.col("quality") >= F.lit(min_quality)
    if langs is not None:
        cond = cond & F.col("lang_det").isin(*langs)
    filtered = ann.filter(cond)
    canon = TXT.normalized_fingerprint(F.col(text_col))
    w = Window.partitionBy(canon).orderBy(F.col(id_col).asc())
    exact = (
        filtered.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    return ann, filtered, exact


def _stages(
    df: DataFrame,
    *,
    min_quality: float,
    langs: tuple[str, ...] | None,
    k: int,
    bands: int,
    jaccard_threshold: float,
    hash_fn: str,
    id_col: str,
    text_col: str,
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """(annotated, filtered, exact-deduped, near-dup-removed) frames —
    each stage consumes the previous, so a caller materializing only the
    last pays each shuffle once."""
    ann, filtered, exact = _gates(
        df, min_quality=min_quality, langs=langs, id_col=id_col, text_col=text_col
    )
    pairs = DD.minhash_lsh_pairs(
        exact,
        k=k,
        bands=bands,
        jaccard_threshold=jaccard_threshold,
        id_col=id_col,
        text_col=text_col,
        hash_fn=hash_fn,
    )
    drops = pairs.select(F.col("id_b").alias(id_col)).distinct()
    kept = exact.join(drops, id_col, "left_anti")
    return ann, filtered, exact, kept


def curate(
    df: DataFrame,
    *,
    min_quality: float = 0.8,
    langs: tuple[str, ...] | None = ("en",),
    k: int = 8,
    bands: int = 4,
    jaccard_threshold: float = 0.7,
    hash_fn: str = "md5",
    id_col: str = "doc_id",
    text_col: str = "text",
    keep_cols: tuple[str, ...] = ("source",),
) -> DataFrame:
    """The curated corpus: one row per kept document with its
    annotations — (id, *keep_cols, lang_det, quality, n_tokens)."""
    _, _, _, kept = _stages(
        df,
        min_quality=min_quality,
        langs=langs,
        k=k,
        bands=bands,
        jaccard_threshold=jaccard_threshold,
        hash_fn=hash_fn,
        id_col=id_col,
        text_col=text_col,
    )
    return kept.select(id_col, *keep_cols, "lang_det", "quality", "n_tokens")


def full_prep(
    df: DataFrame,
    benchmark: DataFrame | None = None,
    *,
    min_quality: float = 0.8,
    langs: tuple[str, ...] | None = ("en",),
    k: int = 8,
    bands: int = 4,
    jaccard_threshold: float = 0.7,
    hash_fn: str = "md5",
    decontaminate_n: int = 3,
    gopher: bool = True,
    redact: bool = True,
    id_col: str = "doc_id",
    text_col: str = "text",
    keep_cols: tuple[str, ...] = ("source",),
    classifier_threshold: float | None = None,
) -> DataFrame:
    """The COMPLETE prep flow, every stage this library implements in
    its production order (FineWeb/Dolma-style):

        Gopher-rules gate → [model quality gate] → annotate
          → lang/quality filter → exact dedup → MinHash near-dup drop
          → benchmark decontamination → PII redaction

    Cheap codegen gates (Gopher, lang/quality, and — when
    ``classifier_threshold`` is set — the hashed-linear model gate from
    functions/classifier.py, also pure codegen) run before any shuffle;
    decontamination sees only dedup survivors (its per-doc gram explode
    is the widest stage, so it goes last among the drops); redaction is
    a final projection. Returns kept docs with annotations and — when
    ``redact`` — the scrubbed text as ``text_redacted``."""
    out = df
    if gopher:
        sig = TXT.gopher_signals(F.col(text_col))
        out = out.filter(TXT.gopher_pass(sig))
    if classifier_threshold is not None:
        from ..functions.classifier import hashed_linear_score

        out = out.filter(
            hashed_linear_score(F.col(text_col)) > classifier_threshold
        )
    _, _, _, kept = _stages(
        out,
        min_quality=min_quality,
        langs=langs,
        k=k,
        bands=bands,
        jaccard_threshold=jaccard_threshold,
        hash_fn=hash_fn,
        id_col=id_col,
        text_col=text_col,
    )
    if benchmark is not None:
        from .decontaminate import decontaminate as _decon

        kept = _decon(
            kept, benchmark, n=decontaminate_n, id_col=id_col, text_col=text_col
        )
    cols = [id_col, *keep_cols, "lang_det", "quality", "n_tokens"]
    if redact:
        from ..functions.pii import redact_pii

        kept = kept.withColumn("text_redacted", redact_pii(F.col(text_col)))
        cols.append("text_redacted")
    return kept.select(*cols)


def _stage_rows(agg_df: DataFrame, names: list[str]) -> DataFrame:
    """Lazy wide→long pivot of the one-row conditional aggregate into
    (stage_idx, stage, n_docs, n_tokens) rows — posexplode inside the
    returned plan, no driver action. Keeping the pivot lazy means the
    funnel's whole cost is charged where it runs: an earlier revision
    ``.first()``-ed the aggregate at construction time, so a caller
    (and the bench's build/exec split) saw ~20 s of corpus work billed
    as plan CONSTRUCTION and a free-looking execution."""
    entries = F.array(
        *[
            F.struct(
                F.lit(names[s]).alias("stage"),
                # a stage that retains no docs sums to NULL: report 0
                F.coalesce(F.col(f"d{s}").cast("long"), F.lit(0)).alias("n_docs"),
                F.coalesce(F.col(f"t{s}").cast("long"), F.lit(0)).alias("n_tokens"),
            )
            for s in range(len(names))
        ]
    )
    return agg_df.select(F.posexplode(entries).alias("_i", "_e")).select(
        F.col("_i").cast("int").alias("stage_idx"),
        F.col("_e.stage").alias("stage"),
        F.col("_e.n_docs").alias("n_docs"),
        F.col("_e.n_tokens").alias("n_tokens"),
    )


def full_prep_funnel(
    df: DataFrame,
    benchmark: DataFrame | None = None,
    *,
    min_quality: float = 0.8,
    langs: tuple[str, ...] | None = ("en",),
    k: int = 8,
    bands: int = 4,
    jaccard_threshold: float = 0.7,
    hash_fn: str = "md5",
    decontaminate_n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Retention accounting for the full prep flow: (stage_idx, stage,
    n_docs, n_tokens) for raw → gopher → lang_quality → exact_dedup →
    near_dup → decontaminated. Token counts use the same BPE-ish
    counter the curated output reports.

    Single-pass tag form (the `funnel` shape extended to all six
    stages): every document gets a max-stage-reached tag and ONE
    conditional aggregation emits every stage row — stage s counts docs
    with tag >= s. The earlier UNION-of-staged-aggregates form
    recomputed the MinHash-LSH subtree once per later stage (~2-3 full
    passes over the corpus just for accounting). Here the expensive
    subtrees each run exactly once, reduced to small broadcast id sets:
    the LSH pairs' drop ids and the benchmark-contaminated ids (probed
    only over near-dup survivors, so the gram explode — the widest
    stage — sees the smallest frame). The corpus text is scanned three
    times (annotate+tag, MinHash over exact survivors, decon grams)
    with nothing persisted; the tag window shuffles a NARROW projection
    (canon hash, id, flags, token count — never the text)."""
    ann = annotate(df, id_col, text_col)
    g = TXT.gopher_pass(TXT.gopher_signals(F.col(text_col)))
    cond = F.col("quality") >= F.lit(min_quality)
    if langs is not None:
        cond = cond & F.col("lang_det").isin(*langs)
    canon = TXT.normalized_fingerprint(F.col(text_col))
    flagged = ann.select(
        id_col,
        text_col,
        "n_tokens",
        canon.alias("_canon"),
        F.coalesce(g, F.lit(False)).alias("_g"),
        F.coalesce(g & cond, F.lit(False)).alias("_p"),
    )
    # lowest-id PASSING doc per canon group is the staged-form exact-
    # dedup winner (passers ordered first, then id)
    w = Window.partitionBy("_canon").orderBy(
        F.col("_p").desc(), F.col(id_col).asc()
    )
    ranked = flagged.withColumn(
        "_exact", F.col("_p") & (F.row_number().over(w) == 1)
    )
    exact_docs = ranked.filter(F.col("_exact")).select(id_col, text_col)
    pairs = DD.minhash_lsh_pairs(
        exact_docs,
        k=k,
        bands=bands,
        jaccard_threshold=jaccard_threshold,
        id_col=id_col,
        text_col=text_col,
        hash_fn=hash_fn,
    )
    drops = (
        pairs.select(F.col("id_b").alias(id_col))
        .distinct()
        .withColumn("_dropped", F.lit(True))
    )
    names = ["raw", "gopher", "lang_quality", "exact_dedup", "near_dup"]
    stage = (
        F.when(~F.col("_g"), F.lit(0))
        .when(~F.col("_p"), F.lit(1))
        .when(~F.col("_exact"), F.lit(2))
        .when(F.col("_dropped"), F.lit(3))
    )
    tagged = ranked.drop(text_col).join(F.broadcast(drops), id_col, "left")
    if benchmark is not None:
        from .decontaminate import ngram_contamination

        names.append("decontaminated")
        survivors = exact_docs.join(
            F.broadcast(drops.select(id_col)), id_col, "left_anti"
        )
        contaminated = (
            ngram_contamination(
                survivors, benchmark, n=decontaminate_n,
                id_col=id_col, text_col=text_col,
            )
            .filter(F.col("contaminated"))
            .select(id_col)
            .withColumn("_cont", F.lit(True))
        )
        tagged = tagged.join(F.broadcast(contaminated), id_col, "left")
        stage = stage.when(F.col("_cont"), F.lit(4))
    n_stages = len(names)
    tagged = tagged.select(
        stage.otherwise(F.lit(n_stages - 1)).alias("_stage"), "n_tokens"
    )
    agg = tagged.agg(
        *[F.sum(F.when(F.col("_stage") >= s, F.lit(1))).alias(f"d{s}") for s in range(n_stages)],
        *[
            F.sum(F.when(F.col("_stage") >= s, F.col("n_tokens"))).alias(f"t{s}")
            for s in range(n_stages)
        ],
    )
    return _stage_rows(agg, names)


def incremental_prep(
    batch: DataFrame,
    index,
    benchmark: DataFrame | None = None,
    *,
    min_quality: float = 0.8,
    langs: tuple[str, ...] | None = ("en",),
    decontaminate_n: int = 3,
    gopher: bool = True,
    redact: bool = True,
    id_col: str = "doc_id",
    text_col: str = "text",
    keep_cols: tuple[str, ...] = ("source",),
) -> DataFrame:
    """``full_prep`` for a corpus that ARRIVES IN BATCHES: near-dup
    removal runs against the persisted MinHashIndex
    (operators/dedup_index.py) instead of the batch alone, so a new
    document duplicating ANYTHING already ingested is dropped — and the
    already-ingested text is never re-read (the index probe touches
    signatures and buckets only). Surviving docs' signatures are
    appended by the probe, so the next batch sees this one.

    Contract: document ids increase across batches (the CDC key
    discipline), so a cross-batch pair's ``id_b`` is always the NEW
    doc — the keep-lowest-id drop rule therefore never evicts an
    already-kept document. The cheap gates (Gopher, lang/quality,
    within-batch exact dedup) run BEFORE the index probe, so the index
    only ever holds documents that passed curation — matching what
    `full_prep` indexes implicitly. MinHash parameters come from the
    index's own metadata (one source of truth)."""
    out = batch
    if gopher:
        sig = TXT.gopher_signals(F.col(text_col))
        out = out.filter(TXT.gopher_pass(sig))
    _, _, exact = _gates(
        out, min_quality=min_quality, langs=langs, id_col=id_col, text_col=text_col
    )
    pairs = index.add(exact.select(F.col(id_col).alias("doc_id"), text_col))
    drops = pairs.select(F.col("id_b").alias(id_col)).distinct()
    kept = exact.join(F.broadcast(drops), id_col, "left_anti")
    if benchmark is not None:
        from .decontaminate import decontaminate as _decon

        kept = _decon(
            kept, benchmark, n=decontaminate_n, id_col=id_col, text_col=text_col
        )
    cols = [id_col, *keep_cols, "lang_det", "quality", "n_tokens"]
    if redact:
        from ..functions.pii import redact_pii

        kept = kept.withColumn("text_redacted", redact_pii(F.col(text_col)))
        cols.append("text_redacted")
    return kept.select(*cols)


def frequency_quality_buckets(
    docs: DataFrame,
    vocab_size: int = 4096,
    n_buckets: int = 3,
    thresholds: tuple[float, ...] | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """CCNet-style head/middle/tail corpus binning (Wenzek et al. 2020,
    public methodology) with a corpus-frequency PROXY for the KenLM
    perplexity score (no LM binaries offline; the binning mechanics —
    score every doc, split the corpus into quality tiers, train on the
    head first — are the operator): score(doc) = mean over its tokens
    of ln(1 + corpus_freq(token)), freq counted over the top
    ``vocab_size`` tokens (OOV scores 0 — rare-garbage tokens drag the
    mean down, exactly the signal). Returns (id, score, bucket) with
    bucket 1 = head (most fluent/common) … n = tail.

    Two bucketing modes:
    - ``thresholds=None`` (default): exact equal-population ntile over
      (score desc, id asc) — deterministic and oracle-checkable, but
      the global sort funnels (narrow) rows through one reducer; right
      for corpus-profiling runs, not the 100-TB hot path.
    - ``thresholds=(t1, t2, ...)``: production form — score cutoffs
      learned offline from a sample make bucketing a PURE PROJECTION
      (bucket = 1 + #thresholds above score), no global sort at all;
      CCNet itself ships fixed per-language cutoffs the same way.

    Scores round to 4dp BEFORE ordering so cross-engine float noise
    can't flip bucket boundaries."""
    from ..functions.tokenize import token_positions

    toks = token_positions(docs, id_col, text_col)
    freqs = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("tok").asc())
        .limit(vocab_size)
    )
    scored = (
        toks.join(F.broadcast(freqs), "tok", "left")
        .groupBy(id_col)
        .agg(
            F.round(
                F.avg(F.log(F.lit(1.0) + F.coalesce(F.col("n"), F.lit(0)))), 4
            ).alias("score")
        )
    )
    if thresholds is not None:
        bucket = F.lit(1)
        for t in sorted(thresholds, reverse=True):
            bucket = bucket + F.when(F.col("score") < F.lit(t), 1).otherwise(0)
        return scored.select(id_col, "score", bucket.cast("int").alias("bucket"))
    w = Window.orderBy(F.col("score").desc(), F.col(id_col).asc())
    return scored.select(
        id_col, "score", F.ntile(n_buckets).over(w).alias("bucket")
    )


def funnel(
    df: DataFrame,
    *,
    min_quality: float = 0.8,
    langs: tuple[str, ...] | None = ("en",),
    k: int = 8,
    bands: int = 4,
    jaccard_threshold: float = 0.7,
    hash_fn: str = "md5",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-stage retention accounting — the pipeline's lineage view:
    (stage_idx, stage, n_docs, n_tokens) for raw → lang_quality →
    exact_dedup → near_dup. Token counts use the same BPE-ish counter
    the curated output reports, so 'tokens surviving to training' reads
    straight off the last row.

    ONE action: each doc gets a max-stage-reached tag and a single
    conditional aggregation produces all four stage rows (stage s counts
    docs with max_stage >= s). The tag chain is filter flag → window
    keep flag → near-dup drop flag. Two scale choices make the tag pass
    cheap: the window shuffle carries a NARROW projection (canon hash,
    id, flags, token count — never the text), and the drop set is the
    small distinct-id side of the LSH pairs, broadcast into the tag
    join, so the MinHash subtree executes inside this same action. The
    corpus text is read twice (annotation pass + MinHash over exact
    survivors) with nothing persisted — at 100 TB the rescan is cheaper
    than caching an annotated copy of the corpus."""
    ann = annotate(df, id_col, text_col)
    cond = F.col("quality") >= F.lit(min_quality)
    if langs is not None:
        cond = cond & F.col("lang_det").isin(*langs)
    canon = TXT.normalized_fingerprint(F.col(text_col))
    flagged = ann.select(
        id_col,
        text_col,
        "n_tokens",
        canon.alias("_canon"),
        F.coalesce(cond, F.lit(False)).alias("_pass"),
    )
    # Lowest-id FILTERED doc per canon group wins: ordering passers
    # first makes "passer with rank 1" exactly the staged-form winner.
    w = Window.partitionBy("_canon").orderBy(
        F.col("_pass").desc(), F.col(id_col).asc()
    )
    ranked = flagged.withColumn(
        "_exact", F.col("_pass") & (F.row_number().over(w) == 1)
    )

    pairs = DD.minhash_lsh_pairs(
        ranked.filter(F.col("_exact")).select(id_col, text_col),
        k=k,
        bands=bands,
        jaccard_threshold=jaccard_threshold,
        id_col=id_col,
        text_col=text_col,
        hash_fn=hash_fn,
    )
    drops = (
        pairs.select(F.col("id_b").alias(id_col))
        .distinct()
        .withColumn("_dropped", F.lit(True))
    )
    stage = (
        F.when(~F.col("_pass"), F.lit(0))
        .when(~F.col("_exact"), F.lit(1))
        .when(F.col("_dropped"), F.lit(2))
        .otherwise(F.lit(3))
    )
    tagged = (
        ranked.drop(text_col)
        .join(F.broadcast(drops), id_col, "left")
        .select(stage.alias("_stage"), "n_tokens")
    )
    agg = tagged.agg(
        *[F.sum(F.when(F.col("_stage") >= s, F.lit(1))).alias(f"d{s}") for s in range(4)],
        *[
            F.sum(F.when(F.col("_stage") >= s, F.col("n_tokens"))).alias(f"t{s}")
            for s in range(4)
        ],
    )
    return _stage_rows(agg, ["raw", "lang_quality", "exact_dedup", "near_dup"])
