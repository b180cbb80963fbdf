"""Curation pipeline (operators/curation.py): planted-document tests —
each stage must drop exactly the planted offender and nothing else."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from datax_spark.operators import curation as CUR

# A high-quality English base document: >100 chars, stopword-rich,
# mean word length in band, low punctuation.
GOOD = (
    "the quick brown fox jumps over the lazy dog and then the fox "
    "runs to the river for a drink of water because it is warm today "
    "and the sun is high in the sky over the green field"
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, source string, text string")


@pytest.fixture(scope="module")
def planted(spark):
    # 0..3: distinct good docs; 4: exact dup of 0 (whitespace variant);
    # 5: near-dup of 0 (two words changed); 6: German; 7: low-quality.
    variants = [
        GOOD,
        "it is a truth universally acknowledged that a single man in "
        "possession of a good fortune must be in want of a wife and "
        "the whole town knows this to be the case every single year",
        "call me ishmael some years ago never mind how long precisely "
        "having little or no money in my purse i thought i would sail "
        "about a little and see the watery part of the world for fun",
        "in the beginning the engineers built a small tool to move "
        "rows between databases and the tool grew until it could sync "
        "almost anything to anything else at a very large scale daily",
        "  " + GOOD.replace("  ", " ") + "  ",
        GOOD.replace("fox", "cat").replace("warm", "cold"),
        "der hund und die katze sind im haus und das ist gut so denn "
        "die sonne ist warm und der tag ist lang und das wetter ist "
        "gut und die kinder spielen im garten bei dem haus",
        "zzz qqq xxx! @@@ ###",
    ]
    return _docs(
        spark,
        [(i, f"s{i % 2}", t) for i, t in enumerate(variants)],
    )


def test_funnel_counts(planted):
    rows = {r["stage"]: r for r in CUR.funnel(planted).collect()}
    assert rows["raw"]["n_docs"] == 8
    # lang/quality: drops the German doc (6) and the junk doc (7)
    assert rows["lang_quality"]["n_docs"] == 6
    # exact dedup: canonicalization collapses 4 onto 0
    assert rows["exact_dedup"]["n_docs"] == 5
    # near-dup: 5 is a two-word edit of 0 -> dropped (larger id)
    assert rows["near_dup"]["n_docs"] == 4
    # token accounting is monotone down the funnel
    toks = [rows[s]["n_tokens"] for s in ("raw", "lang_quality", "exact_dedup", "near_dup")]
    assert toks == sorted(toks, reverse=True)
    assert rows["near_dup"]["n_tokens"] > 0
    # stages that retain no docs report 0, never NULL
    dropped = {
        r["stage"]: (r["n_docs"], r["n_tokens"])
        for r in CUR.funnel(planted.filter(F.col("doc_id") >= 6)).collect()
    }
    assert dropped["lang_quality"] == dropped["near_dup"] == (0, 0)


def test_curate_keeps_expected_ids(planted):
    kept = CUR.curate(planted)
    assert sorted(r["doc_id"] for r in kept.collect()) == [0, 1, 2, 3]
    row = kept.filter(F.col("doc_id") == 0).first()
    assert row["lang_det"] == "en"
    assert row["quality"] >= 0.8
    assert row["n_tokens"] > 30
    assert row["source"] == "s0"


def test_curate_annotations_survive_column_pruning(planted):
    # the pipeline must not require any column beyond (id, text, keeps)
    out = CUR.curate(planted.select("doc_id", "source", "text"))
    assert set(out.columns) == {"doc_id", "source", "lang_det", "quality", "n_tokens"}


def test_language_allowlist_none_keeps_all_langs(planted):
    kept = CUR.curate(planted, langs=None)
    ids = sorted(r["doc_id"] for r in kept.collect())
    assert 6 in ids  # German doc passes with no language gate


def test_full_prep_drops_each_offender_class(spark):
    """One planted offender per stage, one clean survivor — the complete
    prep flow (gopher → lang/quality → exact → near-dup → decontaminate
    → redact) drops each for its own reason."""
    from datax_spark.operators.curation import full_prep

    clean = ("the black cat sat on the warm mat and it is truly a fine day "
             "in the sun today with the wind calm and the light golden over the hills")
    near = clean.replace("golden", "silver")
    corpus = spark.createDataFrame(
        [
            (0, "web", clean),
            (1, "web", "- a\n- b\n- c"),                      # gopher: bullets/short
            (2, "web", "der hund und die katze und das haus und der baum und die "
                       "sonne und der wind und das licht und der tag und die nacht"),  # de
            (3, "web", clean),                                 # exact dup of 0
            (4, "web", near),                                  # near dup of 0
            (5, "web", "the quick brown fox jumps over the lazy dog and then the "
                       "fox runs down to the river bank to rest in the shade today"),
            (6, "web", "the tall ship sails on the wide sea and the crew works "
                       "hard while the captain watches the far horizon with a "
                       "calm eye and contact me at bob@example.com for the log"),
        ],
        "doc_id long, source string, text string",
    )
    bench = spark.createDataFrame(
        [(100, "quick brown fox jumps")], "doc_id long, text string"
    )
    out = full_prep(corpus, bench, min_quality=0.0)
    rows = {r["doc_id"]: r for r in out.collect()}
    # 1 gopher-failed, 2 non-en, 3 exact-dup, 4 near-dup, 5 contaminated
    assert set(rows) == {0, 6}
    assert "<EMAIL>" in rows[6]["text_redacted"]
    assert "bob@example.com" not in rows[6]["text_redacted"]
    assert rows[0]["lang_det"] == "en" and rows[0]["n_tokens"] > 0


def test_incremental_prep_dedups_across_batches(spark, tmp_path):
    """Batch 2's near-dup of a batch-1 document is dropped by the INDEX
    probe — the already-ingested corpus text is never re-read."""
    from datax_spark.operators.curation import incremental_prep
    from datax_spark.operators.dedup_index import MinHashIndex

    clean = ("the black cat sat on the warm mat and it is truly a fine day "
             "in the sun today with the wind calm and the light golden over the hills")
    other = ("the tall ship sails on the wide sea and the crew works hard "
             "while the captain watches the far horizon with a calm eye today")
    near = clean.replace("golden", "copper")

    idx = MinHashIndex.create(spark, tmp_path / "idx", jaccard_threshold=0.7)
    b1 = spark.createDataFrame(
        [(0, "web", clean), (1, "web", other)], "doc_id long, source string, text string"
    )
    out1 = {r["doc_id"] for r in
            incremental_prep(b1, idx, min_quality=0.0).collect()}
    assert out1 == {0, 1}

    b2 = spark.createDataFrame(
        [
            (10, "web", near),    # cross-batch near-dup of 0 → dropped
            (11, "web", clean),   # cross-batch EXACT dup of 0 → dropped
            (12, "web", "the grey fox runs down the long hill to the cold river "
                        "and it drinks in the shade while the birds call out today"),
        ],
        "doc_id long, source string, text string",
    )
    out2 = {r["doc_id"] for r in
            incremental_prep(b2, idx, min_quality=0.0).collect()}
    assert out2 == {12}
    # the index grew: batch 3 dups of batch-2 survivors are caught too
    b3 = spark.createDataFrame(
        [(20, "web", b2.collect()[2]["text"])], "doc_id long, source string, text string"
    )
    out3 = incremental_prep(b3, idx, min_quality=0.0).collect()
    assert out3 == []


def test_full_prep_funnel_counts(spark):
    """The funnel's per-stage doc counts match the planted-offender
    scenario: each stage drops exactly its offender."""
    from datax_spark.operators.curation import full_prep_funnel

    clean = ("the black cat sat on the warm mat and it is truly a fine day "
             "in the sun today with the wind calm and the light golden over the hills")
    corpus = spark.createDataFrame(
        [
            (0, "web", clean),
            (1, "web", "- a\n- b\n- c"),          # gopher
            (2, "web", clean),                     # exact dup
            (3, "web", clean.replace("golden", "silver")),  # near dup
            (4, "web", "the quick brown fox jumps over the lazy dog and then the "
                       "fox runs down to the river bank to rest in the shade today"),
        ],
        "doc_id long, source string, text string",
    )
    bench = spark.createDataFrame(
        [(100, "quick brown fox jumps")], "doc_id long, text string"
    )
    rows = {r["stage"]: r["n_docs"] for r in
            full_prep_funnel(corpus, bench, min_quality=0.0).collect()}
    assert rows == {
        "raw": 5, "gopher": 4, "lang_quality": 4,
        "exact_dedup": 3, "near_dup": 2, "decontaminated": 1,
    }
