"""Physical-plan audits (SURVEY.md §7.2: no per-row Python, pushdown
reaches the scan, exchanges are reused where partitioning aligns)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from datax_spark.functions.extract import extract_text_udf
from datax_spark.functions.hashing import url_partition


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_filter_and_projection_pushed_to_parquet(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    q = li.filter(F.col("l_quantity") < 24).select("l_partkey", "l_quantity")
    plan = _plan(q)
    assert "PushedFilters: [IsNotNull(l_quantity), LessThan(l_quantity,24.0)" in plan
    # column pruning: the scan reads exactly the two projected columns
    assert "ReadSchema: struct<l_partkey:bigint,l_quantity:double>" in plan


def test_extraction_is_arrow_not_batch_python(spark):
    df = spark.createDataFrame([(b"<html><body>x</body></html>",)], "html binary")
    q = df.select(extract_text_udf(F.col("html")).alias("text"))
    plan = _plan(q)
    assert "ArrowEvalPython" in plan
    assert "BatchEvalPython" not in plan


def test_repartition_on_key_aligns_with_pid(spark):
    """murmur3 alignment: after repartition(P, url) every row's storage
    pid equals its physical partition index — the property that lets the
    table writer produce exactly one file per partition without a range
    sample (icetable.stage_data_files)."""
    P = 8
    df = spark.range(500).select(F.concat(F.lit("u"), F.col("id")).alias("url"))
    parts = (
        df.repartition(P, F.col("url"))
        .withColumn("pid", url_partition("url", P))
        .withColumn("spark_pid", F.spark_partition_id())
    )
    mismatched = parts.filter(F.col("pid") != F.col("spark_pid")).count()
    assert mismatched == 0


def test_window_lww_single_shuffle(spark):
    from datax_spark.operators.lww import lww_resolve

    ev = spark.createDataFrame(
        [("u1", 1, "I"), ("u1", 2, "U"), ("u2", 3, "I")], "url string, lsn long, op string"
    )
    plan = _plan(lww_resolve(ev, key="url", order="lsn", strategy="window"))
    # exactly one exchange: the hash partitioning on the key
    assert plan.count("Exchange (") == 1
    # Spark pushes a partial top-1-per-key limit BEFORE the shuffle —
    # the map-side combine that makes window LWW shuffle ~1 row per
    # (mapper, key) instead of every event
    assert "row_number(), 1, Partial" in plan


def test_merge_shape_write_has_no_post_join_exchange(spark):
    """The epoch write runs on the full-outer join's own partitioning:
    with shuffle partitions pinned to P, the only exchanges in the whole
    merge+write plan are the two join-input hash exchanges on the key —
    the merged (payload-wide) rows never shuffle again."""
    from datax_spark.operators.lww import lww_resolve

    saved = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        target = spark.createDataFrame(
            [("a", 1), ("b", 2)], "url string, val long"
        ).alias("t")
        batch = spark.createDataFrame(
            [("a", 9, 5), ("a", 8, 4), ("c", 7, 6)], "url string, val long, lsn long"
        )
        b = lww_resolve(batch, key="url", order="lsn", strategy="window").alias("b")
        j = target.join(b, F.col("t.url") == F.col("b.url"), "full_outer")
        take = F.col("b.lsn").isNotNull()
        merged = j.select(
            F.when(take, F.col("b.url")).otherwise(F.col("t.url")).alias("url"),
            F.when(take, F.col("b.val")).otherwise(F.col("t.val")).alias("val"),
            url_partition(F.coalesce(F.col("b.url"), F.col("t.url")), 4).alias("_pid"),
        ).sortWithinPartitions("_pid", "url")
        plan = _plan(merged)
        assert plan.count("Exchange (") == 2, plan
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", saved)


def test_apply_epoch_writes_one_file_per_partition_when_misaligned_session(
    spark, tmp_path
):
    """apply_epoch pins shuffle partitions to the table's partition count
    for the write job, so even a session configured with a DIFFERENT
    shuffle parallelism produces exactly one data file per affected
    partition (the aligned, exchange-free layout) and restores the
    session confs afterwards."""
    from pyspark.sql import types as T

    from datax_spark.icetable.table import IceTable
    from datax_spark.operators.merge import apply_epoch

    schema = T.StructType(
        [
            T.StructField("url", T.StringType()),
            T.StructField("warc_ts", T.TimestampType()),
            T.StructField("html", T.BinaryType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
        ]
    )
    before = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "7")  # deliberately != P
    try:
        table = IceTable.create(spark, tmp_path / "t", schema, num_partitions=3)
        rows = [
            (i, "I", f"https://d{i % 5}.example.com/{i}", None,
             f"<p>x{i}</p>".encode(), "en")
            for i in range(1, 61)
        ]
        df = spark.createDataFrame(
            rows,
            "lsn long, op string, url string, warc_ts timestamp, html binary, lang string",
        )
        apply_epoch(table, df, 0)
        per_pid = {}
        for f in table.manifest_entries():
            per_pid[f["partition_id"]] = per_pid.get(f["partition_id"], 0) + 1
        assert per_pid and all(n == 1 for n in per_pid.values()), per_pid
        assert spark.conf.get("spark.sql.shuffle.partitions") == "7"
        assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)


def test_text_signal_projections_are_exchange_free(spark, sf_dir):
    """Gopher signals / quality / lang-id / tokens: one codegen
    projection — no shuffle, no Python, scan prunes to (doc_id, text)."""
    from datax_spark.functions import text as TXT

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sig = TXT.gopher_signals(F.col("text"))
    q = docs.select("doc_id", *[c.alias(n) for n, c in sig.items()],
                    TXT.lang_id(F.col("text")).alias("lang_det"),
                    TXT.quality_score(F.col("text")).alias("quality"))
    plan = _plan(q)
    assert "Exchange" not in plan
    assert "EvalPython" not in plan
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan


def test_embedding_ops_are_exchange_free(spark, sf_dir):
    from datax_spark.functions import embedding as EMB

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    v = F.col("embedding")
    scale = EMB.quantize_scale(v)
    q = emb.select("vec_id", EMB.l2_norm(v).alias("n"),
                   EMB.quantize_int8(v, scale).alias("q"),
                   *EMB.sign_project(v, 64, 4))
    plan = _plan(q)
    assert "Exchange" not in plan and "EvalPython" not in plan
    assert "ReadSchema: struct<vec_id:bigint,embedding:array<float>>" in plan


def test_tokenizer_encode_broadcasts_vocab(spark, sf_dir):
    from datax_spark.functions.tokenize import build_vocab, encode

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    q = encode(docs, build_vocab(docs, 64), vocab_size=64)
    plan = _plan(q)
    assert "BroadcastHashJoin" in plan  # the corpus side never shuffles


def test_ivfpq_probe_never_reads_float_vectors(spark, tmp_path):
    """The IVF-PQ serving promise, plan-asserted: probe_adc's scan of
    the index corpus reads (vec_id, codes) — the embedding column is
    pruned at the parquet footer."""
    from datax_spark.operators.ann_index import IvfIndex

    rows = [(i, [float((i * 7 + j) % 5) for j in range(8)]) for i in range(24)]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    idx = IvfIndex.build(corpus, tmp_path / "ivfpq", n_cells=2, n_iter=1,
                         pq_m=2, pq_codes=2, pq_dim=8)
    plan = _plan(idx.probe_adc(corpus.filter("vec_id = 0"), k=2, n_probe=1))
    # the corpus-side parquet scan (the one reading codes) never lists
    # the embedding column in its read schema
    scans = [ln for ln in plan.splitlines()
             if "ReadSchema" in ln and "codes" in ln]
    assert scans and all("embedding" not in ln for ln in scans)


def test_repeated_ctes_materialize_in_either_case():
    """The oracle guard against DuckDB's exponential inlining of repeated
    CTE references finds definitions written in lower case too."""
    from __spark_entry__ import _materialize_repeated_ctes

    for as_kw in ("AS", "as"):
        sql = f"WITH a {as_kw} (SELECT 1 AS v) SELECT * FROM a JOIN a b ON TRUE"
        assert "WITH a AS MATERIALIZED (SELECT 1 AS v)" in _materialize_repeated_ctes(sql)


def test_mor_read_side_tables_are_jvm_local_broadcasts(spark, tmp_path):
    """Driver-built relations on the read path (the merge-on-read
    added/delete-epoch side tables, lookup keys, the empty frame) plan
    as JVM LocalRelations, not PythonRDD scans: a stage reading a
    LogicalRDD waits for a Python worker before its first row. The side
    tables stay broadcast hash joins — a BroadcastExchange directly over
    a LocalTableScan. Plans only, except one run read whose final plan
    must broadcast its one side table once and reuse the exchange."""
    import datetime as dt

    from pyspark.sql import types as T

    from datax_spark.icetable.table import IceTable
    from datax_spark.operators.merge import apply_epoch

    schema = T.StructType(
        [
            T.StructField("url", T.StringType()),
            T.StructField("warc_ts", T.TimestampType()),
            T.StructField("html", T.BinaryType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
        ]
    )
    ev = "lsn long, op string, url string, warc_ts timestamp, html binary, lang string"
    ts = dt.datetime(2026, 1, 1)
    urls = [f"https://d{i % 5}.example.com/{i}" for i in range(120)]
    table = IceTable.create(spark, tmp_path / "t", schema, num_partitions=2)
    apply_epoch(
        table,
        spark.createDataFrame(
            [(i + 1, "I", u, ts, f"<p>{i}</p>".encode(), "en") for i, u in enumerate(urls)],
            ev,
        ),
        0,
    )
    apply_epoch(
        table,
        spark.createDataFrame([(1000 + i, "D", urls[i], ts, None, "en") for i in range(4)], ev),
        1,
    )
    assert table.delete_entries(), "fixture must carry merge-on-read delete debt"

    def local_broadcasts(plan: str) -> int:
        lines = plan.splitlines()
        return sum(
            "BroadcastExchange" in a and "LocalTableScan" in b
            for a, b in zip(lines, lines[1:])
        )

    frames = {
        "lookup": (table.lookup([urls[10], urls[11]]), 3),  # _ae, _de, keys
        "scan": (table.scan([("lang", "=", "en")]), 2),
        "read_partitions": (table.read_partitions({0, 1})[0], 2),
        "read_files_empty": (table._read_files([], None, False), 0),
    }
    for name, (df, n_local) in frames.items():
        logical = df._jdf.queryExecution().optimizedPlan().toString()
        assert "LogicalRDD" not in logical, f"{name}:\n{logical}"
        assert "LocalRelation" in logical, f"{name}:\n{logical}"
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert local_broadcasts(plan) == n_local, f"{name}:\n{plan}"

    # the data and delete joins share ONE path → epoch side table: run,
    # it is broadcast once (one job) and the other join reuses it
    df = table.read_partitions({0, 1})[0]
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert local_broadcasts(final) == 1, plan
    assert "ReusedExchange" in final, plan
