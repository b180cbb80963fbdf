"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Every query here maps to an operator row in SURVEY.md §2 (the
operator-inventory checklist); the implementation lives in
``datax_spark/`` and is exercised through its public API, so this file
is a thin harness, not a second implementation. The stateful CDC ingest
loop is oracled by folding the SAME deterministic event shards in DuckDB
SQL (per-url max-lsn, quarantine rules, deletes drop); only the
byte-identity of the extracted ``text`` column is non-SQL-expressible
and is gated by the pytest golden-byte + replay-equivalence suites
instead (tests/test_extract.py, tests/test_replay.py).

Column-name discipline: every computed column is aliased identically in
the Spark query and the oracle SQL; int-sized columns that differ
between engines (Spark int32 vs DuckDB int64) are cast to bigint on the
Spark side so schemas agree.
"""

from __future__ import annotations

import sys
import tempfile
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

sys.path.insert(0, str(Path(__file__).resolve().parent))

from datax_spark.functions import text as TXT  # noqa: E402
from datax_spark.operators import dedup as DD  # noqa: E402
from datax_spark.operators.lww import lww_resolve  # noqa: E402
from datax_spark.operators import similarity as SIM  # noqa: E402
from datax_spark.functions.multimodal import (  # noqa: E402
    audio_features,
    decode_meta,
    multimodal_meta,
)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    _utc(spark)  # every query path goes through here
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _utc(spark: SparkSession) -> None:
    # pin the session timezone so timestamp collection matches DuckDB;
    # right-size shuffle parallelism for sf<=0.1 inputs (runtime-settable;
    # result values are partitioning-independent — all orderings used for
    # ranks are total)
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "16")
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    except Exception:
        pass  # never let tuning break the correctness harness


# --------------------------------------------------------------------------
# entry — flagship: the CDC ingest loop end to end (SURVEY.md §3.2 E2)
# --------------------------------------------------------------------------

# Deterministic CDC fixture shared by the Spark query AND the DuckDB
# oracle: both sides read the SAME event shards, so the oracle can fold
# the log in pure SQL. The directory name embeds a hash of the spec, so
# editing _CDC_SPEC can never silently reuse a stale log, and the
# oracle-SQL constant (built from this path at import time) always names
# the matching fixture. Publication is build-aside + atomic rename:
# concurrent processes either see the complete directory or build their
# own copy and lose the rename race — nobody ever deletes a directory
# another process may be scanning.
_CDC_SPEC = dict(
    n_events=1200, n_urls=250, n_domains=20, n_epochs=3,
    evolve_at_epoch=2, dirty_per_epoch=5, seed=42,
)
_CDC_EVENTS_DIR = (
    Path(tempfile.gettempdir())
    / ("datax_cdc_contract_" + "-".join(f"{k}{v}" for k, v in sorted(_CDC_SPEC.items())))
    / "events"
)


def _ensure_cdc_fixture() -> Path:
    import os
    import shutil
    import uuid

    from datax_spark.datagen.generator import EventLogSpec, generate_event_log

    if _CDC_EVENTS_DIR.exists():
        return _CDC_EVENTS_DIR
    build = _CDC_EVENTS_DIR.parent / f".build-{uuid.uuid4().hex}"
    generate_event_log(build, EventLogSpec(**_CDC_SPEC))
    try:
        os.rename(build, _CDC_EVENTS_DIR)
    except OSError:
        shutil.rmtree(build, ignore_errors=True)  # lost the race: reuse theirs
        if not _CDC_EVENTS_DIR.exists():
            raise
    return _CDC_EVENTS_DIR


def _run_cdc(spark: SparkSession, events_dir: Path) -> DataFrame:
    """Ingest a generated event log end to end (tail source →
    Window-over-LSN LWW → Arrow-UDF extraction → exactly-once MERGE with
    mid-stream schema evolution) and return the final table state."""
    from datax_spark.icetable.table import IceTable
    from datax_spark.streaming.driver import EpochDriver
    from datax_spark.streaming.source import ChangeTailSource

    from pyspark.sql import types as T

    page_schema = T.StructType(
        [
            T.StructField("url", T.StringType()),
            T.StructField("warc_ts", T.TimestampType()),
            T.StructField("html", T.BinaryType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
        ]
    )
    work = Path(tempfile.mkdtemp(prefix="datax_entry_"))
    table = IceTable.create(spark, work / "table", page_schema, num_partitions=8)
    source = ChangeTailSource(spark, events_dir)
    driver = EpochDriver(spark, source, table, work / "ckpt")
    driver.run()
    return table.read()


def entry(spark: SparkSession) -> DataFrame:
    """Run the full CDC engine on a small deterministic event log and
    return the final table state (the flagship end-to-end query)."""
    _utc(spark)
    final = _run_cdc(spark, _ensure_cdc_fixture())
    return final.select(*sorted(final.columns))


# --------------------------------------------------------------------------
# queries — one per operator row in SURVEY.md §2
# --------------------------------------------------------------------------

def q_lww_latest_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1 — Window-over-LSN last-writer-wins (operators/lww.py).

    `events` stands in for the change tail: event_id is the LSN,
    user_id the key; one row per key, the max-LSN event. Uses the
    map-side-combining max_by strategy (shuffles one row per key,
    not one per event — the 10^10-event plan)."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "event_type", "value"
    )
    return lww_resolve(ev, key="user_id", order="event_id", strategy="max_by")


def q_lww_window_form(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1 (literal rule form) — row_number() OVER (PARTITION BY key
    ORDER BY lsn DESC) = 1; same result as max_by by construction."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "event_type", "value"
    )
    return lww_resolve(ev, key="user_id", order="event_id", strategy="window")


def q_lineage_partition_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 — per-partition lineage metrics shape (merge.py lineage rows):
    partial+final hash aggregate, map-side combined by Catalyst."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy((F.col("user_id") % 8).alias("partition_id"))
        .agg(
            F.count(F.lit(1)).alias("rows_in"),
            F.min("event_id").alias("start_offset"),
            F.max("event_id").alias("lsn_watermark"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )


def q_merge_upsert_fullouter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 — the MERGE join shape (operators/merge.py): resolved batch
    (latest order per customer) full-outer target (customer); action
    column = I (batch-only) / U (matched) / K (target-only kept)."""
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    orders = _t(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_totalprice"
    )
    latest = lww_resolve(orders, key="o_custkey", order="o_orderkey")
    j = cust.join(latest, cust.c_custkey == latest.o_custkey, "full_outer")
    return j.select(
        F.coalesce(F.col("c_custkey"), F.col("o_custkey")).alias("cust_key"),
        F.when(F.col("c_custkey").isNull(), "I")
        .when(F.col("o_custkey").isNull(), "K")
        .otherwise("U")
        .alias("action"),
        F.col("o_totalprice").alias("last_price"),
        F.col("c_acctbal").alias("acctbal"),
    )


def q_delete_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 — delete apply shape: left anti join (customers that would
    drop out if orders were a delete set)."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").select("o_custkey")
    return cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_name", "c_acctbal")


def q_affected_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 — affected-file pruning shape: left semi join (parts touched
    by a high-quantity lineitem batch — the manifest-pruning pattern in
    icetable.read_partitions)."""
    part = _t(spark, sf_dir, "part")
    touched = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") >= 49)
        .select("l_partkey")
    )
    return part.join(
        touched, part.p_partkey == touched.l_partkey, "left_semi"
    ).select("p_partkey", "p_name", "p_retailprice")


def q_hash_bucket_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T8/A3 — key-hash bucketing + hot-bucket detection (functions/
    hashing.py concept, md5-based here for oracle portability)."""
    docs = _t(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("bigint") % 32
    ).alias("bucket")
    return docs.groupBy(bucket).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
    )


def q_filter_project_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1/P2 — projection + predicate pushed to the parquet scan
    (TPC-H Q6 shape; .explain shows PushedFilters + 4-column ReadSchema)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-family headline — TPC-H Q1 pricing summary over lineitem."""
    li = _t(spark, sf_dir, "lineitem")
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc * (1 + F.col("l_tax"))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc), 2).alias("sum_disc_price"),
            F.round(F.sum(charge), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 2).alias("avg_qty"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def q_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W-family — rank-k per group window (top-2 orders per customer)."""
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        orders.withColumn("rn", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rn") <= 2)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
    )


def q_schema_evolution_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST4 — additive schema evolution primitive: unionByName with
    allowMissingColumns (old batches lack the evolved column)."""
    orders = _t(spark, sf_dir, "orders")
    old = orders.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_totalprice"
    )
    new = orders.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    both = old.unionByName(new, allowMissingColumns=True)
    return both.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
    )


def q_rollup_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-family — hierarchical ROLLUP totals (Catalyst expands to one
    Expand + hash aggregate; no extra shuffles per grouping set)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
        )
    )


def q_distinct_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-family — distinct aggregate: suppliers/parts per return flag."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct("l_partkey").alias("n_part"),
        F.count(F.lit(1)).alias("n_rows"),
    )


def q_correlated_avg_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated-subquery shape — customers above their nation's average
    balance; decorrelated to a window average (one shuffle on the
    correlation key instead of a per-row subquery)."""
    cust = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey")
    return (
        cust.withColumn("nation_avg", F.avg("c_acctbal").over(w))
        .filter(F.col("c_acctbal") > F.col("nation_avg"))
        .select(
            "c_custkey", "c_nationkey", "c_acctbal",
            F.round(F.col("nation_avg"), 2).alias("nation_avg_bal"),
        )
        .drop("nation_avg")
    )


def q_ordered_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered set-to-string aggregation (deterministic: sorted before
    concat — collect_list alone is partition-order-dependent)."""
    nat = _t(spark, sf_dir, "nation")
    return nat.groupBy("n_regionkey").agg(
        F.concat_ws(",", F.array_sort(F.collect_list("n_name"))).alias("nations"),
        F.count(F.lit(1)).alias("n_nations"),
    )


def q_sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming-analytics shape — gap-based sessionization (30-min
    inactivity): lag + cumulative sum of session starts per user, then
    per-session rollup. Two window passes over one shuffle on user_id."""
    ev = _t(spark, sf_dir, "events")
    by_user = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # ts is TIMESTAMP_NTZ; go through timestamp (session tz pinned UTC)
    # since ANSI mode refuses a direct ntz->long cast
    sec = F.col("ts").cast("timestamp").cast("long")
    gap = sec - F.lag(sec).over(by_user)
    new_sess = F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    sess = ev.withColumn(
        "session_idx",
        F.sum(new_sess).over(
            by_user.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return sess.groupBy("user_id", "session_idx").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("event_id").alias("first_event"),
        F.max("event_id").alias("last_event"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


def q_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W-family — running total per user over the event stream."""
    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "user_id", "event_id",
        F.round(F.sum("value").over(w), 2).alias("running_value"),
    )


# ---------------------------- dedup family ---------------------------- #

def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup — one map-side-combined hash aggregate."""
    return DD.exact_dedup(_t(spark, sf_dir, "documents"))


def q_dedup_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup after text canonicalization."""
    return DD.normalized_dedup(_t(spark, sf_dir, "documents"))


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH banding near-dup pairs thresholded on the
    signature-estimated Jaccard; candidate join is keyed on
    (band, bucket), never all-pairs."""
    return DD.minhash_lsh_pairs(
        _t(spark, sf_dir, "documents"), k=8, bands=4, jaccard_threshold=0.7
    )


def q_dedup_minhash_lsh_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production-default MinHash LSH: xxhash64 signatures (one JVM op
    per (token, seed) vs 8 md5 string hashes in the md5 contract form).
    No SQL oracle — DuckDB has no xxhash64, so the driver records the
    rows-only check; the md5 twin above stays the value-checked
    contract."""
    return DD.minhash_lsh_pairs(
        _t(spark, sf_dir, "documents"),
        k=8,
        bands=4,
        jaccard_threshold=0.7,
        hash_fn="xxhash64",
    )


def q_simhash_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash Hamming-distance pairs via the pigeonhole block join
    (≤3 differing bits must leave one of the 4 blocks intact) —
    subsumes the identical-hash classes at distance 0."""
    return DD.simhash_hamming_pairs(
        _t(spark, sf_dir, "documents"), max_hamming=3
    )


def q_near_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive near-dup clusters: connected components over the
    MinHash pair graph via the hybrid convergence-checked CC
    (checksum-fixpoint min-label rounds, star-contraction fallback on
    the label quotient — no round bound, the TRUE fixpoint on any
    component shape; the keep-one-per-cluster upgrade over pairwise
    drops). The oracle is the recursive-CTE reachability closure."""
    pairs = DD.minhash_lsh_pairs(
        _t(spark, sf_dir, "documents"), k=8, bands=4, jaccard_threshold=0.7
    )
    return DD.connected_components(pairs)


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash near-dup classes."""
    return DD.simhash_dedup(_t(spark, sf_dir, "documents"))


def q_dedup_simhash64(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production 64-bit SimHash classes (xxhash64 token bits — one JVM
    op/token). Rows-only driver check (DuckDB has no xxhash64); the md5
    simhash16 twin above is the value-checked contract, and the 64-bit
    path's determinism/locality are pytest-gated (test_dedup)."""
    return DD.simhash64_dedup(_t(spark, sf_dir, "documents"))


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-3-gram Jaccard near-dup pairs; shared-shingle candidate
    generation with a shingle-frequency cap keeps the join sparse."""
    return DD.ngram_jaccard_pairs(
        _t(spark, sf_dir, "documents"), n=3, jaccard_threshold=0.5,
        max_shingle_freq=50,
    )


def _embeddings_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The embeddings table plus ONE planted exact duplicate of vec 0
    (vec_id = -1, same vector and label). The fixture's max pairwise
    cosine is below the 0.9 production threshold, so without the plant
    these contract rows matched 0 == 0 — a vacuous check that cannot
    catch a broken candidate generator. The oracle plants the same row."""
    emb = _t(spark, sf_dir, "embeddings")
    planted = emb.filter(F.col("vec_id") == 0).select(
        F.lit(-1).cast("long").alias("vec_id"), "embedding", "label"
    )
    return emb.unionByName(planted)


def q_dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs, blocked per label (at scale the
    block key is an LSH bucket / IVF cell). Input carries one planted
    exact duplicate so the contract row is non-vacuous."""
    return DD.embedding_near_dup_pairs(
        _embeddings_planted(spark, sf_dir), threshold=0.9
    )


def q_dedup_embedding_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs blocked by the TRAINED k-means
    cell — the real scale block key; oracle unrolls the same training
    (over the same planted corpus, so the row count is nonzero)."""
    return DD.embedding_near_dup_pairs_kmeans(
        _embeddings_planted(spark, sf_dir), threshold=0.9, n_cells=8, n_iter=2
    )


def q_dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs blocked by random-hyperplane LSH
    banding (train-free Charikar SimHash for vectors): candidates only
    from (band, bucket) equi-joins, exact-cosine verified. Plane scores
    are integer-quantized so the oracle recomputes identical buckets.
    Threshold 0.4 (production default is 0.9): the fixture's max
    pairwise cosine is 0.513, and a 0-row result would not prove the
    engines agree on the buckets — at 0.4 the output is exactly the
    0.4+ pairs that collide in ≥1 band, a joint test of candidate
    generation AND verify."""
    return DD.embedding_lsh_pairs(
        _t(spark, sf_dir, "embeddings"), threshold=0.4, n_planes=16, n_bands=4
    )


def q_dedup_embedding_lsh_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star-capped embedding LSH: (band, bucket) groups larger than
    max_bucket compare members only to the bucket's min-id representative
    (O(n) per bucket) — the bounded-work form for tight-cluster corpora,
    where MORE planes cannot split the bucket (near-identical vectors sit
    on the same side of every hyperplane). At 4 planes/band the 500-vector
    fixture heavily co-buckets, so the cap genuinely fires here; the
    oracle mirrors the window count/min and the star rule exactly."""
    return DD.embedding_lsh_pairs(
        _t(spark, sf_dir, "embeddings"),
        threshold=0.4,
        n_planes=16,
        n_bands=4,
        max_bucket=16,
    )


def q_dedup_embedding_lsh_prod(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production-shape embedding LSH: 8 planes/band (256 buckets per
    band) — the sparsity that holds at corpus scale. The 16/4 contract
    twin above trades sparsity for recall on the 500-vector fixture;
    this row keeps the SAME oracle builder at the scale-shaped params
    (bench runs this variant at sf0.1: the 4-planes/band form measured
    ~22s there purely from bucket-collision candidates)."""
    return DD.embedding_lsh_pairs(
        _t(spark, sf_dir, "embeddings"), threshold=0.4, n_planes=32, n_bands=4
    )


# ------------------------- similarity search -------------------------- #

def q_ann_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k: broadcast the (small) query set against
    the full corpus — the exact baseline every ANN variant is judged
    against."""
    emb = _t(spark, sf_dir, "embeddings")
    return SIM.bruteforce_topk(emb, emb.filter(F.col("vec_id") < 8), k=5)


def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (inverted-file) ANN: coarse centroids per label cell; each
    query probes only its nearest cell — the 100 TB scale path (search
    cost ∝ corpus/cells, not corpus)."""
    emb = _t(spark, sf_dir, "embeddings")
    return SIM.ivf_topk(emb, emb.filter(F.col("vec_id") < 8), k=3)


def q_ann_ivf_trained_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF with a TRAINED spherical k-means quantizer (2 DataFrame
    iterations, deterministic init + tie-breaks) instead of the
    pre-assigned label — a true ANN index; the oracle unrolls the same
    two k-means steps in SQL."""
    emb = _t(spark, sf_dir, "embeddings")
    out = SIM.ivf_trained_topk(
        emb, emb.filter(F.col("vec_id") < 8), k=3, n_cells=8, n_iter=2
    )
    return out.withColumn("probe_cell", F.col("probe_cell").cast("bigint"))


def q_ann_ivf_index_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERSISTED IVF index (operators/ann_index.py): build-once artifact
    (trained quantizer + cell-partitioned corpus + centroid table on
    disk), probe reads only the probed cells' partitions. Same params
    and queries as ann_ivf_trained_topk, and the SAME oracle — the
    persistence round trip must not change a single result row."""
    import hashlib

    from datax_spark.operators.ann_index import IvfIndex

    emb = _t(spark, sf_dir, "embeddings")
    # key over the fixture file's identity too: a regenerated
    # embeddings.parquet must not serve a stale cached index
    st = Path(f"{sf_dir}/embeddings.parquet").stat()
    key = hashlib.md5(
        f"{sf_dir}|8|2|{st.st_mtime_ns}|{st.st_size}".encode()
    ).hexdigest()[:12]
    root = Path(tempfile.gettempdir()) / f"datax_ivf_index_{key}"
    try:
        idx = IvfIndex(spark, root)
    except (FileNotFoundError, ValueError):
        idx = IvfIndex.build(emb, root, n_cells=8, n_iter=2)
    out = idx.probe(emb.filter(F.col("vec_id") < 8), k=3, n_probe=1)
    return out.withColumn("probe_cell", F.col("probe_cell").cast("bigint"))


# --------------------------- text analysis ---------------------------- #

_PQ_DIMS = (4, 4, 2, 64, 3)  # m, k_codes, n_iter, dim, k — frozen with the oracle


def q_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization encoding (operators/pq.py): per-subspace L2
    k-means codebooks (deterministic init + tie-breaks), every vector
    stored as m small codes — the oracle unrolls all m subspace
    trainings in one SQL chain."""
    from datax_spark.operators import pq as PQ

    m, kc, it, dim, _ = _PQ_DIMS
    emb = _t(spark, sf_dir, "embeddings")
    cb = PQ.train_pq(emb, m, kc, it, dim)
    codes = PQ.pq_encode(emb, cb, m, dim)
    return codes.select(
        "vec_id", *[F.element_at("codes", s + 1).alias(f"c{s}") for s in range(m)]
    )


def q_ann_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ + ADC top-k: the query's (m × k_codes) partial-distance lookup
    table scores the coded corpus — the float corpus is never read at
    scan time. Partials pivot to columns so the sum has a fixed
    association order (oracle-identical doubles)."""
    from datax_spark.operators import pq as PQ

    m, kc, it, dim, k = _PQ_DIMS
    emb = _t(spark, sf_dir, "embeddings")
    return PQ.pq_topk(
        emb, emb.filter(F.col("vec_id") < 8), k=k, m=m, k_codes=kc, n_iter=it, dim=dim
    )


_VOCAB_DIMS = (256, 16)  # vocab size, oov buckets — frozen with the oracle


def q_tokenize_vocab_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocab tokenizer (functions/tokenize.py): corpus-frequency top-N
    vocab (total rank order), broadcast-join encoding, md5-bucketed OOV
    ids — one row per (doc, position)."""
    from datax_spark.functions.tokenize import build_vocab, encode

    size, oov = _VOCAB_DIMS
    docs = _t(spark, sf_dir, "documents")
    return encode(docs, build_vocab(docs, size), vocab_size=size, oov_buckets=oov)


def q_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization (functions/embedding.py): per-vector
    scale, code stats, and the max dequantize error — one narrow
    codegen projection, no shuffle."""
    from datax_spark.functions import embedding as EMB

    v = F.col("embedding")
    scale = EMB.quantize_scale(v)
    q = EMB.quantize_int8(v, scale)
    err = F.zip_with(
        v, EMB.dequantize_int8(q, scale), lambda x, d: F.abs(x.cast("double") - d)
    )
    return _t(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.round(EMB.l2_norm(v), 4).alias("norm"),
        F.round(scale, 6).alias("scale"),
        F.aggregate(q, F.lit(0).cast("bigint"), lambda a, x: a + x).alias("q_sum"),
        F.array_min(q).alias("q_min"),
        F.array_max(q).alias("q_max"),
        F.round(
            F.aggregate(err, F.lit(0.0), lambda a, x: F.greatest(a, x)), 4
        ).alias("max_err"),
    )


_PROJ_DIMS = (64, 8, 42)  # dim_in, dim_out, seed — frozen with the oracle


def q_embedding_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Achlioptas ±1 random projection 64→8 dims: the sign matrix is a
    frozen Python constant baked into BOTH plans (no join, no UDF)."""
    from datax_spark.functions import embedding as EMB

    di, do, seed = _PROJ_DIMS
    cols = EMB.sign_project(F.col("embedding"), di, do, seed)
    return _t(spark, sf_dir, "embeddings").select(
        "vec_id", *[F.round(c, 4).alias(f"p{j}") for j, c in enumerate(cols)]
    )


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting + quality scoring, all JVM-side codegen
    expressions (functions/text.py)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        TXT.ws_token_count(F.col("text")).cast("bigint").alias("n_ws_tokens"),
        TXT.regex_token_count(F.col("text")).cast("bigint").alias("n_regex_tokens"),
        TXT.punct_count(F.col("text")).cast("bigint").alias("n_punct"),
        TXT.quality_score(F.col("text")).alias("quality"),
    )


def q_lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram-heuristic language ID vs the labeled lang column."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select(TXT.lang_id(F.col("text")).alias("lang_pred"), "lang")
        .groupBy("lang_pred", "lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonicalized document fingerprint (stable under formatting
    edits)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", TXT.normalized_fingerprint(F.col("text")).alias("fp")
    )


def q_token_count_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus token accounting per source — the budget table a training
    pipeline reads first."""
    docs = _t(spark, sf_dir, "documents")
    return docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(TXT.ws_token_count(F.col("text")).cast("bigint")).alias("total_ws_tokens"),
        F.sum(TXT.regex_token_count(F.col("text")).cast("bigint")).alias("total_regex_tokens"),
        F.round(F.avg("n_chars"), 2).alias("avg_chars"),
    )


def _synth_urls(df: DataFrame) -> DataFrame:
    """Deterministic raw URL per document (pure function of doc_id,
    rebuilt identically by the oracle): rotates through the whole
    canonicalization surface — upper-case scheme/host, leading www,
    default and non-default ports, empty paths, tracking params in
    unsorted company, fragments, and a non-URL row."""
    i = F.col("doc_id")
    s = lambda c: c.cast("string")  # noqa: E731
    scheme = F.when(i % 7 == 0, F.lit("http")).otherwise(F.lit("HTTPS"))
    port = (
        F.when((i % 3 == 0) & (i % 7 == 0), F.lit(":80"))
        .when(i % 3 == 0, F.lit(":443"))
        .when(i % 3 == 1, F.lit(":8080"))
        .otherwise(F.lit(""))
    )
    path = F.when(i % 4 == 0, F.lit("")).otherwise(F.concat(F.lit("/p/"), s(i)))
    query = (
        F.when(i % 5 == 0, F.concat(F.lit("?utm_source=feed&b="), s(i), F.lit("&a=1")))
        .when(i % 5 == 1, F.concat(F.lit("?gclid="), s(i)))
        .when(i % 5 == 2, F.lit("?z=2&y=1&utm_campaign=x"))
        .otherwise(F.lit(""))
    )
    frag = F.when(i % 2 == 0, F.concat(F.lit("#s"), s(i))).otherwise(F.lit(""))
    raw = F.concat(
        scheme, F.lit("://WWW.Site"), s(i % 20), F.lit(".COM"),
        port, path, query, frag,
    )
    raw = F.when(i % 97 == 0, F.lit("not_a_url")).otherwise(raw)
    return df.select("doc_id", raw.alias("raw_url"))


def q_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frozen URL canonicalization (functions/url.py spec) + hot-domain
    key over the synthesized per-doc URLs."""
    from datax_spark.functions import url as URL

    d = _synth_urls(_t(spark, sf_dir, "documents"))
    return d.select(
        "doc_id",
        URL.canonical_url(F.col("raw_url")).alias("canon_url"),
        URL.url_domain(F.col("raw_url")).alias("domain"),
    )


def _relined(df: DataFrame) -> DataFrame:
    """The synthetic documents are single-line word streams; line-level
    operators need line structure, so both engines apply the SAME
    mechanical re-lining first: a newline after every 12th word."""
    return df.withColumn(
        "text", F.regexp_replace("text", r"((\S+ ){11}\S+) ", "$1\n")
    )


def q_line_dedup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4/CCNet-style corpus line dedup: repeated lines survive only at
    their first (doc, position) occurrence; documents are reconstructed
    from surviving lines."""
    return DD.line_dedup(_relined(_t(spark, sf_dir, "documents")))


def q_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals: top-2-gram fraction
    (linear run-length scan over the sorted gram array) and in-document
    duplicate-line fraction."""
    docs = _relined(_t(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id",
        TXT.top_ngram_frac(F.col("text"), 2).alias("top_2gram_frac"),
        TXT.dup_line_frac(F.col("text")).alias("dup_line_frac"),
    )


def q_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-rules quality filter (functions/text.py gopher_signals):
    the full published signal set as one codegen projection, plus the
    boolean verdict (as int for oracle hashing)."""
    docs = _relined(_t(spark, sf_dir, "documents"))
    sig = TXT.gopher_signals(F.col("text"))
    return docs.select(
        "doc_id",
        *[c.alias(n) for n, c in sig.items()],
        TXT.gopher_pass(sig).cast("int").alias("pass_flag"),
    )


def q_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (operators/decontaminate.py): flag
    training docs sharing any 3-gram with the synthetic eval slice
    (docs with doc_id % 37 == 0); the eval gram set broadcasts."""
    from datax_spark.operators.decontaminate import ngram_contamination

    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter((F.col("doc_id") % 37) == 0)
    return ngram_contamination(docs, bench, n=3).select(
        "doc_id",
        "n_hit_grams",
        F.col("contaminated").cast("int").alias("contaminated"),
    )


def q_dedup_minhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental MinHash index (operators/dedup_index.py): the corpus
    arrives as two batches probed+appended against a persisted signature
    index; the union of the adds must equal the one-shot
    dedup_minhash_lsh — so the oracle is the SAME SQL."""
    from datax_spark.operators.dedup_index import MinHashIndex

    docs = _t(spark, sf_dir, "documents")
    work = Path(tempfile.mkdtemp(prefix="datax_mhidx_"))
    idx = MinHashIndex.create(spark, work / "idx", k=8, bands=4, jaccard_threshold=0.7)
    first = idx.add(docs.filter("doc_id % 2 = 0"))
    second = idx.add(docs.filter("doc_id % 2 = 1"))
    return first.unionByName(second)


def q_dedup_minhash_sync(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-MAINTAINED near-dup index (operators/dedup_index.py):
    documents bulk-loaded into an IceTable, the MinHash index created
    from that state with a version cursor, then one I/U/D epoch
    (suffix-updated %7==0 docs, %7==3 deleted, %101==5 docs duplicated
    under fresh negative ids) and ``sync`` consumes the changelog —
    returning exactly the NEW near-dup pairs: the one-shot LSH pairs
    over the live modified corpus that involve at least one changed
    doc. Deleted docs' pairs must go silent; an updated doc must not
    pair against its own previous generation."""
    from datax_spark.icetable.table import IceTable
    from datax_spark.operators.dedup_index import MinHashIndex
    from datax_spark.operators.merge import apply_epoch

    docs = _t(spark, sf_dir, "documents").select(
        F.concat(F.lit("https://doc/"), F.col("doc_id")).alias("url"),
        "doc_id",
        "text",
    )

    def _build(path):
        tbl = IceTable.create(
            spark, path / "t", docs.schema, num_partitions=8, key_column="url"
        )
        tbl.bulk_overwrite(docs, epoch=0)
        idx, _ = MinHashIndex.create_from_table(
            spark, tbl, path / "idx", k=8, bands=4, jaccard_threshold=0.7
        )
        lsn = F.lit(10_000_000) + F.col("doc_id")
        upd = docs.filter(F.col("doc_id") % 7 == 0).select(
            "url", "doc_id",
            F.concat("text", F.lit(" refreshed retrieval section")).alias("text"),
            F.lit("U").alias("op"), lsn.alias("lsn"),
        )
        dels = docs.filter(F.col("doc_id") % 7 == 3).select(
            "url", "doc_id", F.lit(None).cast("string").alias("text"),
            F.lit("D").alias("op"), lsn.alias("lsn"),
        )
        ins = docs.filter(F.col("doc_id") % 101 == 5).select(
            F.concat(F.lit("https://doc/"), (-F.col("doc_id") - 1)).alias("url"),
            (-F.col("doc_id") - 1).alias("doc_id"),
            "text",
            F.lit("I").alias("op"),
            (F.lit(20_000_000) + F.col("doc_id")).alias("lsn"),
        )
        apply_epoch(tbl, upd.unionByName(dels).unionByName(ins), epoch=1,
                    extract=False)
        idx.sync(tbl).write.parquet(str(path / "pairs"))

    root = _ensure_diff_table(spark, sf_dir, "mhsync", _build)
    return spark.read.parquet(str(root / "pairs")).select(
        F.col("id_a").cast("long"), F.col("id_b").cast("long"), "est_jaccard"
    )


def q_join_view_sync(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally maintained JOIN view
    (operators/incremental_view.sync_join_view): two CDC tables sharing
    the url key — A carries the doc text (suffix-updated %7==0, %7==3
    deleted), B the even-doc metadata (%5==1 deleted, lang rewritten to
    'xx' for %11==0) — churned through the real merge path, then the
    materialized inner join advances from BOTH changelogs: affected
    keys only, pruned post-image reads, one apply_epoch merge. The
    oracle re-joins the two modified relations from scratch."""
    from datax_spark.icetable.table import IceTable
    from datax_spark.operators.incremental_view import (
        create_join_view,
        sync_join_view,
    )
    from datax_spark.operators.merge import apply_epoch

    docs = _t(spark, sf_dir, "documents")
    url = F.concat(F.lit("https://doc/"), F.col("doc_id")).alias("url")
    a_rows = docs.select(url, "doc_id", "text")
    b_rows = docs.filter(F.col("doc_id") % 2 == 0).select(url, "lang", "source")

    def _build(path):
        a = IceTable.create(
            spark, path / "a", a_rows.schema, num_partitions=8,
            key_column="url",
        )
        a.bulk_overwrite(a_rows, epoch=0)
        b = IceTable.create(
            spark, path / "b", b_rows.schema, num_partitions=4,
            key_column="url",
        )
        b.bulk_overwrite(b_rows, epoch=0)
        v = create_join_view(spark, path / "v", a, b, num_partitions=8)
        sync_join_view(v, a, b)  # bootstrap
        lsn = F.lit(10_000_000) + F.col("doc_id")
        apply_epoch(
            a,
            a_rows.filter(F.col("doc_id") % 7 == 0)
            .select(
                "url", "doc_id",
                F.concat("text", F.lit(" refreshed retrieval section")).alias("text"),
                F.lit("U").alias("op"), lsn.alias("lsn"),
            )
            .unionByName(
                a_rows.filter(F.col("doc_id") % 7 == 3).select(
                    "url", "doc_id",
                    F.lit(None).cast("string").alias("text"),
                    F.lit("D").alias("op"), lsn.alias("lsn"),
                )
            ),
            epoch=1,
            extract=False,
        )
        b_src = docs.filter(F.col("doc_id") % 2 == 0)
        b_lsn = (F.lit(20_000_000) + F.col("doc_id")).alias("lsn")
        apply_epoch(
            b,
            b_src.filter(
                (F.col("doc_id") % 11 == 0) & (F.col("doc_id") % 5 != 1)
            )
            .select(
                F.concat(F.lit("https://doc/"), F.col("doc_id")).alias("url"),
                F.lit("xx").alias("lang"), "source",
                F.lit("U").alias("op"), b_lsn,
            )
            .unionByName(
                b_src.filter(F.col("doc_id") % 5 == 1).select(
                    F.concat(F.lit("https://doc/"), F.col("doc_id")).alias("url"),
                    F.lit(None).cast("string").alias("lang"),
                    F.lit(None).cast("string").alias("source"),
                    F.lit("D").alias("op"), b_lsn,
                )
            ),
            epoch=1,
            extract=False,
        )
        sync_join_view(v, a, b)  # incremental

    root = _ensure_diff_table(spark, sf_dir, "jvsync", _build)
    return IceTable.load(spark, root / "v").read().select(
        "url", "doc_id", "text", "lang", "source"
    )


def q_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serving-side point reads (IceTable.lookup): current rows for a
    small key batch through THREE pruning layers — partition-id subset,
    key envelopes, bloom sidecars — before any data file opens; cost
    tracks the looked-up keys' file slices, not the table. One key is
    absent (no row, not an error). Oracle: the same keys filtered from
    the raw corpus."""
    from datax_spark.icetable.table import IceTable

    docs = _t(spark, sf_dir, "documents").select(
        F.concat(F.lit("https://doc/"), F.col("doc_id")).alias("url"),
        "doc_id",
        "text",
    )

    def _build(path):
        tbl = IceTable.create(
            spark, path, docs.schema, num_partitions=8, key_column="url"
        )
        tbl.bulk_overwrite(docs, epoch=0)

    root = _ensure_diff_table(spark, sf_dir, "lookup", _build)
    tbl = IceTable.load(spark, root)
    return tbl.lookup(
        ["https://doc/1", "https://doc/5", "https://doc/9",
         "https://doc/-12345"]
    )


def q_full_prep_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPLETE prep flow in production order (curation.full_prep):
    Gopher gate → annotate → lang/quality → exact dedup → near-dup drop
    → decontamination vs the doc_id % 37 eval slice → PII redaction.
    The oracle chains every stage in one SQL CTE pipeline; the value
    hash covers the redacted text bytes."""
    from datax_spark.operators.curation import full_prep

    docs = _relined(_t(spark, sf_dir, "documents"))
    bench = docs.filter((F.col("doc_id") % 37) == 0)
    return full_prep(docs, bench)


def _full_prep_ctes() -> str:
    """The WITH-chain through gopher gate → curation → decontamination
    (relations: relined, gf, filtered, exact, kept, decon) — shared by
    the full-prep pipeline and funnel oracles."""
    return f"""{_RELINED_CTE},
{_gopher_signals_ctes("relined").strip()},
gf AS (
  SELECT r.doc_id, d.source, r.text
  FROM relined r
  JOIN documents d ON d.doc_id = r.doc_id
  JOIN gsig ON gsig.doc_id = r.doc_id
  WHERE {_GOPHER_PASS_SQL}
),
{_curation_ctes(0.8, ("en",), src="gf").strip()},
{_gram3_ctes("k", "kept").strip()},
{_gram3_ctes("b", "relined", " WHERE doc_id % 37 = 0").strip()},
bgr AS (SELECT DISTINCT gram FROM bgrams),
cont AS (SELECT DISTINCT k.doc_id FROM kgrams k JOIN bgr ON bgr.gram = k.gram),
decon AS (
  SELECT * FROM kept WHERE doc_id NOT IN (SELECT doc_id FROM cont)
)"""


def _full_prep_oracle() -> str:
    from datax_spark.functions.pii import PII_PATTERNS

    pii = []
    for idx, (name, pattern, repl) in enumerate(PII_PATTERNS):
        p = pattern.replace("'", "''")
        src = "decon" if idx == 0 else f"pii{idx - 1}"
        t_in = "text" if idx == 0 else f"t{idx}"
        pii.append(
            f"pii{idx} AS (SELECT *, regexp_replace({t_in}, '{p}', '{repl}', 'g')"
            f" AS t{idx + 1} FROM {src})"
        )
    last = len(PII_PATTERNS)
    pii_chain = ",\n".join(pii)
    return f"""
WITH {_full_prep_ctes().strip()},
{pii_chain}
SELECT doc_id, source, lang_det, quality, n_tokens, t{last} AS text_redacted
FROM pii{last - 1}"""


def _full_prep_funnel_oracle() -> str:
    stages = [("raw", "relined"), ("gopher", "gf"), ("lang_quality", "filtered"),
              ("exact_dedup", "exact"), ("near_dup", "kept"),
              ("decontaminated", "decon")]
    rows = "\nUNION ALL\n".join(
        f"SELECT CAST({i} AS INTEGER) AS stage_idx, '{name}' AS stage,"
        f" count(*) AS n_docs,"
        f" CAST(coalesce(sum({_REGEX_TOK_SQL}), 0) AS BIGINT) AS n_tokens"
        f" FROM {rel}"
        for i, (name, rel) in enumerate(stages)
    )
    return f"""
WITH {_full_prep_ctes().strip()}
{rows}"""


def q_full_prep_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stage-by-stage retention for the full prep flow — the lineage
    view a pipeline operator reads: docs + tokens surviving raw →
    gopher → lang/quality → exact → near-dup → decontamination."""
    from datax_spark.operators.curation import full_prep_funnel

    docs = _relined(_t(spark, sf_dir, "documents"))
    bench = docs.filter((F.col("doc_id") % 37) == 0)
    return full_prep_funnel(docs, bench)


def q_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed training-data prep flow (operators/curation.py):
    lang-id + quality annotate → filter → exact dedup (window over
    canon-hash) → MinHash-LSH near-dup drop → curated corpus rows.
    Oracle mirrors every stage in one SQL chain."""
    from datax_spark.operators import curation as CUR

    return CUR.curate(_t(spark, sf_dir, "documents")).withColumn(
        "n_tokens", F.col("n_tokens").cast("long")
    )


def q_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stage retention accounting for the same pipeline: docs and
    tokens surviving raw → lang_quality → exact_dedup → near_dup."""
    from datax_spark.operators import curation as CUR

    return CUR.funnel(_t(spark, sf_dir, "documents"))


def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking (operators/chunking.py): 24-token
    windows advancing by 18 (6-token overlap); trailing pure-overlap
    windows dropped. No shuffle — one map stage."""
    from datax_spark.operators.chunking import chunk_documents

    return chunk_documents(
        _t(spark, sf_dir, "documents"), chunk_tokens=24, overlap=6
    )


def q_pack_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy sequential packing into 600-token budgets per source
    (one window shuffle keyed on the pack domain)."""
    from datax_spark.operators.chunking import pack_documents

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        TXT.ws_token_count(F.col("text")).cast("long").alias("n_tokens"),
    )
    return pack_documents(docs, context_tokens=600)


def _synth_pii_text(i: F.Column) -> F.Column:
    """Deterministic PII-bearing suffix per doc (pure function of
    doc_id, rebuilt identically by the oracle): an email, an IPv4, an
    international phone, and (every third doc) a US-dashed phone."""
    s = lambda c: c.cast("string")  # noqa: E731
    return F.concat(
        F.col("text"),
        F.lit(" contact user"), s(i), F.lit("@example"), s(i % 7), F.lit(".com via "),
        s(i % 223), F.lit(".0.113."), s((i % 200) + 1),
        F.lit(" or +1415555"), F.lpad(s(i % 10000), 4, "0"),
        F.when(
            i % 3 == 0,
            F.concat(F.lit(" and 415-555-"), F.lpad(s(i % 10000), 4, "0")),
        ).otherwise(F.lit("")),
    )


def q_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub (functions/pii.py): emails / IPv4 / phone shapes →
    placeholder tokens, with per-category pre-redaction counts. The
    oracle runs the IDENTICAL RE2-safe patterns."""
    from datax_spark.functions import pii

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    synth = _synth_pii_text(F.col("doc_id"))
    counts = [
        c.cast("long").alias(f"n_{name}")
        for c, (name, _, _) in zip(pii.pii_counts(synth), pii.PII_PATTERNS)
    ]
    return docs.select(
        "doc_id", pii.redact_pii(synth).alias("redacted"), *counts
    )


def _pii_oracle() -> str:
    from datax_spark.functions.pii import PII_PATTERNS

    synth = (
        "text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example' || "
        "CAST(doc_id % 7 AS VARCHAR) || '.com via ' || "
        "CAST(doc_id % 223 AS VARCHAR) || '.0.113.' || "
        "CAST((doc_id % 200) + 1 AS VARCHAR) || ' or +1415555' || "
        "lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || "
        "CASE WHEN doc_id % 3 = 0 THEN ' and 415-555-' || "
        "lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END"
    )
    ctes = [f"synth AS (SELECT doc_id, {synth} AS t0 FROM documents)"]
    counts = []
    for idx, (name, pattern, repl) in enumerate(PII_PATTERNS):
        p = pattern.replace("'", "''")
        ctes.append(
            f"s{idx} AS (SELECT doc_id, "
            f"CAST(len(regexp_extract_all(t{idx}, '{p}')) AS BIGINT) AS n_{name}, "
            f"regexp_replace(t{idx}, '{p}', '{repl}', 'g') AS t{idx + 1}, "
            f"* EXCLUDE (t{idx}) FROM {'synth' if idx == 0 else f's{idx - 1}'})"
        )
        counts.append(f"n_{name}")
    last = len(PII_PATTERNS)
    return (
        "WITH " + ",\n".join(ctes) + f"\nSELECT doc_id, t{last} AS redacted, "
        + ", ".join(counts) + f" FROM s{last - 1}"
    )


def q_sample_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stable hash-gated corpus sample (operators/sampling.py): md5
    prefix gate, membership independent of partition layout and of the
    other rows."""
    from datax_spark.operators.sampling import deterministic_sample

    return deterministic_sample(
        _t(spark, sf_dir, "documents"), fraction=0.25
    ).select("doc_id", "source", "n_chars")


_STRATA = {"src0": 1.0, "src1": 0.5, "src2": 0.1}  # frozen with the oracle


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source deterministic mix (operators/sampling.py): each group
    passes its own md5 gate; unknown sources drop (explicit recipe)."""
    from datax_spark.operators.sampling import stratified_sample

    return stratified_sample(
        _t(spark, sf_dir, "documents"), _STRATA, by="source"
    ).select("doc_id", "source")


def q_token_budget_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token-budget mix: fill 600 tokens per source in
    (quality desc, doc_id) priority order via one windowed cumsum."""
    from datax_spark.operators.sampling import token_budget_sample

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        TXT.regex_token_count(F.col("text")).cast("long").alias("n_tokens"),
        TXT.quality_score(F.col("text")).alias("quality"),
    )
    return token_budget_sample(docs, budget_tokens=600).select(
        "doc_id", "source", "n_tokens", "quality", "cum_tokens"
    )


_BM25_QUERIES = [
    (0, "spark merge window"),
    (1, "fast hash join"),
    (2, "slow scan filter vector"),
]


def q_bm25_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-k keyword retrieval (operators/retrieval.py): three
    literal queries against the documents corpus; the query-term set
    broadcasts and prunes the corpus term explode map-side, so the
    (doc, term) shuffle carries only query-mentioned terms. Scores
    round to 4dp with doc-id tie-break — deterministic ranking the
    DuckDB oracle reproduces term for term."""
    from datax_spark.operators.retrieval import bm25_topk

    queries = spark.createDataFrame(_BM25_QUERIES, "query_id long, query string")
    return bm25_topk(_t(spark, sf_dir, "documents"), queries, k=5)


def q_bm25_index_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted inverted index (operators/text_index.py), built
    INCREMENTALLY — half the corpus at build, half via add() — and
    probed with the same three queries: the serving path reads only the
    probed terms' bucket partitions, and union-of-adds must equal the
    one-shot scorer, so this row shares bm25_retrieval's oracle."""
    from datax_spark.operators.text_index import Bm25Index

    docs = _t(spark, sf_dir, "documents")

    def _build(path):
        idx = Bm25Index.build(
            docs.where(F.col("doc_id") % 2 == 0), path, n_buckets=64
        )
        idx.add(docs.where(F.col("doc_id") % 2 == 1))

    root = _ensure_diff_table(spark, sf_dir, "bm25idx2", _build)
    queries = spark.createDataFrame(_BM25_QUERIES, "query_id long, query string")
    return Bm25Index(spark, root).probe(queries, k=5)


def q_bm25_index_sync(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-MAINTAINED inverted index (text_index.py v2: segments +
    tombstones): documents bulk-loaded into an IceTable, the index
    built from that state with a version cursor, then one I/U/D epoch
    through the real merge path (updates append a suffix to every
    doc_id%7==0 text, doc_id%7==3 rows are deleted, three fresh docs
    inserted) and ``sync`` consumes the table CHANGELOG — maintenance
    cost scales with the changed docs, not the corpus. The probe must
    equal a one-shot rebuild on the final state, which is exactly what
    the oracle computes (the bm25_retrieval SQL over the same modified
    corpus)."""
    from datax_spark.icetable.table import IceTable
    from datax_spark.operators.merge import apply_epoch
    from datax_spark.operators.text_index import Bm25Index

    docs = _t(spark, sf_dir, "documents").select(
        F.concat(F.lit("https://doc/"), F.col("doc_id")).alias("url"),
        "doc_id",
        "text",
    )

    def _build(path):
        tbl = IceTable.create(
            spark, path / "t", docs.schema, num_partitions=8, key_column="url"
        )
        tbl.bulk_overwrite(docs, epoch=0)
        idx = Bm25Index.build_from_table(
            tbl, path / "idx", n_buckets=64, id_col="doc_id"
        )
        lsn = F.lit(10_000_000) + F.col("doc_id")
        upd = docs.filter(F.col("doc_id") % 7 == 0).select(
            "url", "doc_id",
            F.concat("text", F.lit(" refreshed retrieval section")).alias("text"),
            F.lit("U").alias("op"), lsn.alias("lsn"),
        )
        dels = docs.filter(F.col("doc_id") % 7 == 3).select(
            "url", "doc_id", F.lit(None).cast("string").alias("text"),
            F.lit("D").alias("op"), lsn.alias("lsn"),
        )
        ins = spark.createDataFrame(
            [
                ("https://doc/-1", -1, "spark merge window planning", "I", 20_000_001),
                ("https://doc/-2", -2, "fast hash join probe build", "I", 20_000_002),
                ("https://doc/-3", -3, "slow scan filter vector pipeline", "I", 20_000_003),
            ],
            "url string, doc_id long, text string, op string, lsn long",
        )
        apply_epoch(tbl, upd.unionByName(dels).unionByName(ins), epoch=1,
                    extract=False)
        idx.sync(tbl)

    root = _ensure_diff_table(spark, sf_dir, "bm25sync", _build)
    queries = spark.createDataFrame(_BM25_QUERIES, "query_id long, query string")
    return Bm25Index(spark, root / "idx").probe(queries, k=5)


def q_patch_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-level partial-image CDC fold (operators/patch.py — the
    HBase-versioned-put / OTS-UpdateRow semantics, SURVEY S8/S9):
    deterministic I/U/D patch events derived from the events table
    (op by event_id mod; U rows null out value/props on mod-3/mod-5 =
    "keep current"), folded to final per-key rows in one key-hash
    exchange. The oracle replays the identical fold via
    arg_max-with-FILTER over the same derivation."""
    from datax_spark.operators.patch import patch_fold

    e = _t(spark, sf_dir, "events")
    is_d = F.col("event_id") % 11 == 0
    is_u = ~is_d & (F.col("event_id") % 2 == 0)
    ev = e.select(
        F.when(is_d, "D").when(is_u, "U").otherwise("I").alias("op"),
        "user_id",
        F.col("event_id").alias("lsn"),
        F.when(is_u & (F.col("event_id") % 3 == 0), F.lit(None))
        .otherwise(F.col("value")).alias("value"),
        F.when(is_u & (F.col("event_id") % 5 == 0), F.lit(None))
        .otherwise(F.col("props")).alias("props"),
    )
    return patch_fold(
        ev, key="user_id", lsn_col="lsn", payload_cols=["value", "props"]
    )


def q_intra_doc_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITHIN-document line dedup (operators/dedup.py
    intra_doc_line_dedup): each doc keeps the first occurrence of every
    distinct line in order — zero exchanges, pure codegen array math."""
    out = DD.intra_doc_line_dedup(_relined(_t(spark, sf_dir, "documents")))
    return out.select("doc_id", "text", "n_lines_kept", "n_lines_dropped")


def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText-style hashed-bag-of-words linear quality gate
    (functions/classifier.py): md5-bucket → closed-form weight → mean
    logit, all codegen, zero exchanges. The broadcast-weights form is
    proven score-equal in tests/test_corpus_ops.py."""
    from datax_spark.functions.classifier import classify_quality

    out = classify_quality(_t(spark, sf_dir, "documents"))
    return out.select(
        "doc_id", "score", F.col("keep").cast("int").alias("keep")
    )


def q_bloom_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-membership incremental dedup (operators/bloom_dedup.py):
    even-doc_id docs are the ingested corpus, odd the new batch; the
    corpus's blocked bloom (1024 × 63-bit words, md5-slice hashes)
    broadcasts onto the batch, exact md5 verify runs only on
    bloom-positive rows."""
    from datax_spark.operators.bloom_dedup import bloom_dedup_flags

    docs = _t(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    batch = docs.filter(F.col("doc_id") % 2 == 1)
    out = bloom_dedup_flags(corpus, batch)
    return out.select(
        "doc_id",
        F.col("bloom_hit").cast("int").alias("bloom_hit"),
        F.col("exact_dup").cast("int").alias("exact_dup"),
    )


def q_url_blocklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UT1-style domain blocklist + URL pattern gate
    (operators/url_filter.py): ≤5 consecutive broadcast suffix probes,
    zero corpus exchanges. URLs derive deterministically from
    (source, doc_id); every 50th doc sits on a deep subdomain of a
    blocked parent to exercise suffix matching."""
    from datax_spark.operators.url_filter import blocklist_filter

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(
            F.col("doc_id") % 50 == 0,
            F.concat(F.lit("https://deep.sub.blocked.org/x/"),
                     F.col("doc_id").cast("string")),
        ).otherwise(
            F.concat(F.lit("https://"), F.col("source"),
                     F.lit(".example.com/p/"), F.col("doc_id").cast("string")),
        ).alias("url"),
    )
    blk = spark.createDataFrame(
        [("src3.example.com",), ("src7.example.com",),
         ("src13.example.com",), ("src17.example.com",), ("blocked.org",)],
        "domain string",
    )
    out = blocklist_filter(docs, blk, [r"/p/[0-9]*9$"], assume_distinct=True)
    return out.select("doc_id", "canon_url", "verdict")


def q_mixing_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-mixing weights (operators/mixing.py): per-source token
    stats → downsampling probability that hits a uniform target mix,
    anchored so the scarcest source keeps everything."""
    from datax_spark.operators.mixing import mixing_weights

    return mixing_weights(_t(spark, sf_dir, "documents"))


def q_mixing_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The mix APPLIED: deterministic md5-gate sampling under the
    uniform-target weights; membership is reproducible across engines
    and stable under corpus growth."""
    from datax_spark.operators.mixing import apply_mix, mixing_weights

    docs = _t(spark, sf_dir, "documents")
    return apply_mix(docs, mixing_weights(docs)).select(
        "doc_id", "source"
    )


def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE tokenizer training (functions/bpe.py): 12 merge
    rounds over the one-pass word-frequency table; deterministic
    (count desc, pair asc) tie-break. Rows-only (the training loop is
    iterative — not SQL-expressible); differential-tested against a
    pure-python reference in tests/test_bpe.py."""
    from datax_spark.functions.bpe import merges_table, train_bpe

    merges = train_bpe(
        _t(spark, sf_dir, "documents"), n_merges=12, min_freq=2
    )
    return merges_table(spark, merges)


def _synthetic_edges(ev: DataFrame) -> DataFrame:
    """Deterministic sparse host-graph surrogate from `events` (datagen
    html carries no anchors, so the board derives the edge list
    arithmetically — SQL-shared with the oracle): 200 nodes, ~3% of
    event rows gated in, self-loops dropped, distinct edges."""
    src = F.col("user_id") % 200
    dst = F.col("event_id") % 200
    return (
        ev.filter(((F.col("user_id") + F.col("event_id")) % 17 == 3) & (src != dst))
        .select(src.alias("src"), dst.alias("dst"))
        .distinct()
    )


def q_link_graph_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link-graph degree stats (operators/graph.py degree_stats): one
    full-outer of the two one-shuffle aggregates over the edge list —
    the in/out-degree profile a crawl-frontier prioritizer starts from."""
    from datax_spark.operators.graph import degree_stats

    return degree_stats(_synthetic_edges(_t(spark, sf_dir, "events")))


def q_link_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the link graph (operators/graph.py pagerank): 5
    synchronous power iterations, damping 0.85, dangling mass folded
    back uniformly (one O(1) scalar per iteration). Per-iteration cost
    is ONE edge-rank equi-join + ONE groupBy(dst) — ranks stay a
    (node, rank) vector, never an adjacency matrix. Output scaled by N
    (ranks ~1.0) so round(4) keeps ~4 significant digits for the
    cross-engine hash."""
    from datax_spark.operators.graph import pagerank

    pr = pagerank(
        _synthetic_edges(_t(spark, sf_dir, "events")),
        iterations=5,
        round_to=None,
    )
    n = pr.count()  # rank vector is cached; O(nodes) metadata
    return pr.select(
        "node", F.round(F.col("rank") * n, 4).alias("rank_n")
    )


def q_profile_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column data-quality profile (operators/profile.py): nulls,
    exact distincts, numeric/string min-max — ONE aggregate scan for
    all columns (Catalyst Expand), unpivoted executor-side."""
    from datax_spark.operators.profile import profile_table

    return profile_table(_t(spark, sf_dir, "documents"))


def q_windowed_event_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling event-time window aggregation (F.window — the batch
    form of the streaming windowed-agg surface; identical grouping to
    date_trunc in the oracle): one map-side-combined shuffle."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def q_asof_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time as-of join (operators/asof.py): every click joined
    to the user's latest purchase at-or-before it — ONE hash exchange on
    user_id feeding an in-partition sort; no range/theta join. Ties on
    (user_id, ts) resolve to max purchase_id in both engines (the oracle
    pre-dedupes because DuckDB ASOF tie choice is arbitrary)."""
    from datax_spark.operators.asof import asof_join

    ev = _t(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.col("event_id").alias("purchase_id"),
        F.round("value", 4).alias("purchase_value"),
    )
    out = asof_join(
        clicks, purchases, ["user_id"], "ts", "ts", tiebreak="purchase_id"
    )
    return out.select(
        "event_id",
        "user_id",
        F.col("ts_asof").alias("purchase_ts"),
        "purchase_id",
        "purchase_value",
    )


def q_scd2_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 dimension from the event log (operators/scd.py):
    per-user event_type runs collapsed to validity intervals
    (valid_from/valid_to/is_current). Both windows share one (user_id)
    exchange — plan-asserted in tests/test_scd.py."""
    from datax_spark.operators.scd import scd2_from_log

    ev = _t(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", F.col("event_type").alias("status")
    )
    return scd2_from_log(
        ev, ["user_id"], "ts", ["status"], tiebreak="event_id"
    )


def q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: customer x orders x lineitem with selective
    filters on both ends — Catalyst pushes both predicates below the
    joins and broadcasts the pruned customer side; top-10 by revenue."""
    cust = _t(spark, sf_dir, "customer").where(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = _t(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < "1998-03-15"
    )
    li = _t(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > "1998-03-15"
    )
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("r")
    j = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
    )
    return (
        j.groupBy("l_orderkey", "o_orderdate")
        .agg(F.round(F.sum(rev), 2).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
    )


def q_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: six-table star join (region->nation->customer/
    supplier->orders->lineitem) with the same-nation constraint —
    the join-reorder / broadcast-dims stress test."""
    region = _t(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    nation = _t(spark, sf_dir, "nation")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    orders = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1997-01-01")
    )
    li = _t(spark, sf_dir, "lineitem")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    j = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(
            supp,
            (li.l_suppkey == supp.s_suppkey)
            & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    )
    return j.groupBy("n_name").agg(F.round(F.sum(rev), 2).alias("revenue"))


def q_order_priority_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: correlated EXISTS as a LEFT SEMI join — orders
    with at least one RETURNED lineitem in a quarter, counted per
    priority (the synthetic lineitem has no commit/receipt dates;
    l_returnflag carries the correlated predicate)."""
    orders = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= "1997-07-01")
        & (F.col("o_orderdate") < "1997-10-01")
    )
    late = _t(spark, sf_dir, "lineitem").where(
        F.col("l_returnflag") == "R"
    )
    semi = orders.join(
        late, orders.o_orderkey == late.l_orderkey, "left_semi"
    )
    return semi.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("order_count")
    )


def q_returned_item_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: revenue lost to returns per customer over a
    quarter, top-20 — a large-key group (customer) fed by two pushed
    filters and a broadcast nation join."""
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    orders = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= "1997-01-01")
        & (F.col("o_orderdate") < "1997-04-01")
    )
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    j = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
    )
    return (
        j.groupBy("c_custkey", "c_name", "n_name")
        .agg(F.round(F.sum(rev), 2).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


def q_clicked_never_purchased(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-difference shape: users who clicked but never purchased —
    subtract() is SQL EXCEPT (set semantics): one aggregate + anti
    join, no distinct-then-join hand-rolling."""
    ev = _t(spark, sf_dir, "events")
    clicked = ev.where(F.col("event_type") == "click").select("user_id")
    purchased = ev.where(F.col("event_type") == "purchase").select("user_id")
    return clicked.subtract(purchased)


def q_order_value_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution profile: orders cut into deciles of o_totalprice
    (ntile over a deterministic (price, key) order), per-decile
    min/max/sum — the skew-inspection query for any value column.
    NOTE the global ntile is a single-task total order — exact-rank
    semantics for the oracle; the 100-TB form computes approx
    percentile cut points (one agg) and buckets with a codegen CASE,
    trading exact equal-population for full parallelism."""
    orders = _t(spark, sf_dir, "orders")
    w = Window.orderBy(F.col("o_totalprice").asc(), F.col("o_orderkey").asc())
    d = orders.withColumn("decile", F.ntile(10).over(w).cast("bigint"))
    return d.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.min("o_totalprice"), 2).alias("lo"),
        F.round(F.max("o_totalprice"), 2).alias("hi"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
    )


def q_customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: left outer join customer←orders (a filter on
    the OUTER side's payload, kept below the join), per-customer order
    count, then the distribution of those counts — the classic
    two-level aggregation where the second groupBy is tiny."""
    cust = _t(spark, sf_dir, "customer").select("c_custkey")
    orders = _t(spark, sf_dir, "orders").where(
        F.col("o_orderstatus") != "F"
    ).select("o_custkey", "o_orderkey")
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(
        F.count(F.lit(1)).alias("custdist")
    )


def q_promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: one month of lineitem ⋈ broadcast part, promo
    share as a conditional-sum ratio — a single scan, both sums in one
    aggregate (no second pass for the denominator)."""
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= "1997-06-01")
        & (F.col("l_shipdate") < "1997-07-01")
    )
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    return j.agg(
        F.round(
            100.0
            * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(0.0))
            / F.sum(rev),
            4,
        ).alias("promo_share"),
        F.round(F.sum(rev), 2).alias("total_revenue"),
    )


def q_supplier_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape (lineitem stands in for partsupp): distinct
    supplier count per (p_brand, p_type, p_size-bucket), excluding one
    brand and anti-joining out negative-balance suppliers — distinct
    agg over a selective join, top-10 by variety."""
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    part = _t(spark, sf_dir, "part").where(
        (F.col("p_brand") != "Brand#13") & (F.col("p_size") <= 25)
    )
    bad = _t(spark, sf_dir, "supplier").where(F.col("s_acctbal") < 0).select(
        F.col("s_suppkey").alias("l_suppkey")
    )
    j = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(bad), "l_suppkey", "left_anti")
    )
    return (
        j.groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(
            F.col("supplier_cnt").desc(),
            F.col("p_brand").asc(),
            F.col("p_type").asc(),
            F.col("p_size").asc(),
        )
        .limit(10)
    )


def q_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: orders whose total quantity clears a threshold
    (groupBy + having on the FACT side first — the 15k-order key set
    collapses to a handful before touching customer), then enrich via
    broadcast semi-join, top-20 by quantity."""
    li = _t(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.round(F.sum("l_quantity"), 2).alias("total_qty"))
        .where(F.col("total_qty") > 250)
    )
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    j = (
        orders.join(F.broadcast(big), orders.o_orderkey == big.l_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
    )
    return (
        j.select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            "o_orderdate",
            F.round("o_totalprice", 2).alias("o_totalprice"),
            "total_qty",
        )
        .orderBy(F.col("total_qty").desc(), F.col("o_orderkey").asc())
        .limit(20)
    )


def q_brand_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: OR-of-ANDs predicate across the join (three
    brand/size/quantity envelopes) — the disjunction stays one codegen
    filter after a broadcast join; no UNION of three scans."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    c1 = (
        (F.col("p_brand") == "Brand#12")
        & (F.col("p_size").between(1, 10))
        & (F.col("l_quantity").between(1, 15))
    )
    c2 = (
        (F.col("p_brand") == "Brand#23")
        & (F.col("p_size").between(5, 20))
        & (F.col("l_quantity").between(10, 25))
    )
    c3 = (
        (F.col("p_brand") == "Brand#34")
        & (F.col("p_size").between(15, 35))
        & (F.col("l_quantity").between(20, 35))
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return j.where(c1 | c2 | c3).agg(
        F.round(F.sum(rev), 2).alias("revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )


def q_idle_wealthy_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: scalar subquery (global average positive
    balance — ONE row, broadcast into the filter) + anti join against
    recent orders; per-segment count/sum of the customers above the
    average with no 1998+ activity."""
    cust = _t(spark, sf_dir, "customer")
    avg_bal = cust.where(F.col("c_acctbal") > 0.0).agg(
        F.avg("c_acctbal").alias("avg_bal")
    )
    recent = _t(spark, sf_dir, "orders").where(
        F.col("o_orderdate") >= "1998-01-01"
    ).select(F.col("o_custkey").alias("c_custkey"))
    rich = cust.crossJoin(F.broadcast(avg_bal)).where(
        F.col("c_acctbal") > F.col("avg_bal")
    )
    idle = rich.join(recent, "c_custkey", "left_anti")
    return idle.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("numcust"),
        F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
    )


def q_event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: lead() on a deterministic (ts, event_id) order — ONE
    exchange on user_id — then a tiny (type, next_type) aggregate;
    probabilities normalized per source type with a window over the
    5×5 result, not a second corpus pass."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    pairs = (
        ev.select("user_id", "ts", "event_id", "event_type")
        .withColumn("next_type", F.lead("event_type").over(w))
        .where(F.col("next_type").isNotNull())
        .groupBy("event_type", "next_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tw = Window.partitionBy("event_type")
    return pairs.select(
        "event_type",
        "next_type",
        "n",
        F.round(F.col("n") / F.sum("n").over(tw), 4).alias("p"),
    )


def q_gap_fill_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resample + forward fill: per-user daily value sums
    re-gridded onto the full calendar (sequence+explode — generated,
    never collected) and gaps carried forward with last(ignorenulls)
    over one (user, day) window. The calendar build is a broadcast of
    a ONE-ROW bounds aggregate; at 100 TB the grid is |users|×|days|
    rows, independent of event count."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "user_id", F.to_date("ts").alias("day")
    ).agg(F.round(F.sum("value"), 4).alias("day_value"))
    bounds = daily.agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
    cal = (
        daily.select("user_id")
        .distinct()
        .crossJoin(F.broadcast(bounds))
        .select(
            "user_id", F.explode(F.sequence("d0", "d1")).alias("day")
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        cal.join(daily, ["user_id", "day"], "left")
        .select(
            "user_id",
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.round(
                F.last("day_value", ignorenulls=True).over(w), 4
            ).alias("value_ff"),
            F.col("day_value").isNull().alias("was_gap"),
        )
    )


def q_link_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census of the link graph (operators/graph.py
    triangle_stats): degree-ordered wedge enumeration + one closing
    equi-join — the hub-safe form; the count itself is
    orientation-invariant, so the oracle uses the plain a<b<c
    orientation."""
    from datax_spark.operators.graph import triangle_stats

    return triangle_stats(_synthetic_edges(_t(spark, sf_dir, "events")))


def _recrawl_snapshot(docs: DataFrame) -> DataFrame:
    """Deterministic perturbation of `documents` standing in for a
    recrawl: every 10th doc vanishes (D), every 7th survivor changes
    (U), every 13th doc reappears under a fresh url (I) — SQL-shared
    with the oracle."""
    url = F.concat(F.lit("https://doc/"), F.col("doc_id")).alias("url")
    changed = F.col("doc_id") % 7 == 0
    survivors = docs.where(F.col("doc_id") % 10 != 0).select(
        url,
        F.when(changed, F.concat(F.col("text"), F.lit(" [recrawl]")))
        .otherwise(F.col("text"))
        .alias("text"),
        "lang",
        "source",
        (
            F.col("n_chars") + F.when(changed, F.lit(10)).otherwise(F.lit(0))
        ).alias("n_chars"),
    )
    fresh = docs.where(F.col("doc_id") % 13 == 0).select(
        F.concat(F.lit("https://doc/"), F.col("doc_id") + 10_000_000).alias(
            "url"
        ),
        "text",
        "lang",
        "source",
        "n_chars",
    )
    return survivors.unionByName(fresh)


def _ensure_diff_table(spark, sf_dir: str, name: str, build) -> "Path":
    """Crash-safe cached fixture table under the system tempdir: built
    in a hidden dir and atomically renamed into place (the
    _ensure_cdc_fixture pattern), so an interrupted build can never
    leave a half-initialized table that poisons every later run —
    IceTable.create publishes version-hint BEFORE any bulk load, which
    a naive exists-check would mistake for a finished fixture."""
    import os
    import shutil
    import tempfile
    import uuid

    root = Path(tempfile.gettempdir()) / f"datax_{name}_{Path(sf_dir).name}"
    if root.exists():
        return root / "t"
    work = root.parent / f".build-{uuid.uuid4().hex}"
    build(work / "t")
    try:
        os.rename(work, root)
    except OSError:
        shutil.rmtree(work, ignore_errors=True)  # lost the race: reuse theirs
        if not root.exists():
            raise
    return root / "t"


def q_recrawl_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recrawl → minimal change batch (operators/snapshot_diff.py):
    bulk-load `documents` as the table state, diff a deterministically
    perturbed snapshot against it — unchanged keys emit NOTHING, so the
    MERGE cost downstream scales with churn, not crawl size. One
    full-outer join; per-op counts + url envelopes returned. The oracle
    replays the same perturbation + null-safe diff in SQL."""
    from datax_spark.icetable.table import IceTable
    from datax_spark.operators.snapshot_diff import snapshot_to_events

    docs = _t(spark, sf_dir, "documents")
    pages = docs.select(
        F.concat(F.lit("https://doc/"), F.col("doc_id")).alias("url"),
        "text",
        "lang",
        "source",
        "n_chars",
    )

    def _build(path):
        tbl = IceTable.create(
            spark, path, pages.schema, num_partitions=8, key_column="url"
        )
        tbl.bulk_overwrite(pages, epoch=0)

    tbl = IceTable.load(
        spark, _ensure_diff_table(spark, sf_dir, "recrawl", _build)
    )
    ev = snapshot_to_events(
        tbl, _recrawl_snapshot(docs), base_lsn=1, emit_deletes=True
    )
    return ev.groupBy("op").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("url").alias("url_min"),
        F.max("url").alias("url_max"),
    )


def q_merge_into_clauses(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL MERGE INTO with all three WHEN clauses
    (operators/rowlevel.merge_into): target = even-doc_id documents
    bulk-loaded as an IceTable, source = div-by-3 documents with
    shifted counts. WHEN MATCHED AND source.val % 5 = 0 → DELETE;
    WHEN MATCHED AND source.val > target.val → UPDATE SET val (subset
    SET — target's lang survives); WHEN NOT MATCHED AND lang <> 'de' →
    INSERT. Clause evaluation joins the source against a bloom- and
    partition-pruned slice of the target, and the event batch rides the
    exactly-once merge epoch (replays are ledger no-ops). The oracle
    states the same clause algebra as a LEFT JOIN pair."""
    from pyspark.sql import types as T

    from datax_spark.icetable.table import IceTable
    from datax_spark.operators.merge import apply_epoch
    from datax_spark.operators.rowlevel import merge_into

    def _build(root):
        docs = _t(spark, sf_dir, "documents")
        target = docs.filter(F.col("doc_id") % 2 == 0).select(
            F.concat(F.lit("d"), F.col("doc_id")).alias("url"),
            F.col("n_chars").alias("val"),
            "lang",
        )
        schema = T.StructType(
            [
                T.StructField("url", T.StringType()),
                T.StructField("val", T.LongType()),
                T.StructField("lang", T.StringType()),
            ]
        )
        t = IceTable.create(spark, root, schema, num_partitions=8)
        apply_epoch(
            t,
            target.select(
                F.lit(1).cast("long").alias("lsn"),
                F.lit("I").alias("op"),
                "url",
                "val",
                "lang",
            ),
            epoch=0,
            extract=False,
        )
        source = docs.filter(F.col("doc_id") % 3 == 0).select(
            F.concat(F.lit("d"), F.col("doc_id")).alias("url"),
            (F.col("n_chars") + F.lit(7)).alias("val"),
            "lang",
        )
        merge_into(
            t,
            source,
            when_matched_delete=True,
            when_matched_delete_condition="source.val % 5 = 0",
            when_matched_update={"val": "source.val"},
            when_matched_update_condition="source.val > target.val",
            when_not_matched_insert="*",
            when_not_matched_insert_condition="source.lang <> 'de'",
            epoch=1,
        )

    from datax_spark.icetable.table import IceTable as _IT

    root = _ensure_diff_table(spark, sf_dir, "mergeinto", _build)
    return _IT.load(spark, root).read().select("url", "val", "lang")


def _cdf_fixture(spark: SparkSession, sf_dir: str):
    """The two-version table the changelog_feed query builds (v1 = the
    raw corpus, v2 = the perturbed recrawl) — shared by the time-travel
    and incremental-read queries."""
    from datax_spark.icetable.table import IceTable

    docs = _t(spark, sf_dir, "documents")
    pages = docs.select(
        F.concat(F.lit("https://doc/"), F.col("doc_id")).alias("url"),
        "text",
        "lang",
        "source",
        "n_chars",
    )

    def _build(path):
        tbl = IceTable.create(
            spark, path, pages.schema, num_partitions=8, key_column="url"
        )
        tbl.bulk_overwrite(pages, epoch=0)
        tbl.bulk_overwrite(_recrawl_snapshot(docs), epoch=1)

    return IceTable.load(
        spark, _ensure_diff_table(spark, sf_dir, "cdf", _build)
    )


def q_time_travel_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel: read the CDF fixture table AT VERSION 1 (the
    pre-recrawl state) after version 2 replaced it — per-lang profile
    of the historical snapshot. The oracle recomputes v1 directly from
    `documents`; any leakage of v2 rows (the perturbed/new urls) would
    change the counts."""
    tbl = _cdf_fixture(spark, sf_dir)
    return tbl.read(version=1).groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.min("url").alias("url_min"),
    )


def q_incremental_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-append scan (Iceberg's incremental read): rows in
    data files added strictly after v1 — for the snapshot-replace v2
    commit that is exactly the recrawl state, which the oracle rebuilds
    from `documents` with the shared perturbation rules."""
    tbl = _cdf_fixture(spark, sf_dir)
    return tbl.read_incremental(1, 2).groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.min("url").alias("url_min"),
    )


def q_streaming_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NATIVE Structured Streaming on the board: a real readStream over
    the events parquet, session_window(30 min gap) aggregation, memory
    sink, availableNow trigger run to completion — so the STREAMING
    path itself gets SQL-oracle parity (the oracle is the equivalent
    batch gap-sessionization; Spark merges an event into a session iff
    ts < prev_end = prev_ts + gap, i.e. a new session starts at
    diff >= 1800s). Complete output mode: no watermark needed for a
    bounded replay, and the result is the full deterministic state."""
    import uuid

    import os
    import shutil
    import tempfile

    ev_schema = (
        "event_id long, ts timestamp, user_id long, "
        "event_type string, value double"
    )
    # FileStreamSource needs a DIRECTORY; stage the single parquet into
    # a cached tmp dir (build-and-rename, crash-safe like the fixtures)
    stage = (
        Path(tempfile.gettempdir()) / f"datax_evstream_{Path(sf_dir).name}"
    )
    if not stage.exists():
        build = stage.parent / f".build-{uuid.uuid4().hex}"
        build.mkdir(parents=True)
        shutil.copy(f"{sf_dir}/events.parquet", build / "events.parquet")
        try:
            os.rename(build, stage)
        except OSError:
            shutil.rmtree(build, ignore_errors=True)
            if not stage.exists():
                raise
    sdf = (
        spark.readStream.schema(ev_schema).format("parquet").load(str(stage))
    )
    agg = sdf.groupBy(
        F.session_window("ts", "30 minutes").alias("w"), F.col("user_id")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )
    name = f"sessions_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name).select(
        "user_id",
        F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias(
            "session_start"
        ),
        "n_events",
        "sum_value",
    )


def q_event_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual information between event types co-occurring in
    the same session (30-min gap sessions): sessionize (one user_id
    exchange), collapse to DISTINCT (session, type) — ≤5 rows per
    session — then a bounded self-join on session id (≤ C(5,2) pairs
    each) and ln(N·n_ab / (n_a·n_b)). The pair join is keyed and
    cardinality-capped by the type alphabet, never events × events."""
    ev = _t(spark, sf_dir, "events")
    by_user = Window.partitionBy("user_id").orderBy("ts", "event_id")
    sec = F.col("ts").cast("timestamp").cast("long")
    gap = sec - F.lag(sec).over(by_user)
    new_sess = F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    sess = ev.withColumn(
        "session_idx",
        F.sum(new_sess).over(
            by_user.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    ).select(
        F.concat_ws("#", F.col("user_id"), F.col("session_idx")).alias("sid"),
        "event_type",
    ).distinct()
    # one-row session count folded in via broadcast crossJoin — fully
    # lazy, no construction-time driver job
    n_sess = sess.agg(
        F.count_distinct("sid").cast("double").alias("n_sessions")
    )
    singles = sess.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_t"))
    a = sess.select("sid", F.col("event_type").alias("t_a"))
    b = sess.select("sid", F.col("event_type").alias("t_b"))
    pairs = (
        a.join(b, "sid")
        .where(F.col("t_a") < F.col("t_b"))
        .groupBy("t_a", "t_b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
    )
    na = singles.select(F.col("event_type").alias("t_a"), F.col("n_t").alias("n_a"))
    nb = singles.select(F.col("event_type").alias("t_b"), F.col("n_t").alias("n_b"))
    return (
        pairs.join(F.broadcast(na), "t_a")
        .join(F.broadcast(nb), "t_b")
        .crossJoin(F.broadcast(n_sess))
        .select(
            "t_a",
            "t_b",
            "n_ab",
            F.round(
                F.log(
                    F.col("n_sessions")
                    * F.col("n_ab")
                    / (F.col("n_a") * F.col("n_b"))
                ),
                4,
            ).alias("pmi"),
        )
    )


def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation of purchasers: recency (days since last
    purchase vs corpus max ts), frequency, monetary — each cut into
    quartiles by ntile over deterministic orders — rolled up to segment
    counts. One purchase-filtered aggregate; the ntile windows run over
    the 150-user summary, not the event log."""
    ev = _t(spark, sf_dir, "events").where(F.col("event_type") == "purchase")
    sec = F.col("ts").cast("timestamp").cast("long")
    per_user = ev.groupBy("user_id").agg(
        F.max(sec).alias("last_sec"),
        F.count(F.lit(1)).alias("freq"),
        F.round(F.sum("value"), 4).alias("monetary"),
    )
    ref = per_user.agg(F.max("last_sec").alias("ref_sec"))
    scored = per_user.crossJoin(F.broadcast(ref)).select(
        "user_id",
        ((F.col("ref_sec") - F.col("last_sec")) / 86400.0).alias("rec_days"),
        "freq",
        "monetary",
    )
    r = F.ntile(4).over(
        Window.orderBy(F.col("rec_days").asc(), F.col("user_id").asc())
    )
    f = F.ntile(4).over(
        Window.orderBy(F.col("freq").desc(), F.col("user_id").asc())
    )
    m = F.ntile(4).over(
        Window.orderBy(F.col("monetary").desc(), F.col("user_id").asc())
    )
    seg = scored.select(
        r.cast("long").alias("r_quartile"),
        f.cast("long").alias("f_quartile"),
        m.cast("long").alias("m_quartile"),
        "monetary",
    )
    return seg.groupBy("r_quartile", "f_quartile", "m_quartile").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.round(F.sum("monetary"), 2).alias("total_value"),
    )


def q_changelog_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-feed read (icetable read_changes): two bulk-loaded
    snapshots of the SAME deterministic states the recrawl query uses,
    diffed by the table's semantic changelog — so the CDF read path and
    the snapshot_to_events batch path are cross-validated against ONE
    oracle. The diff is partition-pruned to changed partitions; a
    rewrite-only commit would emit nothing."""
    feed = _cdf_fixture(spark, sf_dir).read_changes(1, 2)
    return feed.groupBy(F.col("_op").alias("op")).agg(
        F.count(F.lit(1)).alias("n"),
        F.min("url").alias("url_min"),
        F.max("url").alias("url_max"),
    )


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement (operators/sampling.py
    weighted_sample_topk): 50 documents, selection ∝ n_chars, via the
    integer-exact u/w race — one md5 projection + a TakeOrdered top-k,
    no full sort, no RNG, and bit-identical scores in any IEEE engine
    (the oracle computes the same division)."""
    from datax_spark.operators.sampling import weighted_sample_topk

    docs = _t(spark, sf_dir, "documents")
    out = weighted_sample_topk(docs, 50, weight_col="n_chars", key_col="doc_id")
    return out.select(
        "doc_id", "n_chars", F.round("sample_score", 4).alias("sample_score")
    )


def q_debounce_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Telemetry debounce: per (user, type) stream, an event landing
    within 5s of its predecessor is a bounce — ONE lag() exchange on
    the composite key, interval arithmetic stays in exact microseconds
    (no float timestamps), then a tiny per-type rollup."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    prev = F.lag("ts").over(w)
    keep = prev.isNull() | (
        F.col("ts") > prev + F.expr("INTERVAL 5 SECONDS")
    )
    return (
        ev.select("event_type", keep.alias("keep"))
        .groupBy("event_type")
        .agg(
            F.sum(F.when(F.col("keep"), 1).otherwise(0)).alias("n_kept"),
            F.sum(F.when(F.col("keep"), 0).otherwise(1)).alias("n_dropped"),
        )
    )


def q_lang_source_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence test for lang × source: observed counts
    in ONE corpus aggregate; margins and expected counts come from
    windows over that tiny contingency table, never a second corpus
    pass. One row: statistic + degrees of freedom."""
    docs = _t(spark, sf_dir, "documents")
    obs = docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n")
    )
    wl = Window.partitionBy("lang")
    ws = Window.partitionBy("source")
    wall = Window.partitionBy()
    cells = obs.select(
        "lang",
        "source",
        "n",
        F.sum("n").over(wl).alias("rt"),
        F.sum("n").over(ws).alias("ct"),
        F.sum("n").over(wall).alias("tot"),
    ).select(
        "lang",
        "source",
        (
            F.pow(F.col("n") - F.col("rt") * F.col("ct") / F.col("tot"), 2)
            / (F.col("rt") * F.col("ct") / F.col("tot"))
        ).alias("term"),
    )
    return cells.agg(
        F.round(F.sum("term"), 4).alias("chi2"),
        (
            (F.count_distinct("lang") - 1) * (F.count_distinct("source") - 1)
        ).cast("long").alias("dof"),
    )


def q_conversion_time_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-conversion profile: per user, first signup → first
    subsequent purchase, delta kept in exact microseconds (unix_micros)
    until the final seconds projection; exact interpolated percentiles
    over the ~150-row delta set. At 100 TB the per-user reduce is one
    map-side-combined min/min aggregate; only the tiny delta vector
    meets the percentile sort."""
    ev = _t(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.min(
            F.when(
                F.col("event_type") == "signup",
                F.unix_micros(F.col("ts").cast("timestamp")),
            )
        ).alias("s_us"),
        F.min(
            F.when(
                F.col("event_type") == "purchase",
                F.unix_micros(F.col("ts").cast("timestamp")),
            )
        ).alias("p_us"),
    )
    deltas = per_user.where(
        F.col("s_us").isNotNull()
        & F.col("p_us").isNotNull()
        & (F.col("p_us") > F.col("s_us"))
    ).select((F.col("p_us") - F.col("s_us")).alias("d_us"))
    return deltas.agg(
        F.count(F.lit(1)).alias("n_converted"),
        F.round(F.percentile("d_us", F.lit(0.5)) / 1e6, 2).alias("p50_sec"),
        F.round(F.percentile("d_us", F.lit(0.9)) / 1e6, 2).alias("p90_sec"),
        F.round(F.percentile("d_us", F.lit(0.99)) / 1e6, 2).alias("p99_sec"),
    )


def q_source_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of each source's language mix (nats): one corpus
    aggregate to the (source, lang) table, probabilities from a window
    over it, -Σ p·ln p per source — the diversity signal a corpus-mix
    dashboard tracks."""
    docs = _t(spark, sf_dir, "documents")
    sl = docs.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("n"))
    ws = Window.partitionBy("source")
    p = F.col("n") / F.sum("n").over(ws)
    return (
        sl.select("source", (-p * F.log(p)).alias("term"), F.col("n"))
        .groupBy("source")
        .agg(
            F.round(F.sum("term"), 4).alias("entropy_nats"),
            F.sum("n").alias("n_docs"),
        )
    )


def q_error_burst_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burst detection: error events whose user produced >=2 errors in
    the trailing 30 minutes — a RANGE window frame over event-time
    seconds (peers included, matching SQL RANGE semantics), filtered to
    the error stream BEFORE the exchange so the window sees only
    errors."""
    ev = _t(spark, sf_dir, "events").where(F.col("event_type") == "error")
    sec = F.col("ts").cast("timestamp").cast("long")
    w = (
        Window.partitionBy("user_id")
        .orderBy(sec)
        .rangeBetween(-1800, 0)
    )
    out = ev.select(
        "user_id", "event_id", F.count(F.lit(1)).over(w).alias("n_recent")
    )
    return out.where(F.col("n_recent") >= 2)


def q_json_props_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction: the events.props JSON column parsed
    with codegen get_json_object (no UDF, stays in whole-stage codegen)
    and aggregated per type — the 'loosely-typed sidecar column' every
    CDC feed carries."""
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return ev.groupBy("event_type").agg(
        F.round(F.avg(k), 4).alias("avg_k"),
        F.max(k).alias("max_k"),
        F.count(F.when(k.isNull(), 1)).alias("n_unparsed"),
        F.count(F.lit(1)).alias("n"),
    )


def q_ann_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered vector search: exact cosine top-k restricted to a
    metadata predicate (label IN (2,3,5)) applied BEFORE the scan — the
    filter prunes the corpus side ahead of any distance math, the
    pattern every metadata-filtered ANN serving path needs (at scale
    the same predicate pushes into the IVF probed-cell scan)."""
    emb = _t(spark, sf_dir, "embeddings")
    corpus = emb.where(F.col("label").isin(2, 3, 5))
    return SIM.bruteforce_topk(corpus, emb.filter(F.col("vec_id") < 8), k=5)


def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users grouped by first-seen day, distinct
    users active at each day offset — one user_id exchange for the
    first-seen window, one map-side-combined distinct agg."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id")
    # to_date: DuckDB's date_trunc('day') yields DATE, Spark's a
    # timestamp — align the compared type
    cohort = F.to_date(F.min("ts").over(w))
    out = ev.withColumn("cohort_day", cohort).select(
        "user_id",
        "cohort_day",
        F.datediff(F.to_date(F.col("ts")), F.col("cohort_day")).alias(
            "day_offset"
        ),
    )
    return out.groupBy("cohort_day", "day_offset").agg(
        F.countDistinct("user_id").alias("n_users")
    )


def q_funnel_sequence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-funnel count: users whose first signup precedes their
    first click precedes their first purchase — conditional min-ts
    pivots in ONE aggregate pass, then a one-row codegen reduction."""
    ev = _t(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).alias("t_s"),
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias("t_c"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("t_p"),
    )
    s1 = F.col("t_s").isNotNull()
    s2 = s1 & F.col("t_c").isNotNull() & (F.col("t_c") > F.col("t_s"))
    s3 = s2 & F.col("t_p").isNotNull() & (F.col("t_p") > F.col("t_c"))
    one = F.lit(1)
    return firsts.agg(
        F.count(F.when(s1, one)).alias("n_signup"),
        F.count(F.when(s2, one)).alias("n_then_click"),
        F.count(F.when(s3, one)).alias("n_then_purchase"),
    )


def q_edit_distance_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance<=1 similarity self-join (operators/strsim.py):
    deletion-neighborhood blocking (linear |s|+1 explode, hash
    equi-join on the shared deletion) + exact levenshtein verify —
    never an all-pairs cross join. The board derives 12-char pseudo-
    titles plus a mutated copy for every 5th doc so true pairs exist;
    the oracle brute-forces the same 600 titles (fine at sf0.01,
    impossible at corpus scale — which is the point)."""
    from datax_spark.operators.strsim import edit_distance_pairs

    docs = _t(spark, sf_dir, "documents")
    titles = docs.select(
        "doc_id", F.substring("text", 1, 12).alias("title")
    )
    mutated = docs.where(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.lit("z"), F.substring("text", 2, 11)).alias("title"),
    )
    return edit_distance_pairs(titles.unionByName(mutated), "doc_id", "title")


def q_trend_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group OLS trend without any UDF: slope = covar_pop/var_pop,
    intercept from the means — four codegen aggregates in one
    map-side-combined pass (the 'is this metric drifting' monitor)."""
    ev = _t(spark, sf_dir, "events")
    x = F.col("ts").cast("timestamp").cast("double") - 1.7e9
    # try_divide: a zero-variance group must yield a NULL slope (the
    # oracle's semantics), not an ANSI DIVIDE_BY_ZERO
    slope = F.try_divide(F.covar_pop(x, F.col("value")), F.var_pop(x))
    return ev.groupBy("event_type").agg(
        F.round(slope * 86400, 6).alias("slope_per_day"),
        F.round(F.avg("value") - slope * F.avg(x), 4).alias("intercept"),
        F.count(F.lit(1)).alias("n"),
    )


def q_cube_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (lang, source) with grouping_id — all 4 grouping sets
    in one Expand pass, NULL-vs-subtotal disambiguated by the id."""
    docs = _t(spark, sf_dir, "documents")
    return docs.cube("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
        F.grouping_id().cast("bigint").alias("gid"),
    )


def q_interval_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join without a theta join (operators/interval.py): clicks
    attributed to the same user's signup windows [ts, ts+2h) — the
    interval side explodes to its covered time buckets, the point side
    lands in one bucket, and the match is a hash equi-join on
    (bucket, user_id) + a codegen containment filter. Plan-asserted
    free of BroadcastNestedLoopJoin/CartesianProduct in tests."""
    from datax_spark.operators.interval import interval_join

    ev = _t(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"), "ts"
    )
    windows = ev.where(F.col("event_type") == "signup").select(
        "user_id",
        F.col("event_id").alias("signup_id"),
        F.col("ts").alias("w_start"),
        (F.col("ts") + F.expr("INTERVAL 2 HOURS")).alias("w_end"),
    )
    pairs = interval_join(
        clicks, windows, "ts", "w_start", "w_end",
        bucket=3600.0, keys=("user_id",),
    )
    return pairs.groupBy("user_id", "signup_id").agg(
        F.count(F.lit(1)).alias("n_clicks"),
        F.min("click_id").alias("first_click"),
    )


def q_export_shard_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic export sharding (operators/export.py shard_id):
    membership is a pure md5 function of the key — growth-stable, so a
    re-export never moves examples between shards. Per-shard row/char
    totals; the byte-determinism and manifest-hash invariants are
    pytest-covered (tests/test_export.py)."""
    from datax_spark.operators.export import shard_id

    docs = _t(spark, sf_dir, "documents")
    return (
        docs.withColumn("shard", shard_id("doc_id", 8))
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
        )
    )


def q_expectations_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality expectations (operators/expectations.py):
    six constraints over documents evaluated in ONE fused aggregate
    pass (plan-asserted single scan, no joins, in tests). The oracle
    recomputes each metric as a one-row SELECT UNION ALL chain."""
    from datax_spark.operators import expectations as X

    return X.check(
        _t(spark, sf_dir, "documents"),
        [
            X.not_null("lang"),
            X.unique("doc_id"),
            X.in_set("lang", ["en", "de", "fr", "es", "zh"], threshold=0.9),
            X.in_range("n_chars", 1, 10000),
            X.matches("text", "[a-z]", threshold=0.99),
            X.min_rows(100),
        ],
    )


def q_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus top-20 tokens (operators/heavy.py top_tokens_exact): one
    map-side-combined vocabulary count; the global-order window sees
    only the vocabulary. The bounded-memory Misra-Gries candidate path
    (top_tokens_candidates — for open token domains where the vocab
    itself can't shuffle) is differential-tested against this in
    tests/test_heavy.py."""
    from datax_spark.operators.heavy import top_tokens_exact

    return top_tokens_exact(_t(spark, sf_dir, "documents"), k=20)


def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-5 tf-idf terms (operators/retrieval.py
    tfidf_top_terms): document frequencies are an aggregate OF the
    (doc, term) aggregate — vocabulary-sized, never a second corpus
    pass; ranking on the ROUNDED score so a 1-ulp ln() difference
    cannot flip cross-engine order."""
    from datax_spark.operators.retrieval import tfidf_top_terms

    return tfidf_top_terms(_t(spark, sf_dir, "documents"), k=5)


def q_rolling_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user rolling 5-event features (the feature-engineering
    staple): one (user_id) exchange, deterministic (ts, event_id)
    frame order, avg/max/count over ROWS 4 PRECEDING."""
    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-4, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.round(F.avg("value").over(w), 4).alias("roll_avg5"),
        F.round(F.max("value").over(w), 4).alias("roll_max5"),
        F.count(F.lit(1)).over(w).alias("roll_n5"),
    )


def q_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton z-value computation (operators/layout.py — the key the
    OPTIMIZE-ZORDER layout pass range-partitions on so per-file min/max
    pruning works on BOTH dimensions): pure shift/mask codegen, no
    shuffle at all for the key itself. Locality effect is measured in
    tests/test_layout.py; this query proves the bit math cross-engine
    (oracle emits the identical expression via zvalue_sql)."""
    from datax_spark.operators.layout import zvalue

    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        zvalue([F.col("user_id") % 256, F.col("event_id") % 256]).alias("zval"),
    )


def q_session_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native F.session_window grouping (the streaming-ready twin of
    the window-function sessionize_events): 30-min gap sessions in ONE
    map-side-combinable aggregate — no window-function double pass.
    Session end = last event + gap (Spark semantics; oracle mirrors)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.session_window("ts", "30 minutes").alias("sw"), "user_id"
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


def q_hopping_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding (hopping) event-time window — 1h windows every 30min,
    each event in exactly window/slide=2 groups: F.window's built-in
    replication, one shuffle. Oracle unrolls the same two epoch-aligned
    starts per event with generate_series."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def q_pivot_event_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational pivot: per-user event-type count matrix with an
    EXPLICIT value list (no extra distinct pass over the data — the
    two-arg pivot would scan once just to learn the columns)."""
    ev = _t(spark, sf_dir, "events")
    types = ["click", "view", "purchase", "signup", "error"]
    out = ev.groupBy("user_id").pivot("event_type", types).count()
    sel = [F.col("user_id")] + [
        F.coalesce(F.col(t), F.lit(0)).alias(f"n_{t}") for t in types
    ]
    return out.select(*sel)


def q_unicode_nfc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode NFC normalization (functions/unicode.py — Arrow-batched
    unicodedata, the one legitimate Python hop). Datagen text is ASCII,
    so the board deterministically decomposes it first (every 'a' gets
    a combining acute, the identical transform in the oracle); NFC must
    re-compose to the precomposed form DuckDB's nfc_normalize emits.
    Compared via md5 of the UTF-8 bytes + char length."""
    from datax_spark.functions.unicode import nfc

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.replace(F.col("text"), F.lit("a"), F.lit("a\u0301")).alias("t"),
    )
    n = nfc("t")
    return docs.select(
        "doc_id",
        F.md5(F.encode(n, "UTF-8")).alias("nfc_md5"),
        F.length("t").alias("n_chars_decomposed"),
        F.length(n).alias("n_chars_nfc"),
    )


def q_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Groupwise 3-sigma anomaly flags (operators/anomaly.py
    zscore_outliers): per-event_type mean/stddev is ONE tiny map-side-
    combined agg broadcast back; the fact table never shuffles."""
    from datax_spark.operators.anomaly import zscore_outliers

    ev = _t(spark, sf_dir, "events")
    return zscore_outliers(ev, "value", ["event_type"], k=3.0).select(
        "event_id", "event_type", F.round("value", 4).alias("value"), "z"
    )


def q_anomaly_iqr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey-fence anomaly flags (operators/anomaly.py iqr_outliers):
    exact quartiles per event_type (Spark percentile == DuckDB
    quantile_cont), broadcast join back, codegen fence test."""
    from datax_spark.operators.anomaly import iqr_outliers

    ev = _t(spark, sf_dir, "events")
    return iqr_outliers(ev, "value", ["event_type"], k=1.5).select(
        "event_id",
        "event_type",
        F.round("value", 4).alias("value"),
        "fence_lo",
        "fence_hi",
    )


def q_c4_line_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style line cleaning (functions/text.py c4_clean — the public
    Raffel-et-al rules: terminal punctuation, min words per line, no
    'javascript' lines, drop brace/lorem-ipsum pages, min kept lines).
    Datagen text is single-line, so the board deterministically
    re-linebreaks it first (replace ' table ' -> '.\\n', the identical
    transform in the oracle); pytest covers the full rule set on
    multi-line fixtures. One codegen projection — no shuffle."""
    from datax_spark.functions.text import c4_clean

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.replace(F.col("text"), F.lit(" table "), F.lit(".\n")).alias("text"),
    )
    return c4_clean(docs, min_words=3, min_lines=2)


def q_lm_score_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM fluency scoring (operators/lm.py — the CCNet
    perplexity-filter computation as a distributed add-k bigram model):
    train on the corpus in one pass, score every doc's mean ln p(r|l)."""
    from datax_spark.operators.lm import lm_score, train_bigram_lm

    docs = _t(spark, sf_dir, "documents")
    bigrams, contexts, vocab = train_bigram_lm(docs)
    return lm_score(docs, bigrams, contexts, vocab)


def q_length_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source exact length quantiles (corpus profiling — the
    distribution report every curation run starts from): one map-side-
    combined groupBy; exact percentile with linear interpolation
    (matches DuckDB quantile_cont bit-for-bit at 4dp)."""
    docs = _t(spark, sf_dir, "documents")
    q = F.percentile("n_chars", [0.5, 0.9, 0.99])
    return docs.groupBy("source").agg(
        F.round(q[0], 4).alias("p50"),
        F.round(q[1], 4).alias("p90"),
        F.round(q[2], 4).alias("p99"),
        F.count(F.lit(1)).alias("n_docs"),
    )


def q_frequency_quality_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style head/middle/tail corpus binning
    (operators/curation.py): frequency-proxy fluency score per doc,
    exact equal-population ntile into 3 tiers (the oracle-checkable
    profiling form; the production form takes fixed score thresholds
    and buckets in a pure projection)."""
    from datax_spark.operators.curation import frequency_quality_buckets

    return frequency_quality_buckets(_t(spark, sf_dir, "documents"))


def q_duplicate_span_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup, detection half (operators/span_dedup.py):
    per-doc count/fraction of 8-token windows whose content occurs more
    than once in the corpus — the boilerplate gate document- and
    line-level dedup both miss."""
    from datax_spark.operators.span_dedup import duplicate_span_stats

    return duplicate_span_stats(_t(spark, sf_dir, "documents"), n=8)


def q_duplicate_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup, removal half: cut every repeated 8-token
    window occurrence except the globally-first (min (doc_id, pos)) one
    and rebuild the text — (doc_id, text, n_tokens_kept, n_tokens_cut)."""
    from datax_spark.operators.span_dedup import remove_duplicate_spans

    return remove_duplicate_spans(_t(spark, sf_dir, "documents"), n=8)


# ------------------------ DataX transformers -------------------------- #

def q_transformer_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1-T4/T6 — DataX's built-in record transformers as codegen
    expressions (functions/transformers.py), chained like a job spec."""
    from datax_spark.functions import transformers as TX

    docs = _t(spark, sf_dir, "documents")
    out = TX.dx_filter(docs, "n_chars < 60")  # drop-on-match
    casted, _ok = TX.strict_cast("n_chars", "double")
    return out.select(
        "doc_id",
        TX.dx_substr("text", 1, 20).alias("head20"),
        TX.dx_pad("lang", "l", 4, "_").alias("lang_pad"),
        TX.dx_replace("source", 1, 3, "S").alias("src_repl"),
        casted.alias("n_chars_d"),
    )


# ----------------------------- multimodal ----------------------------- #

def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque-binary multimodal plumbing: payload bytes through an
    Arrow-batched mapInPandas decode stub (functions/multimodal.py);
    the oracle checks the deterministic metadata contract."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.encode(F.col("text"), "UTF-8").alias("payload")
    )
    return multimodal_meta(docs, id_col="doc_id", payload_col="payload")


def q_multimodal_wav_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL media decode (functions/multimodal.py decode_wav /
    decode_meta / audio_features): synthesize a parametric PCM WAV per
    document (n, rate, and the int16 sawtooth ((i*37)%401)-200 are pure
    functions of doc_id), push the bytes through the Arrow-batched
    decode + feature stages, and emit fields the oracle recomputes
    arithmetically in SQL. Exercises the container-header parse and the
    PCM math end to end — not the fake-decode stub."""
    import io as _io
    import wave as _wave

    import numpy as _np
    import pandas as _pd

    docs = _t(spark, sf_dir, "documents").select("doc_id")

    def encode(batches):
        for pdf in batches:
            ids, payloads = [], []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                n = d % 50 + 10
                rate = 8000 + (d % 3) * 4000
                pcm = ((_np.arange(n, dtype=_np.int64) * 37) % 401 - 200).astype("<i2")
                buf = _io.BytesIO()
                with _wave.open(buf, "wb") as w:
                    w.setnchannels(1)
                    w.setsampwidth(2)
                    w.setframerate(rate)
                    w.writeframes(pcm.tobytes())
                ids.append(d)
                payloads.append(buf.getvalue())
            yield _pd.DataFrame(
                {"doc_id": _pd.Series(ids, dtype="int64"), "payload": payloads}
            )

    wavs = docs.mapInPandas(encode, "doc_id long, payload binary")
    meta = decode_meta(wavs).select(
        "doc_id", "format", "modality", "n_channels", "sample_rate",
        "n_frames", "duration_s",
    )
    feats = audio_features(wavs).select("doc_id", "peak")
    return meta.join(feats, "doc_id")


def q_multimodal_png_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL PNG decode (functions/multimodal.py decode_png — stdlib
    zlib + the five W3C scanline filters, round 4): synthesize a
    parametric image per document (dims/channels/pixels are pure
    functions of doc_id), encode with filter type doc_id % 5 (so all
    five unfilter paths run), push the bytes through the Arrow-batched
    decode_meta stage, and re-decode for an arithmetic pixel checksum
    the oracle recomputes in SQL. Exercises inflate + unfilter +
    channel expansion end to end — not the fake-decode stub."""
    import numpy as _np
    import pandas as _pd

    from datax_spark.functions.multimodal import decode_png, encode_png

    docs = _t(spark, sf_dir, "documents").select("doc_id")

    def encode(batches):
        for pdf in batches:
            ids, payloads = [], []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                w, h, ch = d % 5 + 2, d % 7 + 3, d % 4 + 1
                pix = ((d * 31 + _np.arange(h * w * ch) * 7) % 256).astype(
                    _np.uint8
                )
                arr = pix.reshape(h, w, ch) if ch > 1 else pix.reshape(h, w)
                ids.append(d)
                payloads.append(encode_png(arr, filter_type=d % 5))
            yield _pd.DataFrame(
                {"doc_id": _pd.Series(ids, dtype="int64"), "payload": payloads}
            )

    pngs = docs.mapInPandas(encode, "doc_id long, payload binary")
    meta = decode_meta(pngs).select(
        "doc_id", "format", "modality", "width", "height", "n_channels",
        "n_frames",
    )

    def pixsum(batches):
        for pdf in batches:
            ids = [int(i) for i in pdf["doc_id"]]
            sums = [
                int(decode_png(bytes(p)).astype("int64").sum())
                for p in pdf["payload"]
            ]
            yield _pd.DataFrame(
                {
                    "doc_id": _pd.Series(ids, dtype="int64"),
                    "pix_sum": _pd.Series(sums, dtype="int64"),
                }
            )

    sums = pngs.mapInPandas(pixsum, "doc_id long, pix_sum long")
    return meta.join(sums, "doc_id")


# ------------- TPC-H analog completion (Q2/7/8/9/11/12/15/17/20/21) ------- #

def q_nation_pair_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: shipping volume between two nations, both
    directions, per year — customer nation via orders, supplier nation
    via lineitem, both dims broadcast."""
    nation = _t(spark, sf_dir, "nation")
    n1 = nation.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1998-01-01")
    )
    j = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n1), supp.s_nationkey == F.col("s_nk"))
        .join(F.broadcast(n2), cust.c_nationkey == F.col("c_nk"))
        .where(
            (
                (F.col("supp_nation") == "NATION_1")
                & (F.col("cust_nation") == "NATION_2")
            )
            | (
                (F.col("supp_nation") == "NATION_2")
                & (F.col("cust_nation") == "NATION_1")
            )
        )
    )
    return j.groupBy(
        "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
    ).agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("revenue")
    )


def q_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: NATION_3 suppliers' share of ASIA-customer
    revenue per order year — conditional-sum ratio, all dims broadcast,
    lineitem never shuffled except the final year groupBy."""
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    cn = nation.join(
        F.broadcast(region), nation.n_regionkey == region.r_regionkey
    ).select(F.col("n_nationkey").alias("c_nk"))
    sn = nation.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    orders = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1998-01-01")
    )
    li = _t(spark, sf_dir, "lineitem")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    j = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(cn), cust.c_nationkey == F.col("c_nk"), "left_semi")
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(sn), supp.s_nationkey == F.col("s_nk"))
    )
    return (
        j.groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.round(
                F.sum(F.when(F.col("supp_nation") == "NATION_3", rev).otherwise(F.lit(0.0)))
                / F.sum(rev),
                4,
            ).alias("mkt_share")
        )
    )


def q_profit_by_nation_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit per supplier nation per year for PROMO
    parts; the synthetic schema has no partsupp, so supply cost is
    modeled as 80% of retail price × quantity. The profit sum is
    cancellation-heavy (revenue − cost), so sum-order FP noise lands
    exactly on cent-rounding boundaries; summing per-row integer cents
    (floor(x*100+0.5) of bit-identical per-row doubles) makes the
    aggregate order-free and cross-engine exact."""
    nation = _t(spark, sf_dir, "nation")
    supp = _t(spark, sf_dir, "supplier")
    part = _t(spark, sf_dir, "part").where(F.col("p_type") == "PROMO")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    profit = F.col("l_extendedprice") * (1 - F.col("l_discount")) - F.lit(
        0.8
    ) * F.col("p_retailprice") * F.col("l_quantity")
    cents = F.floor(profit * 100 + F.lit(0.5)).cast("long")
    j = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
    )
    return j.groupBy(
        F.col("n_name").alias("nation"), F.year("o_orderdate").alias("o_year")
    ).agg(F.round(F.sum(cents) / 100.0, 2).alias("profit"))


def q_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: the cheapest EUROPE offer per size-25 part —
    correlated MIN subquery decorrelated to one row_number window.
    The unit cost is a single IEEE division of identical operands in
    both engines (never an accumulated aggregate), so the rank order is
    bit-deterministic; ties break on supplier then lineitem identity."""
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE")
    en = nation.join(
        F.broadcast(region), nation.n_regionkey == region.r_regionkey
    ).select(F.col("n_nationkey").alias("e_nk"))
    supp = _t(spark, sf_dir, "supplier").join(
        F.broadcast(en), F.col("s_nationkey") == F.col("e_nk"), "left_semi"
    )
    part = _t(spark, sf_dir, "part").where(F.col("p_size") == 25)
    li = _t(spark, sf_dir, "lineitem")
    offers = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .select(
            "p_partkey",
            "s_suppkey",
            "s_name",
            (F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_cost"),
            "l_orderkey",
            "l_linenumber",
        )
    )
    w = Window.partitionBy("p_partkey").orderBy(
        F.col("unit_cost").asc(),
        F.col("s_suppkey").asc(),
        F.col("l_orderkey").asc(),
        F.col("l_linenumber").asc(),
    )
    return (
        offers.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "p_partkey",
            "s_suppkey",
            "s_name",
            # RAW division, no display rounding: the sf0.1 board sweep
            # caught round(x, 4) diverging on a knife-edge double
            # (9007.15/40 = 225.17874999999998 — Spark's BigDecimal
            # half-up on the exact double gives ...1787, DuckDB's
            # float-space round gives ...1788). The single IEEE
            # division of identical operands IS cross-engine
            # bit-identical; any decimal rounding of it is not.
            F.col("unit_cost"),
        )
    )


def q_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: per-part inventory value held by NATION_5
    suppliers, kept where it exceeds 0.02% of the nation's total — the
    scalar-subquery threshold as a broadcast crossJoin of a 1-row
    aggregate. 0.02% (not Q11's scale-sensitive 0.1%) so the query is
    NON-VACUOUS at every test scale: per-part share shrinks as the
    part count grows, and 0.1% returned 0 rows at sf0.1 (both
    engines — a vacuous 0=0 board row). Measured nearest relative gap
    to the cut: 1.4e-3 at sf0.01 (1231 rows), 1.2e-3 at sf0.1 (155
    rows) — both ≫ FP accumulation noise, so the cut is cross-engine
    stable at both scales."""
    nation = _t(spark, sf_dir, "nation").where(F.col("n_name") == "NATION_5")
    supp = _t(spark, sf_dir, "supplier").join(
        F.broadcast(nation),
        F.col("s_nationkey") == F.col("n_nationkey"),
        "left_semi",
    )
    part = _t(spark, sf_dir, "part")
    li = _t(spark, sf_dir, "lineitem")
    vals = (
        li.join(supp, li.l_suppkey == supp.s_suppkey, "left_semi")
        .join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_partkey")
        .agg(
            F.sum(F.col("l_quantity") * F.col("p_retailprice")).alias("value")
        )
    )
    total = vals.agg(F.sum("value").alias("total"))
    return (
        vals.crossJoin(F.broadcast(total))
        .where(F.col("value") > F.col("total") * 0.0002)
        .select("p_partkey", F.round("value", 2).alias("value"))
    )


def q_ship_delay_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: order counts by ship-delay bucket × priority
    class (the synthetic lineitem has no ship mode or commit date;
    order-to-ship latency carries the bucketing). Integral counts —
    no FP surface at all."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    j = li.join(orders, li.l_orderkey == orders.o_orderkey)
    delay = F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
    bucket = (
        F.when(delay < 30, "fast")
        .when(delay < 90, "normal")
        .otherwise("late")
    )
    is_high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return j.groupBy(bucket.alias("delay_bucket")).agg(
        F.sum(F.when(is_high, 1).otherwise(0)).alias("high_line_count"),
        F.sum(F.when(is_high, 0).otherwise(1)).alias("low_line_count"),
    )


def q_top_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: the supplier(s) achieving maximum quarterly
    revenue — scalar MAX subquery as a window over the 1-grain
    aggregate. Revenue is rounded to cents BEFORE the max compare so
    cross-engine sum-order noise cannot flip the argmax."""
    supp = _t(spark, sf_dir, "supplier")
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1997-04-01")
    )
    rev = (
        li.groupBy("l_suppkey")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("total_revenue")
        )
    )
    top = rev.withColumn(
        "max_rev", F.max("total_revenue").over(Window.partitionBy())
    ).where(F.col("total_revenue") == F.col("max_rev"))
    return top.join(supp, top.l_suppkey == supp.s_suppkey).select(
        "s_suppkey", "s_name", "total_revenue"
    )


def q_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: average yearly revenue lost if small-quantity
    Brand#7 orders stopped shipping — the correlated per-part AVG as a
    window. l_quantity is integral-valued, so the per-part mean is an
    EXACT sum divided by a count: bit-identical across engines, and the
    0.2× threshold compare cannot flip."""
    part = _t(spark, sf_dir, "part").where(F.col("p_brand") == "Brand#7")
    li = _t(spark, sf_dir, "lineitem")
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    w = Window.partitionBy("p_partkey")
    small = j.withColumn("avg_qty", F.avg("l_quantity").over(w)).where(
        F.col("l_quantity") < 0.2 * F.col("avg_qty")
    )
    return small.agg(
        F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly")
    )


def q_excess_stock_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: suppliers who shipped more than half of some
    part's 1997 volume — nested semi joins collapsed to one grouped
    share computation (quantities are integral-valued doubles, so both
    sums are exact and the 50% cut is deterministic)."""
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1998-01-01")
    )
    per_ps = li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum("l_quantity").alias("supp_qty")
    )
    w = Window.partitionBy("l_partkey")
    dominant = (
        per_ps.withColumn("part_qty", F.sum("supp_qty").over(w))
        .where(F.col("supp_qty") * 2 > F.col("part_qty"))
        .select("l_suppkey")
        .distinct()
    )
    return (
        supp.join(dominant, supp.s_suppkey == dominant.l_suppkey, "left_semi")
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_name", F.col("n_name").alias("nation"))
    )


def q_waiting_orders_blame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: suppliers who were the SOLE late shipper on a
    multi-supplier order. The classic EXISTS/NOT-EXISTS self-join pair
    collapses to ONE per-order aggregate (distinct suppliers, distinct
    late suppliers, the late supplier id) — one shuffle on orderkey
    instead of two lineitem self-joins; at 100 TB that is the difference
    between one exchange and three."""
    supp = _t(spark, sf_dir, "supplier")
    orders = _t(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "F")
    li = _t(spark, sf_dir, "lineitem")
    j = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        "l_orderkey",
        "l_suppkey",
        (
            F.datediff(F.col("l_shipdate"), F.col("o_orderdate")) > 90
        ).alias("late"),
    )
    per_order = j.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct(F.when(F.col("late"), F.col("l_suppkey"))).alias(
            "n_late_supp"
        ),
        F.max(F.when(F.col("late"), F.col("l_suppkey"))).alias("late_supp"),
    )
    blamed = per_order.where(
        (F.col("n_supp") > 1) & (F.col("n_late_supp") == 1)
    )
    counts = blamed.groupBy("late_supp").agg(
        F.count(F.lit(1)).alias("numwait")
    )
    return (
        counts.join(supp, counts.late_supp == supp.s_suppkey)
        .select("s_name", "numwait")
        .orderBy(F.col("numwait").desc(), F.col("s_name").asc())
        .limit(20)
    )


# --------- incremental view maintenance / multires rollup / autocorr ------ #

def q_incremental_view_maintain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance: the per-lang corpus
    profile built at v1 of the CDF fixture, maintained to v2 purely
    from read_changes(pre_images=True) — never re-scanning the table.
    The oracle recomputes the v2 aggregate from scratch, so a green row
    IS the maintain≡recompute proof at sf scale (the unit differential
    lives in tests/test_incremental_view.py)."""
    from datax_spark.operators.incremental_view import agg_view, maintain_agg_view

    tbl = _cdf_fixture(spark, sf_dir)
    view = agg_view(tbl.read(version=1), ["lang"], ["n_chars"])
    maintained = maintain_agg_view(
        view, tbl.read_changes(1, 2, pre_images=True), ["lang"], ["n_chars"]
    )
    return maintained.select(
        "lang",
        F.col("n_rows").alias("n_docs"),
        F.col("sum_n_chars").alias("total_chars"),
    )


def q_multires_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous aggregate: hour and day grains of
    the event stream in ONE raw scan and two exchanges — finest-grain
    partials explode into their (grain, bucket) memberships and every
    level merges in one groupBy (plan-asserted in
    tests/test_rollup_time.py; the union-of-cascades form measured a
    scan per grain, so it was rejected)."""
    from datax_spark.operators.rollup_time import time_rollup

    ev = _t(spark, sf_dir, "events")
    out = time_rollup(ev, "ts", ["event_type"], "value", ("hour", "day"))
    return out.select(
        "resolution",
        "bucket_ts",
        "event_type",
        "n",
        F.round("sum_value", 2).alias("sum_value"),
        "min_value",
        "max_value",
    )


def q_autocorr_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 autocorrelation of daily event volume per type — the
    time-series health check (is traffic self-similar day over day?).
    Two grouped aggregates; the day-count relation is tiny, so the
    window + corr run on |days × types| rows, not events."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.date_trunc("day", "ts").alias("day"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("event_type").orderBy("day")
    lagged = daily.withColumn("prev_n", F.lag("n").over(w))
    return (
        lagged.where(F.col("prev_n").isNotNull())
        .groupBy("event_type")
        .agg(
            F.round(F.corr("n", "prev_n"), 4).alias("autocorr_lag1"),
            F.count(F.lit(1)).alias("n_days"),
        )
    )


# ----------------------- CDC engine (rows-only) ----------------------- #

def q_cdc_final_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2 end-to-end with a real SQL oracle: ingest the deterministic
    shared event log and return the final table's SQL-expressible
    identity columns. The oracle folds the SAME parquet shards in
    DuckDB (per-url max-lsn row, quarantine rules, drop op='D').
    Byte-identity of the extracted `text` column is non-SQL-expressible
    and stays under the pytest golden-byte + replay gates
    (tests/test_extract.py, tests/test_replay.py)."""
    _utc(spark)
    df = _run_cdc(spark, _ensure_cdc_fixture())
    return df.select("url", "lang", "title")


def q_debezium_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S11 wire bridge (sources/debezium.py): the shared CDC event log
    serialized into Debezium envelopes (op c/u/d, base64 html,
    MicroTimestamp warc_ts, source.lsn) and parsed back, then folded to
    the final state with the engine's quarantine + LWW rules. The
    oracle folds the SAME parquet shards directly, so a green row
    proves the public-format wire round trip launders nothing: dirty
    events stay dirty, clean events stay bit-identical (including the
    binary html and microsecond timestamps the fold keys on). Both
    directions are per-row from_json/to_json codegen — no UDF, no
    shuffle; the only exchange is the LWW groupBy itself."""
    from pyspark.sql import types as T

    from datax_spark.operators.quarantine import dirty_predicate
    from datax_spark.sources.debezium import parse_debezium, to_debezium

    _utc(spark)
    d = _ensure_cdc_fixture()
    row_schema = T.StructType(
        [
            T.StructField("url", T.StringType()),
            T.StructField("warc_ts", T.TimestampType()),
            T.StructField("html", T.BinaryType()),
            T.StructField("lang", T.StringType()),
            T.StructField("title", T.StringType()),
        ]
    )
    ev = (
        spark.read.option("mergeSchema", "true")
        .parquet(str(d / "events-e*.parquet"))
        .withColumn("warc_ts", F.col("warc_ts").cast("timestamp"))
        .select("lsn", "op", "url", "warc_ts", "html", "lang", "title")
    )
    wired = parse_debezium(to_debezium(ev), row_schema)
    latest = lww_resolve(
        wired.filter(~dirty_predicate("url")),
        key="url",
        order="lsn",
        strategy="max_by",
    )
    return latest.filter(F.col("op") != "D").select("url", "lang", "title")


def q_logreg_one_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained quality classifier, SQL-checkable core
    (operators/logreg.one_step_scores): one exact full-batch gradient
    step from w=0 over hashed unigram+bigram counts (256 md5 buckets),
    labels y = (doc_id % 5 == 0) as the reference-corpus proxy. All
    arithmetic is dyadic-exact (±0.5 × int sums, a power-of-two step, a
    dyadic dot product), so scores hash-match DuckDB bit-for-bit with
    NO rounding. The full iterative sigmoid path is differential-tested
    against numpy in tests/test_logreg.py (not cross-engine-exact by
    nature). Plan: two map-side-combined groupBys + one broadcast of
    the ≤256-row gradient table; the corpus never shuffles wide."""
    from datax_spark.operators.logreg import one_step_scores

    docs = _t(spark, sf_dir, "documents").withColumn(
        "y", (F.col("doc_id") % 5 == 0).cast("int")
    )
    out = one_step_scores(docs, "y")
    return out.select(F.col("id").alias("doc_id"), "score")


def q_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance resampling (operators/dsir.py): docs with
    doc_id % 5 == 0 stand in for the high-quality target corpus, the
    rest are the raw pool; hashed unigram+bigram bucket distributions
    (md5-prefix, 1024 buckets) give each raw doc a log importance
    weight, and Gumbel-top-60 (md5-derived noise — deterministic)
    samples the selection set proportional to the weights. Both bucket
    count tables are <=1024 rows and broadcast; the only corpus shuffle
    is the map-side-combined per-doc weight groupBy; selection is
    TakeOrdered (plan-asserted in tests/test_dsir.py)."""
    from datax_spark.operators.dsir import dsir_select

    docs = _t(spark, sf_dir, "documents")
    target = docs.filter(F.col("doc_id") % 5 == 0)
    raw = docs.filter(F.col("doc_id") % 5 != 0)
    return dsir_select(target, raw, n=60)


def q_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-aware train/val/test split (operators/splits.py): MinHash
    near-dup clusters (same pair graph as near_dup_clusters) each draw
    ONE md5 gate from the cluster id, so no near-duplicate pair
    straddles train and test. Component table broadcasts onto the
    corpus; singletons fall through to their own id via coalesce."""
    from datax_spark.operators.splits import leakage_safe_split

    return leakage_safe_split(_t(spark, sf_dir, "documents"))


def q_link_graph_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components of the link graph via alternating
    large-star/small-star contraction (operators/graph.py) — O(log² n)
    rounds on ANY diameter (label propagation needs diameter-many), two
    bounded shuffles per round, checksum-detected convergence. The
    oracle computes the same fixpoint with a recursive CTE."""
    from datax_spark.operators.graph import connected_components

    return connected_components(_synthetic_edges(_t(spark, sf_dir, "events")))


def q_corpus_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row corpus overview — the first query a data owner runs:
    doc/source/lang counts, whitespace-token budget, and the KMV
    estimate of distinct texts (the scale-safe dedup-rate signal: at
    100 TB the exact distinct is the cost this sketch avoids). Single
    scan + the k-row sketch fold."""
    from datax_spark.operators.sketches import kmv_distinct

    docs = _t(spark, sf_dir, "documents")
    base = docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_distinct("source").alias("n_sources"),
        F.count_distinct("lang").alias("n_langs"),
        F.sum(TXT.ws_token_count(F.col("text")).cast("bigint")).alias("total_ws_tokens"),
        F.round(F.avg("n_chars"), 2).alias("avg_chars"),
    )
    est = kmv_distinct(docs, "text", k=256).select(
        F.col("est_distinct").alias("distinct_text_est")
    )
    return base.crossJoin(est).select(
        "n_docs", "n_sources", "n_langs", "total_ws_tokens", "avg_chars",
        "distinct_text_est",
        F.round(F.lit(1.0) - F.col("distinct_text_est") / F.col("n_docs"), 4)
        .alias("dup_rate_est"),
    )


def q_trigram_like_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Indexed substring search (operators/trigram_index.py): pattern
    3-grams AND-intersected over the posting lists, exact contains
    verify on candidates only — the corpus is never scanned (the
    oracle IS the honest scan; results must be identical)."""
    from datax_spark.operators.trigram_index import like_search, trigram_postings

    docs = _t(spark, sf_dir, "documents")
    return like_search(docs, "merge batch", postings=trigram_postings(docs))


def q_trigram_index_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted trigram index (operators/trigram_index.TrigramIndex),
    built incrementally — half the corpus at build, half via add() —
    then probed: only the pattern grams' bucket partitions are read,
    and union-of-adds must equal the honest scan (the shared oracle)."""
    from datax_spark.operators.trigram_index import TrigramIndex

    docs = _t(spark, sf_dir, "documents")

    def _build(path):
        idx = TrigramIndex.build(
            docs.where(F.col("doc_id") % 2 == 0), path, n_buckets=32
        )
        idx.add(docs.where(F.col("doc_id") % 2 == 1))

    root = _ensure_diff_table(spark, sf_dir, "tgidx2", _build)
    return TrigramIndex(spark, root).search(docs, "merge batch")


def q_trigram_index_sync(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-MAINTAINED trigram index: same I/U/D epoch as
    bm25_index_sync (suffix-updated %7==0 docs, %7==3 deleted, three
    inserts — one of which matches the pattern), synced from the table
    changelog, then searched. The oracle is the honest contains-scan
    over the modified corpus — sync must neither miss the inserted
    match nor resurrect the deleted ones."""
    from datax_spark.icetable.table import IceTable
    from datax_spark.operators.merge import apply_epoch
    from datax_spark.operators.trigram_index import TrigramIndex

    docs = _t(spark, sf_dir, "documents").select(
        F.concat(F.lit("https://doc/"), F.col("doc_id")).alias("url"),
        "doc_id",
        "text",
    )

    def _build(path):
        tbl = IceTable.create(
            spark, path / "t", docs.schema, num_partitions=8, key_column="url"
        )
        tbl.bulk_overwrite(docs, epoch=0)
        idx = TrigramIndex.build_from_table(
            tbl, path / "idx", n_buckets=32, id_col="doc_id"
        )
        lsn = F.lit(10_000_000) + F.col("doc_id")
        upd = docs.filter(F.col("doc_id") % 7 == 0).select(
            "url", "doc_id",
            F.concat("text", F.lit(" refreshed retrieval section")).alias("text"),
            F.lit("U").alias("op"), lsn.alias("lsn"),
        )
        dels = docs.filter(F.col("doc_id") % 7 == 3).select(
            "url", "doc_id", F.lit(None).cast("string").alias("text"),
            F.lit("D").alias("op"), lsn.alias("lsn"),
        )
        ins = spark.createDataFrame(
            [
                ("https://doc/-1", -1, "a fresh merge batch arrival", "I", 20_000_001),
                ("https://doc/-2", -2, "fast hash join probe build", "I", 20_000_002),
                ("https://doc/-3", -3, "slow scan filter vector pipeline", "I", 20_000_003),
            ],
            "url string, doc_id long, text string, op string, lsn long",
        )
        apply_epoch(tbl, upd.unionByName(dels).unionByName(ins), epoch=1,
                    extract=False)
        idx.sync(tbl)

    root = _ensure_diff_table(spark, sf_dir, "tgsync", _build)
    tbl = IceTable.load(spark, root / "t")
    return TrigramIndex(spark, root / "idx").search(
        tbl.read().select("doc_id", "text"), "merge batch"
    )


def q_trigram_multi_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-pattern substring serving (trigram_index.multi_like_search):
    N LIKE predicates in ONE pruned pass — all patterns' grams read
    together, per-(pattern, doc) AND-intersection in one groupBy, one
    codegen verify — the content-filter / phrase-blocklist shape that
    would otherwise cost N corpus scans. One sub-3-char pattern rides
    the documented scan fallback. Oracle: the contains-join."""
    from datax_spark.operators.trigram_index import (
        multi_like_search,
        trigram_postings,
    )

    docs = _t(spark, sf_dir, "documents")
    pats = {0: "merge batch", 1: "spark", 2: "zz"}
    return multi_like_search(docs, pats, postings=trigram_postings(docs))


def q_masked_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Policy-masked serving view (functions/mask.py): source
    referentially-stable-hashed (joins still work), text masked to its
    last 4 chars — pure codegen projection over the unmasked plan, the
    share-with-less-privileged-consumers read."""
    from datax_spark.functions.mask import masked_view

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text", "source", "lang")
    return masked_view(docs, {"source": "hash", "text": "last4"})


def q_distinct_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV distinct-count sketch (operators/sketches.py): k smallest
    distinct md5 hashes of the document text → (k-1)/f(kth) estimate.
    Engine-neutral BY VALUE (any md5+sort engine reproduces the exact
    estimate, unlike HLL binaries) and mergeable (per-partition top-k,
    only k rows per partition reach the driver — the 100-TB cardinality
    plan)."""
    from datax_spark.operators.sketches import kmv_distinct

    return kmv_distinct(_t(spark, sf_dir, "documents"), "text", k=256)


def q_drift_psi_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population-stability-index drift (operators/drift.py) between the
    first and second half of the event log, per event_type: the CDC
    monitoring query ("did the event mix shift?"). One narrow groupBy
    per side + a |categories|-row join — corpus touched once per side."""
    from datax_spark.operators.drift import psi_split

    ev = _t(spark, sf_dir, "events")
    thr = ev.agg(F.max("event_id")).first()[0] // 2
    return psi_split(ev, "event_type", F.col("event_id") <= thr)


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "lww_latest_by_key": q_lww_latest_by_key,
    "lww_window_form": q_lww_window_form,
    "lineage_partition_agg": q_lineage_partition_agg,
    "merge_upsert_fullouter": q_merge_upsert_fullouter,
    "delete_anti_join": q_delete_anti_join,
    "affected_semi_join": q_affected_semi_join,
    "hash_bucket_histogram": q_hash_bucket_histogram,
    "filter_project_pushdown": q_filter_project_pushdown,
    "pricing_summary": q_pricing_summary,
    "topk_per_group": q_topk_per_group,
    "schema_evolution_union": q_schema_evolution_union,
    "rollup_agg": q_rollup_agg,
    "distinct_agg": q_distinct_agg,
    "correlated_avg_filter": q_correlated_avg_filter,
    "ordered_string_agg": q_ordered_string_agg,
    "sessionize_events": q_sessionize_events,
    "running_sum": q_running_sum,
    "dedup_exact": q_dedup_exact,
    "dedup_normalized": q_dedup_normalized,
    "dedup_minhash_lsh": q_dedup_minhash_lsh,
    "dedup_minhash_lsh_fast": q_dedup_minhash_lsh_fast,
    "simhash_hamming": q_simhash_hamming,
    "near_dup_clusters": q_near_dup_clusters,
    "dedup_simhash": q_dedup_simhash,
    "dedup_simhash64": q_dedup_simhash64,
    "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
    "dedup_embedding_cosine": q_dedup_embedding_cosine,
    "dedup_embedding_kmeans": q_dedup_embedding_kmeans,
    "dedup_embedding_lsh": q_dedup_embedding_lsh,
    "dedup_embedding_lsh_capped": q_dedup_embedding_lsh_capped,
    "dedup_embedding_lsh_prod": q_dedup_embedding_lsh_prod,
    "ann_bruteforce_topk": q_ann_bruteforce_topk,
    "ann_ivf_topk": q_ann_ivf_topk,
    "ann_ivf_trained_topk": q_ann_ivf_trained_topk,
    "ann_ivf_index_topk": q_ann_ivf_index_topk,
    "pq_codes": q_pq_codes,
    "ann_pq_adc_topk": q_ann_pq_adc_topk,
    "tokenize_vocab_encode": q_tokenize_vocab_encode,
    "embedding_quantize": q_embedding_quantize,
    "embedding_projection": q_embedding_projection,
    "text_stats": q_text_stats,
    "lang_id_confusion": q_lang_id_confusion,
    "doc_fingerprint": q_doc_fingerprint,
    "token_count_by_source": q_token_count_by_source,
    "curation_pipeline": q_curation_pipeline,
    "full_prep_pipeline": q_full_prep_pipeline,
    "full_prep_funnel": q_full_prep_funnel,
    "curation_funnel": q_curation_funnel,
    "line_dedup_corpus": q_line_dedup_corpus,
    "repetition_signals": q_repetition_signals,
    "gopher_quality": q_gopher_quality,
    "decontamination": q_decontamination,
    "dedup_minhash_incremental": q_dedup_minhash_incremental,
    "dedup_minhash_sync": q_dedup_minhash_sync,
    "join_view_sync": q_join_view_sync,
    "point_lookup": q_point_lookup,
    "url_canonicalize": q_url_canonicalize,
    "sample_deterministic": q_sample_deterministic,
    "token_budget_mix": q_token_budget_mix,
    "stratified_sample": q_stratified_sample,
    "pii_redaction": q_pii_redaction,
    "chunk_documents": q_chunk_documents,
    "pack_documents": q_pack_documents,
    "bm25_retrieval": q_bm25_retrieval,
    "bm25_index_topk": q_bm25_index_topk,
    "bm25_index_sync": q_bm25_index_sync,
    "duplicate_span_stats": q_duplicate_span_stats,
    "duplicate_span_removal": q_duplicate_span_removal,
    "frequency_quality_buckets": q_frequency_quality_buckets,
    "patch_fold": q_patch_fold,
    "intra_doc_line_dedup": q_intra_doc_line_dedup,
    "quality_classifier": q_quality_classifier,
    "bloom_membership": q_bloom_membership,
    "url_blocklist": q_url_blocklist,
    "mixing_weights": q_mixing_weights,
    "mixing_apply": q_mixing_apply,
    "length_quantiles": q_length_quantiles,
    "bpe_merges": q_bpe_merges,
    "lm_score_corpus": q_lm_score_corpus,
    "c4_line_clean": q_c4_line_clean,
    "profile_documents": q_profile_documents,
    "windowed_event_agg": q_windowed_event_agg,
    "asof_join_events": q_asof_join_events,
    "scd2_build": q_scd2_build,
    "unicode_nfc": q_unicode_nfc,
    "returned_item_ranking": q_returned_item_ranking,
    "clicked_never_purchased": q_clicked_never_purchased,
    "order_value_deciles": q_order_value_deciles,
    "customer_order_distribution": q_customer_order_distribution,
    "promo_revenue_share": q_promo_revenue_share,
    "supplier_variety": q_supplier_variety,
    "large_volume_customers": q_large_volume_customers,
    "brand_disjunctive_revenue": q_brand_disjunctive_revenue,
    "idle_wealthy_customers": q_idle_wealthy_customers,
    "event_transition_matrix": q_event_transition_matrix,
    "gap_fill_forward": q_gap_fill_forward,
    "link_graph_triangles": q_link_graph_triangles,
    "weighted_sample": q_weighted_sample,
    "recrawl_diff": q_recrawl_diff,
    "merge_into_clauses": q_merge_into_clauses,
    "changelog_feed": q_changelog_feed,
    "time_travel_read": q_time_travel_read,
    "incremental_read": q_incremental_read,
    "streaming_session_window": q_streaming_session_window,
    "event_pmi": q_event_pmi,
    "rfm_segments": q_rfm_segments,
    "debounce_events": q_debounce_events,
    "lang_source_chi2": q_lang_source_chi2,
    "conversion_time_quantiles": q_conversion_time_quantiles,
    "source_entropy": q_source_entropy,
    "distinct_kmv": q_distinct_kmv,
    "drift_psi_events": q_drift_psi_events,
    "link_graph_components": q_link_graph_components,
    "masked_documents": q_masked_documents,
    "trigram_like_search": q_trigram_like_search,
    "trigram_index_search": q_trigram_index_search,
    "trigram_index_sync": q_trigram_index_sync,
    "trigram_multi_search": q_trigram_multi_search,
    "corpus_report": q_corpus_report,
    "shipping_priority": q_shipping_priority,
    "local_supplier_volume": q_local_supplier_volume,
    "order_priority_exists": q_order_priority_exists,
    "error_burst_flags": q_error_burst_flags,
    "json_props_agg": q_json_props_agg,
    "ann_filtered_topk": q_ann_filtered_topk,
    "cohort_retention": q_cohort_retention,
    "funnel_sequence": q_funnel_sequence,
    "edit_distance_pairs": q_edit_distance_pairs,
    "trend_by_type": q_trend_by_type,
    "cube_agg": q_cube_agg,
    "interval_attribution": q_interval_attribution,
    "export_shard_plan": q_export_shard_plan,
    "expectations_report": q_expectations_report,
    "top_tokens": q_top_tokens,
    "tfidf_top_terms": q_tfidf_top_terms,
    "rolling_features": q_rolling_features,
    "zorder_key": q_zorder_key,
    "session_window_agg": q_session_window_agg,
    "hopping_window_agg": q_hopping_window_agg,
    "pivot_event_matrix": q_pivot_event_matrix,
    "anomaly_zscore": q_anomaly_zscore,
    "anomaly_iqr": q_anomaly_iqr,
    "link_graph_degree": q_link_graph_degree,
    "link_graph_pagerank": q_link_graph_pagerank,
    "transformer_chain": q_transformer_chain,
    "multimodal_meta": q_multimodal_meta,
    "multimodal_wav_roundtrip": q_multimodal_wav_roundtrip,
    "multimodal_png_roundtrip": q_multimodal_png_roundtrip,
    "nation_pair_volume": q_nation_pair_volume,
    "market_share": q_market_share,
    "profit_by_nation_year": q_profit_by_nation_year,
    "min_cost_supplier": q_min_cost_supplier,
    "important_parts": q_important_parts,
    "ship_delay_matrix": q_ship_delay_matrix,
    "top_supplier_revenue": q_top_supplier_revenue,
    "small_quantity_revenue": q_small_quantity_revenue,
    "excess_stock_suppliers": q_excess_stock_suppliers,
    "waiting_orders_blame": q_waiting_orders_blame,
    "incremental_view_maintain": q_incremental_view_maintain,
    "multires_rollup": q_multires_rollup,
    "autocorr_daily": q_autocorr_daily,
    "logreg_one_step": q_logreg_one_step,
    "dsir_select": q_dsir_select,
    "leakage_safe_split": q_leakage_safe_split,
    "cdc_final_state": q_cdc_final_state,
    "debezium_roundtrip": q_debezium_roundtrip,
}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return dict(QUERIES)


# --------------------------------------------------------------------------
# oracle SQL (DuckDB dialect-compatible ANSI)
# --------------------------------------------------------------------------

# shared CTE fragments for the dedup oracles
_TOK_CTE = """
tok AS (
  SELECT DISTINCT doc_id, t.tok
  FROM documents, unnest(string_split(text, ' ')) AS t(tok)
  WHERE t.tok <> ''
)"""

_JACCARD_TAIL = """
sizes AS (SELECT doc_id, count(*) AS n FROM {tokrel} GROUP BY doc_id),
inter AS (
  SELECT c.id_a, c.id_b, count(*) AS n_inter
  FROM cand c
  JOIN {tokrel} ta ON ta.doc_id = c.id_a
  JOIN {tokrel} tb ON tb.doc_id = c.id_b AND tb.tok = ta.tok
  GROUP BY c.id_a, c.id_b
)
SELECT i.id_a, i.id_b,
       round(CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter), 4) AS jaccard
FROM inter i
JOIN sizes sa ON sa.doc_id = i.id_a
JOIN sizes sb ON sb.doc_id = i.id_b
WHERE CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter) >= {threshold}"""


def _simhash_oracle() -> str:
    sums = ",\n    ".join(
        "sum(CASE WHEN substr(md5(tok), %d, 1) IN "
        "('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END) AS s%d" % (b + 1, b)
        for b in range(16)
    )
    bits = " || ".join(
        f"CASE WHEN s{b} > 0 THEN '1' ELSE '0' END" for b in range(16)
    )
    return f"""
WITH {_TOK_CTE.strip()},
sums AS (SELECT doc_id, {sums} FROM tok GROUP BY doc_id),
sh AS (SELECT doc_id, {bits} AS simhash FROM sums)
SELECT simhash, count(*) AS n_docs, min(doc_id) AS keep_id
FROM sh GROUP BY simhash"""


def _simhash_hamming_oracle(max_hamming: int = 3) -> str:
    sums = ",\n    ".join(
        "sum(CASE WHEN substr(md5(tok), %d, 1) IN "
        "('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END) AS s%d" % (b + 1, b)
        for b in range(16)
    )
    bits = " || ".join(
        f"CASE WHEN s{b} > 0 THEN '1' ELSE '0' END" for b in range(16)
    )
    blocks = ", ".join(
        f"'{b}:' || substr(simhash, {b * 4 + 1}, 4)" for b in range(4)
    )
    ham = " + ".join(
        f"(CASE WHEN substr(sh_a, {i + 1}, 1) <> substr(sh_b, {i + 1}, 1) "
        "THEN 1 ELSE 0 END)"
        for i in range(16)
    )
    return f"""
WITH {_TOK_CTE.strip()},
sums AS (SELECT doc_id, {sums} FROM tok GROUP BY doc_id),
sh AS (SELECT doc_id, {bits} AS simhash FROM sums),
blk AS (
  SELECT doc_id, simhash, u.block
  FROM sh, unnest([{blocks}]) AS u(block)
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         a.simhash AS sh_a, b.simhash AS sh_b
  FROM blk a JOIN blk b ON a.block = b.block AND a.doc_id < b.doc_id
)
SELECT id_a, id_b, CAST({ham} AS INTEGER) AS hamming
FROM cand WHERE {ham} <= {max_hamming}"""


def _minhash_pair_parts(src: str = "documents") -> tuple[str, str]:
    """(CTE chain, final pair SELECT) for the MinHash-LSH pair search —
    consumed whole by _minhash_oracle and as a prs CTE by the
    connected-components oracle (no string surgery on finished SQL).
    ``src`` swaps the corpus relation (the sync oracle tokenizes a
    modified-corpus CTE instead of the raw table)."""
    mins = ",\n    ".join(
        f"min(md5('{i}:' || tok)) AS mh{i}" for i in range(8)
    )
    bands = ",\n    ".join(
        f"md5(mh{2*b} || ',' || mh{2*b+1}) AS band{b}" for b in range(4)
    )
    buckets = ", ".join(f"'{b}:' || band{b}" for b in range(4))
    matches = " + ".join(
        f"(CASE WHEN sa.mh{i} = sb.mh{i} THEN 1 ELSE 0 END)" for i in range(8)
    )
    ctes = f"""{_TOK_CTE.strip().replace("FROM documents,", f"FROM {src},")},
sig AS (SELECT doc_id, {mins} FROM tok GROUP BY doc_id),
banded AS (SELECT doc_id, {bands} FROM sig),
bucket AS (
  SELECT doc_id, u.bucket FROM banded, unnest([{buckets}]) AS u(bucket)
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bucket a JOIN bucket b ON a.bucket = b.bucket AND a.doc_id < b.doc_id
)"""
    select = f"""SELECT c.id_a, c.id_b,
       round(CAST({matches} AS DOUBLE) / 8, 4) AS est_jaccard
FROM cand c
JOIN sig sa ON sa.doc_id = c.id_a
JOIN sig sb ON sb.doc_id = c.id_b
WHERE CAST({matches} AS DOUBLE) / 8 >= 0.7"""
    return ctes, select


def _minhash_oracle() -> str:
    ctes, select = _minhash_pair_parts()
    return f"\nWITH {ctes}\n{select}"


def _minhash_sync_oracle() -> str:
    """One-shot LSH pairs over the MODIFIED corpus, restricted to pairs
    involving at least one changed doc — exactly what sync() returns."""
    ctes, select = _minhash_pair_parts(src="docs2")
    return f"""
WITH docs2(doc_id, text) AS (
  SELECT doc_id,
         CASE WHEN doc_id % 7 = 0
              THEN text || ' refreshed retrieval section'
              ELSE text END
  FROM documents WHERE doc_id % 7 <> 3
  UNION ALL
  SELECT -doc_id - 1, text FROM documents WHERE doc_id % 101 = 5
),
changed(id) AS (
  SELECT doc_id FROM documents WHERE doc_id % 7 = 0
  UNION ALL
  SELECT -doc_id - 1 FROM documents WHERE doc_id % 101 = 5
),
{ctes}
{select}
  AND (c.id_a IN (SELECT id FROM changed)
       OR c.id_b IN (SELECT id FROM changed))"""


def _cc_parts() -> list[str]:
    """MinHash pair CTEs + exact connected components, as a parts list
    ending in comp(node, label) — shared by the connected-components
    and cluster-split oracles; queries using it must open with WITH
    RECURSIVE.

    Form: four UNROLLED min-label rounds (plain CTEs — linear work per
    round) collapse the dense near-dup components, then a recursive
    reachability FIXPOINT runs on the QUOTIENT graph (edges between
    surviving round-4 labels). The composition is exact on ANY
    topology — contraction by label-merging rounds preserves
    components, and the closure on the quotient finishes whatever the
    rounds didn't (a >16-hop chain still merges there), so the oracle
    keeps catching an engine that under-merges long chains. The
    earlier pure-closure form (walk from EVERY node) was exact too but
    blew up combinatorially on dense components: at sf0.1 the LSH
    graph has 5.6M pairs with near-clique components, and closure from
    all n clique members is Θ(n³) join rows per iteration — the
    sf0.1 board sweep found it 30+ GB deep and still iterating after
    35 minutes. Dense parts now collapse in the linear rounds and the
    quotient closure touches only cluster-representative labels."""
    ctes, pair_select = _minhash_pair_parts()
    parts = [
        ctes,
        f"prs AS MATERIALIZED ({pair_select})",
        """cnodes AS MATERIALIZED (
  SELECT DISTINCT id FROM (
    SELECT id_a AS id FROM prs UNION ALL SELECT id_b AS id FROM prs))""",
        """cbi AS MATERIALIZED (
  SELECT id_a AS src, id_b AS dst FROM prs
  UNION SELECT id_b AS src, id_a AS dst FROM prs)""",
        "lab0 AS MATERIALIZED (SELECT id AS node, id AS label FROM cnodes)",
    ]
    for k in range(1, 5):
        parts.append(f"""lab{k} AS MATERIALIZED (
  SELECT n.node, least(n.label, coalesce(m.minlab, n.label)) AS label
  FROM lab{k - 1} n LEFT JOIN (
    SELECT b.dst AS node, min(l.label) AS minlab
    FROM lab{k - 1} l JOIN cbi b ON b.src = l.node
    GROUP BY b.dst) m ON m.node = n.node)""")
    parts += [
        """qnodes AS MATERIALIZED (SELECT DISTINCT label AS id FROM lab4)""",
        """qedges AS MATERIALIZED (
  SELECT DISTINCT la.label AS src, lb.label AS dst
  FROM cbi b
  JOIN lab4 la ON la.node = b.src
  JOIN lab4 lb ON lb.node = b.dst
  WHERE la.label <> lb.label)""",
        """walk(node, reach) AS (
  SELECT id, id FROM qnodes
  UNION
  SELECT w.node, q.dst FROM walk w JOIN qedges q ON q.src = w.reach)""",
        """qcomp AS (
  SELECT node, min(reach) AS label FROM walk GROUP BY node)""",
        """comp AS (
  SELECT l.node, q.label FROM lab4 l JOIN qcomp q ON q.node = l.label)""",
    ]
    return parts


def _near_dup_clusters_oracle() -> str:
    """MinHash pair CTEs + recursive reachability fixpoint."""
    parts = _cc_parts()
    return (
        "WITH RECURSIVE "
        + ",\n".join(parts)
        + "\nSELECT node AS doc_id, label AS cluster_id FROM comp"
    )


def _cluster_split_oracle() -> str:
    """Near-dup clusters (shared fixpoint parts) → per-cluster md5 gate
    → train/val/test at (0.8, 0.1, 0.1)."""
    parts = _cc_parts()
    parts.append(
        """assigned AS (
  SELECT d.doc_id, coalesce(l.label, d.doc_id) AS cluster_id
  FROM documents d LEFT JOIN comp l ON l.node = d.doc_id)"""
    )
    parts.append(
        """gated AS (
  SELECT doc_id, cluster_id,
         CAST(concat('0x', substr(md5('split' || CAST(cluster_id AS VARCHAR)),
                                  1, 8)) AS BIGINT) % 10000 AS g
  FROM assigned)"""
    )
    return (
        "WITH RECURSIVE "
        + ",\n".join(parts)
        + """
SELECT doc_id, cluster_id,
       CASE WHEN g < 8000 THEN 'train'
            WHEN g < 9000 THEN 'val'
            ELSE 'test' END AS split
FROM gated"""
    )


def _ngram_oracle() -> str:
    return f"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS toks
  FROM documents
),
tp AS (
  SELECT doc_id, unnest(toks) AS tok, generate_subscripts(toks, 1) AS i
  FROM toks
),
sh AS (
  SELECT DISTINCT a.doc_id, a.tok || ' ' || b.tok || ' ' || c.tok AS tok
  FROM tp a
  JOIN tp b ON b.doc_id = a.doc_id AND b.i = a.i + 1
  JOIN tp c ON c.doc_id = a.doc_id AND c.i = a.i + 2
),
rare AS (
  SELECT tok FROM sh GROUP BY tok HAVING count(*) <= 50
),
shr AS (SELECT sh.doc_id, sh.tok FROM sh JOIN rare ON rare.tok = sh.tok),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM shr a JOIN shr b ON a.tok = b.tok AND a.doc_id < b.doc_id
),
{_JACCARD_TAIL.format(tokrel="sh", threshold=0.5).strip()}"""


def _sql_cos(a: str, b: str) -> str:
    return (
        f"list_dot_product({a}, {b}) / (sqrt(list_dot_product({a}, {a}))"
        f" * sqrt(list_dot_product({b}, {b})))"
    )


def _embedding_lsh_oracle(
    threshold: float, n_planes: int, n_bands: int, max_bucket: int | None = None
) -> str:
    """Mechanical unroll of operators/dedup.embedding_lsh_pairs: the same
    integer-quantized plane scores (floor(x*1000), signs from bit 13 of
    j*2654435761 + (p+1)*40503), the same band buckets, the same
    rounded-cosine verify — exact integer arithmetic end to end on the
    bucketing side, so both engines build identical candidate sets. With
    ``max_bucket``, oversized (band, bucket) groups switch to the star
    form (members pair only with the bucket's min-id representative),
    mirrored here with the same window count/min."""
    per_band = n_planes // n_bands
    score_cols = ",\n         ".join(
        f"sum(q * (1 - 2 * (((j * 2654435761 + {(p + 1) * 40503}) // 8192) % 2)))"
        f" AS s{p}"
        for p in range(n_planes)
    )
    band_selects = []
    for b in range(n_bands):
        bits = " + ".join(
            f"(CASE WHEN s{b * per_band + i} > 0 THEN {1 << i} ELSE 0 END)"
            for i in range(per_band)
        )
        band_selects.append(
            f"SELECT vec_id, {b} AS band, CAST({bits} AS BIGINT) AS bucket FROM scores"
        )
    buckets = "\n  UNION ALL\n  ".join(band_selects)
    if max_bucket is None:
        cand = """cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM buckets a JOIN buckets b
    ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id
)"""
    else:
        cand = f"""sized AS (
  SELECT vec_id, band, bucket,
         count(*) OVER (PARTITION BY band, bucket) AS n,
         min(vec_id) OVER (PARTITION BY band, bucket) AS rep
  FROM buckets
),
cand AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM sized a JOIN sized b
    ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id
  WHERE a.n <= {max_bucket}
  UNION
  SELECT rep AS id_a, vec_id AS id_b FROM sized
  WHERE n > {max_bucket} AND vec_id != rep
)"""
    cos = _sql_cos("ea.v", "eb.v")
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
dims AS (
  SELECT vec_id, j, CAST(floor(x * 1000) AS BIGINT) AS q
  FROM (SELECT vec_id, unnest(v) AS x, generate_subscripts(v, 1) AS j FROM e) t
),
scores AS (
  SELECT vec_id,
         {score_cols}
  FROM dims GROUP BY vec_id
),
buckets AS (
  {buckets}
),
{cand}
SELECT c.id_a, c.id_b, round({cos}, 4) AS cos_sim
FROM cand c
JOIN e ea ON ea.vec_id = c.id_a
JOIN e eb ON eb.vec_id = c.id_b
WHERE round({cos}, 4) >= {threshold}"""


#: SQL mirror of _embeddings_planted: one exact duplicate of vec 0 at
#: vec_id = -1 (column order vec_id, embedding, label)
_PLANTED_EMB = (
    "(SELECT * FROM embeddings UNION ALL "
    "SELECT CAST(-1 AS BIGINT), embedding, label "
    "FROM embeddings WHERE vec_id = 0)"
)


def _kmeans_ctes(
    n_cells: int, n_iter: int, base: str = "embeddings"
) -> tuple[list[str], str]:
    """Mechanical unroll of operators/similarity.train_kmeans_cells:
    init = lowest-id vectors (cells in id order), n_iter rounds of
    (assign via rounded-cosine argmax, recompute member-mean centroids).
    Every comparison goes through round(·, 6) with cell-id tie-break —
    the same guards the Spark side uses — so the discrete assignment
    sequence is engine-independent. Returns (CTE parts, name of the
    final assignment relation: (vec_id, v, cell))."""
    parts = [
        f"e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM {base})",
        f"""c0 AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cell, v AS centroid
  FROM e ORDER BY vec_id LIMIT {n_cells})""",
    ]
    for i in range(1, n_iter + 1):
        parts.append(
            f"""a{i} AS (SELECT vec_id, v, cell FROM (
  SELECT e.vec_id, e.v, c.cell,
         row_number() OVER (PARTITION BY e.vec_id
           ORDER BY round({_sql_cos('e.v', 'c.centroid')}, 6) DESC, c.cell ASC) AS rn
  FROM e CROSS JOIN c{i - 1} c) WHERE rn = 1)"""
        )
        parts.append(
            f"""comp{i} AS (
  SELECT cell, i AS pos, avg(x) AS avgv FROM (
    SELECT cell, unnest(v) AS x, generate_subscripts(v, 1) AS i FROM a{i}
  ) GROUP BY cell, i),
c{i} AS (SELECT cell, list(avgv ORDER BY pos) AS centroid FROM comp{i} GROUP BY cell)"""
        )
    return parts, f"a{n_iter}"


def _embedding_kmeans_oracle(
    threshold: float = 0.9, n_cells: int = 8, n_iter: int = 2
) -> str:
    """Near-dup pairs blocked by the trained k-means cell: the same
    unrolled training, then a per-cell self-join (thresholded on the
    4dp-rounded cosine, exactly like the Spark operator). Trains over
    the planted corpus so the contract row is non-vacuous."""
    parts, last = _kmeans_ctes(n_cells, n_iter, base=_PLANTED_EMB)
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round({_sql_cos('a.v', 'b.v')}, 4) AS cos_sim
FROM {last} a JOIN {last} b ON a.cell = b.cell AND a.vec_id < b.vec_id
WHERE round({_sql_cos('a.v', 'b.v')}, 4) >= {threshold}"""
    )


def _ivf_trained_oracle(n_cells: int = 8, n_iter: int = 2, k: int = 3) -> str:
    """Unrolled k-means (see _kmeans_ctes) + the ivf_topk probe: final
    centroids are member means of the last assignment."""
    cos = _sql_cos
    parts, last = _kmeans_ctes(n_cells, n_iter)
    parts = list(parts)
    parts.append("q AS (SELECT vec_id, v FROM e WHERE vec_id < 8)")
    parts.append(
        f"""assign AS (
  SELECT vec_id, cell AS probe_cell FROM (
    SELECT q.vec_id, c.cell,
           row_number() OVER (PARTITION BY q.vec_id
             ORDER BY round({cos('q.v', 'c.centroid')}, 6) DESC, c.cell ASC) AS rn
    FROM q CROSS JOIN c{n_iter} c) WHERE rn = 1)"""
    )
    parts.append(
        f"""scored AS (
  SELECT q.vec_id AS query_id, a.probe_cell, m.vec_id AS neighbor_id,
         {cos('q.v', 'm.v')} AS cs
  FROM q JOIN assign a ON a.vec_id = q.vec_id
  JOIN {last} m ON m.cell = a.probe_cell AND m.vec_id <> q.vec_id)"""
    )
    parts.append(
        """ranked AS (
  SELECT query_id, probe_cell, neighbor_id, cs,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(cs, 6) DESC, neighbor_id ASC) AS rank
  FROM scored)"""
    )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT query_id, CAST(probe_cell AS BIGINT) AS probe_cell, neighbor_id,
       round(cs, 4) AS cos_sim, rank
FROM ranked WHERE rank <= {k}"""
    )


def _lang_score_parts() -> tuple[str, str, str]:
    """The ONE SQL mirror of functions/text.py lang_id, shared by the
    lang_id_confusion and curation oracles: per-language marker-count
    score columns, the greatest() over them, and the argmax CASE with
    lang-code-order tie-break."""

    def marker_count(m: str) -> str:
        needle = f" {m} "
        return (
            f"CAST((length(' ' || text || ' ') - "
            f"length(replace(' ' || text || ' ', '{needle}', ''))) / {len(needle)} AS INT)"
        )

    score = {
        lang: " + ".join(marker_count(m) for m in markers)
        for lang, markers in TXT.LANG_MARKERS.items()
    }
    langs = sorted(score)
    scols = ", ".join(f"({score[lang]}) AS s_{lang}" for lang in langs)
    best = "greatest(" + ", ".join(f"s_{lang}" for lang in langs) + ")"
    case = "CASE " + " ".join(
        f"WHEN s_{lang} = best THEN '{lang}'" for lang in langs
    ) + " END"
    return scols, best, case


def _lang_id_sql_expr() -> str:
    """Mirror of functions/text.py lang_id: marker-count argmax with
    lang-code-order tie-break, 'und' when every score is 0."""
    scols, best, case = _lang_score_parts()
    return f"""
scored AS (SELECT lang, {scols}, text FROM documents),
best_t AS (SELECT lang, {best} AS best, * FROM scored),
pred AS (
  SELECT lang, CASE WHEN best > 0 THEN {case} ELSE 'und' END AS lang_pred
  FROM best_t
)"""


_STOPWORD_SQL = " + ".join(
    "CAST((length(' ' || lower(text) || ' ') - "
    f"length(replace(' ' || lower(text) || ' ', ' {s} ', ''))) / {len(s) + 2} AS INT)"
    for s in TXT.STOPWORDS_EN
)

_WS_TOK_SQL = "length(list_filter(string_split(text, ' '), t -> t <> ''))"
_REGEX_TOK_SQL = (
    r"length(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))"
)
_PUNCT_SQL = r"length(regexp_extract_all(text, '[^A-Za-z0-9\s]'))"

_QUALITY_SQL = f"""
round(CAST((
  (CASE WHEN length(text) >= 100 AND length(text) <= 20000 THEN 1.0 ELSE 0.3 END) * 0.3
  + (CASE WHEN (CASE WHEN {_WS_TOK_SQL} > 0
                THEN CAST(length(text) AS DOUBLE) / {_WS_TOK_SQL} ELSE 0.0 END) >= 3.0
         AND (CASE WHEN {_WS_TOK_SQL} > 0
                THEN CAST(length(text) AS DOUBLE) / {_WS_TOK_SQL} ELSE 0.0 END) <= 12.0
         THEN 1.0 ELSE 0.4 END) * 0.3
  + (CASE WHEN (CASE WHEN {_WS_TOK_SQL} > 0
                THEN CAST(({_STOPWORD_SQL}) AS DOUBLE) / {_WS_TOK_SQL} ELSE 0.0 END) >= 0.05
         THEN 1.0 ELSE 0.5 END) * 0.2
  + (CASE WHEN (CASE WHEN length(text) > 0
                THEN CAST({_PUNCT_SQL} AS DOUBLE) / length(text) ELSE 0.0 END) <= 0.2
         THEN 1.0 ELSE 0.2 END) * 0.2
) AS DOUBLE), 4)"""


_URL_RE = r"^([a-zA-Z][a-zA-Z0-9+.-]*)://([^/?#]*)([^?#]*)\??([^#]*)"

_URL_ORACLE = rf"""
WITH synth AS (
  SELECT doc_id,
         CASE WHEN doc_id % 97 = 0 THEN 'not_a_url' ELSE
           (CASE WHEN doc_id % 7 = 0 THEN 'http' ELSE 'HTTPS' END)
           || '://WWW.Site' || CAST(doc_id % 20 AS VARCHAR) || '.COM'
           || (CASE WHEN doc_id % 3 = 0 AND doc_id % 7 = 0 THEN ':80'
                    WHEN doc_id % 3 = 0 THEN ':443'
                    WHEN doc_id % 3 = 1 THEN ':8080' ELSE '' END)
           || (CASE WHEN doc_id % 4 = 0 THEN ''
                    ELSE '/p/' || CAST(doc_id AS VARCHAR) END)
           || (CASE WHEN doc_id % 5 = 0
                    THEN '?utm_source=feed&b=' || CAST(doc_id AS VARCHAR) || '&a=1'
                    WHEN doc_id % 5 = 1 THEN '?gclid=' || CAST(doc_id AS VARCHAR)
                    WHEN doc_id % 5 = 2 THEN '?z=2&y=1&utm_campaign=x' ELSE '' END)
           || (CASE WHEN doc_id % 2 = 0 THEN '#s' || CAST(doc_id AS VARCHAR) ELSE '' END)
         END AS raw_url
  FROM documents
),
parts AS (
  SELECT doc_id,
         lower(regexp_extract(u, '{_URL_RE}', 1)) AS scheme,
         lower(regexp_extract(u, '{_URL_RE}', 2)) AS rawhost,
         regexp_extract(u, '{_URL_RE}', 3) AS path,
         regexp_extract(u, '{_URL_RE}', 4) AS query
  FROM (SELECT doc_id, regexp_replace(trim(raw_url), '#.*$', '') AS u FROM synth) t
),
norm AS (
  SELECT doc_id, scheme,
         CASE WHEN scheme = 'http'
              THEN regexp_replace(regexp_replace(rawhost, '^www\.', ''), ':80$', '')
              WHEN scheme = 'https'
              THEN regexp_replace(regexp_replace(rawhost, '^www\.', ''), ':443$', '')
              ELSE regexp_replace(rawhost, '^www\.', '') END AS host,
         regexp_replace(regexp_replace(rawhost, '^www\.', ''), ':[0-9]+$', '') AS domain,
         CASE WHEN path = '' THEN '/' ELSE path END AS path,
         coalesce(array_to_string(list_sort(list_filter(string_split(query, '&'),
           p -> p <> ''
             AND left(string_split(p, '=')[1], 4) <> 'utm_'
             AND string_split(p, '=')[1] NOT IN ('gclid', 'fbclid', 'ref'))), '&'), '') AS q
  FROM parts
)
SELECT doc_id,
       CASE WHEN scheme <> '' AND host <> ''
            THEN scheme || '://' || host || path
                 || (CASE WHEN q = '' THEN '' ELSE '?' || q END)
            ELSE NULL END AS canon_url,
       domain
FROM norm"""


# the same mechanical re-lining q_line_dedup_corpus applies Spark-side
_RELINED_CTE = r"""relined AS (
  SELECT doc_id, regexp_replace(text, '((\S+ ){11}\S+) ', '\1' || chr(10), 'g') AS text
  FROM documents
)"""


def _curation_ctes(min_quality: float, langs: tuple[str, ...], src: str = "documents") -> str:
    """Shared CTE chain mirroring operators/curation._stages stage by
    stage: annotate (lang argmax + quality + token count) → lang/quality
    filter → exact dedup via row_number over the canon md5 → MinHash-LSH
    near-dup pairs (same construction as _minhash_oracle, over the
    deduped set) → drop the larger id of each pair."""
    scols, best, case = _lang_score_parts()
    lang_list = ", ".join(f"'{x}'" for x in langs)
    mins = ",\n    ".join(f"min(md5('{i}:' || tok)) AS mh{i}" for i in range(8))
    bands = ",\n    ".join(
        f"md5(mh{2 * b} || ',' || mh{2 * b + 1}) AS band{b}" for b in range(4)
    )
    buckets = ", ".join(f"'{b}:' || band{b}" for b in range(4))
    matches = " + ".join(
        f"(CASE WHEN sa.mh{i} = sb.mh{i} THEN 1 ELSE 0 END)" for i in range(8)
    )
    return f"""
scored AS (SELECT doc_id, source, text, {scols} FROM {src}),
best_t AS (SELECT *, {best} AS best FROM scored),
ann AS (
  SELECT doc_id, source, text,
         CASE WHEN best > 0 THEN {case} ELSE 'und' END AS lang_det,
         {_QUALITY_SQL} AS quality,
         CAST({_REGEX_TOK_SQL} AS BIGINT) AS n_tokens
  FROM best_t
),
filtered AS (
  SELECT * FROM ann
  WHERE quality >= {min_quality} AND lang_det IN ({lang_list})
),
exact AS (
  SELECT doc_id, source, text, lang_det, quality, n_tokens FROM (
    SELECT *, row_number() OVER (
      PARTITION BY md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
      ORDER BY doc_id
    ) AS rn FROM filtered
  ) WHERE rn = 1
),
tok AS (
  SELECT DISTINCT doc_id, t.tok
  FROM exact, unnest(string_split(text, ' ')) AS t(tok)
  WHERE t.tok <> ''
),
sig AS (SELECT doc_id, {mins} FROM tok GROUP BY doc_id),
banded AS (SELECT doc_id, {bands} FROM sig),
bucket AS (
  SELECT doc_id, u.bucket FROM banded, unnest([{buckets}]) AS u(bucket)
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bucket a JOIN bucket b ON a.bucket = b.bucket AND a.doc_id < b.doc_id
),
drops AS (
  SELECT DISTINCT c.id_b
  FROM cand c
  JOIN sig sa ON sa.doc_id = c.id_a
  JOIN sig sb ON sb.doc_id = c.id_b
  WHERE CAST({matches} AS DOUBLE) / 8 >= 0.7
),
kept AS (
  SELECT * FROM exact WHERE doc_id NOT IN (SELECT id_b FROM drops)
)"""


_GOPHER_PASS_SQL = """n_words BETWEEN 8 AND 100000
                  AND mean_word_len BETWEEN 3.0 AND 10.0
                  AND symbol_word_ratio <= 0.1
                  AND bullet_line_frac <= 0.9
                  AND ellipsis_line_frac <= 0.3
                  AND alpha_word_frac >= 0.8
                  AND n_stopwords >= 2"""


def _gopher_signals_ctes(src: str, extra_cols: str = "") -> str:
    """g/s CTE pair computing every gopher_signals expression over
    ``src`` (which must provide doc_id + text). Shared by the
    gopher_quality oracle and the full-prep chain."""
    nw = "len(toks)"
    nl = "len(lines)"
    div = "round(CASE WHEN {d} > 0 THEN CAST({n} AS DOUBLE) / {d} ELSE 0.0 END, 4)"
    mean_wl = div.format(n=r"length(regexp_replace(text, '\s', '', 'g'))", d=nw)
    n_sym = (
        r"(length(text) - length(replace(text, '#', ''))"
        r" + len(regexp_extract_all(text, '(\.\.\.|…)')))"
    )
    sym = div.format(n=n_sym, d=nw)
    bullet = div.format(
        n="len(list_filter(lines, x -> regexp_matches(trim(x), '^[-*•‣◦]')))", d=nl
    )
    ellip = div.format(
        n=r"len(list_filter(lines, x -> regexp_matches(trim(x), '(\.\.\.|…)$')))", d=nl
    )
    alpha = div.format(
        n="len(list_filter(toks, t -> regexp_matches(t, '[A-Za-z]')))", d=nw
    )
    return rf"""gph AS (
  SELECT doc_id, text,{extra_cols}
         list_filter(regexp_split_to_array(text, '\s+'), t -> t <> '') AS toks,
         list_filter(string_split(text, chr(10)), x -> trim(x) <> '') AS lines
  FROM {src}
),
gsig AS (
  SELECT doc_id,{extra_cols}
         CAST({nw} AS BIGINT) AS n_words,
         {mean_wl} AS mean_word_len,
         {sym} AS symbol_word_ratio,
         {bullet} AS bullet_line_frac,
         {ellip} AS ellipsis_line_frac,
         {alpha} AS alpha_word_frac,
         CAST({_STOPWORD_SQL} AS BIGINT) AS n_stopwords
  FROM gph
)"""


def _gopher_oracle() -> str:
    """Mirror of q_gopher_quality: every gopher_signals expression and
    the threshold verdict, over the same re-lined documents."""
    return f"""
WITH {_RELINED_CTE},
{_gopher_signals_ctes("relined").strip()}
SELECT *,
       CAST(CASE WHEN {_GOPHER_PASS_SQL}
             THEN 1 ELSE 0 END AS INTEGER) AS pass_flag
FROM gsig"""


def _gram3_ctes(prefix: str, src: str, where: str = "") -> str:
    """toks/tp/grams CTE triple: distinct positional 3-grams per doc of
    ``src`` (post-filter word positions, exactly functions/text.py
    word_ngrams) — THE shared builder for every oracle that n-gram-
    matches (decontamination, full-prep); a gram-semantics change moves
    all of them together."""
    return f"""{prefix}toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS toks
  FROM {src}{where}
),
{prefix}tp AS (
  SELECT doc_id, unnest(toks) AS tok, generate_subscripts(toks, 1) AS i
  FROM {prefix}toks
),
{prefix}grams AS (
  SELECT DISTINCT a.doc_id, a.tok || ' ' || b.tok || ' ' || c.tok AS gram
  FROM {prefix}tp a
  JOIN {prefix}tp b ON b.doc_id = a.doc_id AND b.i = a.i + 1
  JOIN {prefix}tp c ON c.doc_id = a.doc_id AND c.i = a.i + 2
)"""


def _decontamination_oracle() -> str:
    """Mirror of q_decontamination: the eval side is the doc_id % 37
    slice's distinct gram set."""
    return f"""
WITH {_gram3_ctes("", "documents").strip()},
bench AS (SELECT DISTINCT gram FROM grams WHERE doc_id % 37 = 0),
hits AS (
  SELECT g.doc_id, count(*) AS n_hit
  FROM grams g JOIN bench ON bench.gram = g.gram
  GROUP BY g.doc_id
)
SELECT d.doc_id,
       CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit_grams,
       CAST(CASE WHEN coalesce(h.n_hit, 0) > 0 THEN 1 ELSE 0 END AS INTEGER)
         AS contaminated
FROM documents d LEFT JOIN hits h ON h.doc_id = d.doc_id"""


def _pq_ctes() -> tuple[list[str], str, str]:
    """Mechanical unroll of operators/pq.train_pq + pq_encode: per-
    subspace L2 k-means (init = lowest-id subvectors, argmin over
    round(d², 6) with code tie-break, member-mean centroids), squared L2
    through the dot identity with the Spark operand order. Returns
    (CTE parts, final codebook rel, encode rel (vec_id, sub, code))."""
    m, kc, it, dim, _ = _PQ_DIMS
    sd = dim // m
    slices = "\n  UNION ALL\n  ".join(
        f"SELECT vec_id, {s} AS sub, (embedding::DOUBLE[])[{s * sd + 1}:{(s + 1) * sd}] AS sv"
        " FROM embeddings"
        for s in range(m)
    )
    parts = [f"esub AS (\n  {slices})"]
    parts.append(
        f"""pb0 AS (
  SELECT sub, code, sv AS centroid FROM (
    SELECT sub, sv, row_number() OVER (PARTITION BY sub ORDER BY vec_id) - 1 AS code
    FROM esub) WHERE code < {kc})"""
    )

    def d2(a: str, c: str) -> str:
        return (
            f"list_dot_product({a}, {a}) - 2.0 * list_dot_product({a}, {c})"
            f" + list_dot_product({c}, {c})"
        )

    assign = """p{out} AS (SELECT vec_id, sub, sv, code FROM (
  SELECT e.vec_id, e.sub, e.sv, c.code,
         row_number() OVER (PARTITION BY e.vec_id, e.sub
           ORDER BY round({dist}, 6) ASC, c.code ASC) AS rn
  FROM esub e JOIN pb{inn} c ON c.sub = e.sub) WHERE rn = 1)"""
    for i in range(1, it + 1):
        parts.append(assign.format(out=f"a{i}", inn=i - 1, dist=d2("e.sv", "c.centroid")))
        parts.append(
            f"""pcomp{i} AS (
  SELECT sub, code, i AS pos, avg(x) AS avgv FROM (
    SELECT sub, code, unnest(sv) AS x, generate_subscripts(sv, 1) AS i FROM pa{i}
  ) GROUP BY sub, code, i),
pb{i} AS (SELECT sub, code, list(avgv ORDER BY pos) AS centroid FROM pcomp{i} GROUP BY sub, code)"""
        )
    parts.append(assign.format(out="enc", inn=it, dist=d2("e.sv", "c.centroid")))
    return parts, f"pb{it}", "penc"


def _pq_codes_oracle() -> str:
    m = _PQ_DIMS[0]
    parts, _, enc = _pq_ctes()
    cols = ",\n       ".join(
        f"CAST(max(CASE WHEN sub = {s} THEN code END) AS INT) AS c{s}" for s in range(m)
    )
    return "WITH " + ",\n".join(parts) + f"""
SELECT vec_id,
       {cols}
FROM {enc} GROUP BY vec_id"""


def _pq_adc_oracle() -> str:
    m, kc, it, dim, k = _PQ_DIMS
    parts, cb, enc = _pq_ctes()
    dist = (
        "list_dot_product(q.sv, q.sv) - 2.0 * list_dot_product(q.sv, c.centroid)"
        " + list_dot_product(c.centroid, c.centroid)"
    )
    dcols = ",\n         ".join(
        f"max(CASE WHEN l.sub = {s} THEN l.pd END) AS dd{s}" for s in range(m)
    )
    total = " + ".join(f"dd{s}" for s in range(m))
    parts.append("q AS (SELECT vec_id, sub, sv FROM esub WHERE vec_id < 8)")
    parts.append(
        f"""lut AS (
  SELECT q.vec_id AS query_id, c.sub, c.code, {dist} AS pd
  FROM q JOIN {cb} c ON c.sub = q.sub)"""
    )
    parts.append(
        f"""pair AS (
  SELECT l.query_id, e.vec_id AS neighbor_id,
         {dcols}
  FROM {enc} e JOIN lut l ON l.sub = e.sub AND l.code = e.code
  GROUP BY l.query_id, e.vec_id)"""
    )
    parts.append(
        f"""ranked AS (
  SELECT query_id, neighbor_id, {total} AS ad,
         row_number() OVER (PARTITION BY query_id
           ORDER BY round({total}, 6) ASC, neighbor_id ASC) AS rank
  FROM pair WHERE query_id <> neighbor_id)"""
    )
    return "WITH " + ",\n".join(parts) + f"""
SELECT query_id, neighbor_id, round(ad, 4) AS approx_dist, rank
FROM ranked WHERE rank <= {k}"""


def _tokenize_oracle() -> str:
    size, oov = _VOCAB_DIMS
    return f"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS tk
  FROM documents
),
tp AS (
  SELECT doc_id, unnest(tk) AS tok,
         generate_subscripts(tk, 1) - 1 AS pos
  FROM toks
),
counts AS (SELECT tok, count(*) AS n FROM tp GROUP BY tok),
vocab AS (
  SELECT tok, token_id FROM (
    SELECT tok, row_number() OVER (ORDER BY n DESC, tok ASC) - 1 AS token_id
    FROM counts) WHERE token_id < {size}
)
SELECT tp.doc_id,
       CAST(tp.pos AS BIGINT) AS pos,
       CAST(coalesce(v.token_id,
            {size} + CAST(concat('0x', substr(md5(tp.tok), 1, 4)) AS BIGINT) % {oov})
         AS BIGINT) AS token_id,
       CAST(CASE WHEN v.token_id IS NULL THEN 1 ELSE 0 END AS INTEGER) AS is_oov
FROM tp LEFT JOIN vocab v ON v.tok = tp.tok"""


def _embedding_quantize_oracle() -> str:
    return """
WITH e AS (
  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings
),
s AS (
  SELECT vec_id,
         max(abs(x)) / 127.0 AS scale,
         sqrt(sum(x * x)) AS norm
  FROM e GROUP BY vec_id
),
q AS (
  SELECT e.vec_id, x, scale, norm,
         CASE WHEN scale > 0 THEN CAST(round(x / scale) AS INT) ELSE 0 END AS qi
  FROM e JOIN s USING (vec_id)
)
SELECT vec_id,
       round(any_value(norm), 4) AS norm,
       round(any_value(scale), 6) AS scale,
       CAST(sum(qi) AS BIGINT) AS q_sum,
       min(qi) AS q_min,
       max(qi) AS q_max,
       round(max(abs(x - qi * scale)), 4) AS max_err
FROM q GROUP BY vec_id"""


def _embedding_projection_oracle() -> str:
    """Generated from the SAME frozen sign matrix as the Spark plan —
    term order matches Python sum() left-association, so the double
    arithmetic is bit-identical before the 4dp round."""
    from datax_spark.functions.embedding import projection_signs

    di, do, seed = _PROJ_DIMS
    signs = projection_signs(di, do, seed)
    inv = repr(1.0 / (do ** 0.5))
    cols = ",\n       ".join(
        "round(("
        + " + ".join(
            f"CAST(embedding[{i + 1}] AS DOUBLE) * ({signs[j][i]})"
            for i in range(di)
        )
        + f") * {inv}, 4) AS p{j}"
        for j in range(do)
    )
    return f"SELECT vec_id,\n       {cols}\nFROM embeddings"


def _curation_pipeline_oracle() -> str:
    return f"""
WITH {_curation_ctes(0.8, ("en",)).strip()}
SELECT doc_id, source, lang_det, quality, n_tokens FROM kept"""


def _curation_funnel_oracle() -> str:
    stages = [("raw", "ann"), ("lang_quality", "filtered"),
              ("exact_dedup", "exact"), ("near_dup", "kept")]
    rows = "\nUNION ALL\n".join(
        f"SELECT CAST({i} AS INTEGER) AS stage_idx, '{name}' AS stage,"
        f" count(*) AS n_docs,"
        f" CAST(coalesce(sum(n_tokens), 0) AS BIGINT) AS n_tokens FROM {rel}"
        for i, (name, rel) in enumerate(stages)
    )
    return f"""
WITH {_curation_ctes(0.8, ("en",)).strip()}
{rows}"""


ORACLES: dict[str, str] = {
    "lww_latest_by_key": """
SELECT user_id, event_id, ts, event_type, value FROM (
  SELECT user_id, event_id, ts, event_type, value,
         row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
  FROM events
) WHERE rn = 1""",
    "lww_window_form": """
SELECT user_id, event_id, ts, event_type, value FROM (
  SELECT user_id, event_id, ts, event_type, value,
         row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
  FROM events
) WHERE rn = 1""",
    "lineage_partition_agg": """
SELECT user_id % 8 AS partition_id,
       count(*) AS rows_in,
       min(event_id) AS start_offset,
       max(event_id) AS lsn_watermark,
       round(sum(value), 2) AS sum_value
FROM events GROUP BY 1""",
    "merge_upsert_fullouter": """
WITH latest AS (
  SELECT o_custkey, o_orderkey, o_totalprice FROM (
    SELECT o_custkey, o_orderkey, o_totalprice,
           row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderkey DESC) AS rn
    FROM orders
  ) WHERE rn = 1
)
SELECT coalesce(c.c_custkey, l.o_custkey) AS cust_key,
       CASE WHEN c.c_custkey IS NULL THEN 'I'
            WHEN l.o_custkey IS NULL THEN 'K'
            ELSE 'U' END AS action,
       l.o_totalprice AS last_price,
       c.c_acctbal AS acctbal
FROM customer c FULL OUTER JOIN latest l ON c.c_custkey = l.o_custkey""",
    "delete_anti_join": """
SELECT c_custkey, c_name, c_acctbal FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)""",
    "affected_semi_join": """
SELECT p_partkey, p_name, p_retailprice FROM part p
WHERE EXISTS (
  SELECT 1 FROM lineitem l WHERE l.l_partkey = p.p_partkey AND l.l_quantity >= 49
)""",
    "hash_bucket_histogram": """
SELECT CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS BIGINT) % 32 AS bucket,
       count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM documents GROUP BY 1""",
    "filter_project_pushdown": """
SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
       count(*) AS n_rows
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount >= 0.05 AND l_discount <= 0.07
  AND l_quantity < 24""",
    "pricing_summary": """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
       round(avg(l_quantity), 2) AS avg_qty,
       round(avg(l_discount), 4) AS avg_disc,
       count(*) AS count_order
FROM lineitem GROUP BY l_returnflag, l_linestatus""",
    "topk_per_group": """
SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
  FROM orders
) WHERE rn <= 2""",
    "schema_evolution_union": """
WITH both_b AS (
  SELECT o_orderkey, o_totalprice, CAST(NULL AS VARCHAR) AS o_orderpriority
  FROM orders WHERE o_orderkey % 2 = 0
  UNION ALL
  SELECT o_orderkey, o_totalprice, o_orderpriority
  FROM orders WHERE o_orderkey % 2 = 1
)
SELECT o_orderpriority, count(*) AS n_rows,
       round(sum(o_totalprice), 2) AS sum_price
FROM both_b GROUP BY o_orderpriority""",
    "rollup_agg": """
SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
       round(sum(l_extendedprice), 2) AS sum_price
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""",
    "distinct_agg": """
SELECT l_returnflag,
       count(DISTINCT l_suppkey) AS n_supp,
       count(DISTINCT l_partkey) AS n_part,
       count(*) AS n_rows
FROM lineitem GROUP BY l_returnflag""",
    "correlated_avg_filter": """
SELECT c_custkey, c_nationkey, c_acctbal,
       round(nation_avg, 2) AS nation_avg_bal
FROM (
  SELECT c_custkey, c_nationkey, c_acctbal,
         avg(c_acctbal) OVER (PARTITION BY c_nationkey) AS nation_avg
  FROM customer
) WHERE c_acctbal > nation_avg""",
    "ordered_string_agg": """
SELECT n_regionkey,
       string_agg(n_name, ',' ORDER BY n_name) AS nations,
       count(*) AS n_nations
FROM nation GROUP BY n_regionkey""",
    "sessionize_events": """
WITH g AS (
  SELECT user_id, event_id, ts, value,
         CASE WHEN lag(epoch(ts)) OVER w IS NULL
                OR epoch(ts) - lag(epoch(ts)) OVER w > 1800
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
s AS (
  SELECT user_id, event_id, value,
         CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
  FROM g
)
SELECT user_id, session_idx, count(*) AS n_events,
       min(event_id) AS first_event, max(event_id) AS last_event,
       round(sum(value), 2) AS sum_value
FROM s GROUP BY user_id, session_idx""",
    "running_sum": """
SELECT user_id, event_id,
       round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING), 2) AS running_value
FROM events""",
    "dedup_exact": """
SELECT md5(text) AS text_md5, count(*) AS n_docs, min(doc_id) AS keep_id
FROM documents GROUP BY 1""",
    "dedup_normalized": """
SELECT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS canon_md5,
       count(*) AS n_docs, min(doc_id) AS keep_id
FROM documents GROUP BY 1""",
    "dedup_minhash_lsh": _minhash_oracle(),
    # the incremental index's contract IS one-shot equivalence: same SQL
    "dedup_minhash_incremental": _minhash_oracle(),
    "dedup_minhash_sync": _minhash_sync_oracle(),
    "point_lookup": """
SELECT 'https://doc/' || doc_id AS url, doc_id, text
FROM documents WHERE doc_id IN (1, 5, 9)""",
    "join_view_sync": """
WITH a2 AS (
  SELECT 'https://doc/' || doc_id AS url, doc_id,
         CASE WHEN doc_id % 7 = 0
              THEN text || ' refreshed retrieval section'
              ELSE text END AS text
  FROM documents WHERE doc_id % 7 <> 3
),
b2 AS (
  SELECT 'https://doc/' || doc_id AS url,
         CASE WHEN doc_id % 11 = 0 AND doc_id % 5 <> 1
              THEN 'xx' ELSE lang END AS lang,
         source
  FROM documents WHERE doc_id % 2 = 0 AND doc_id % 5 <> 1
)
SELECT a2.url, a2.doc_id, a2.text, b2.lang, b2.source
FROM a2 JOIN b2 USING (url)""",
    "near_dup_clusters": _near_dup_clusters_oracle(),
    "simhash_hamming": _simhash_hamming_oracle(),
    "gopher_quality": _gopher_oracle(),
    "tokenize_vocab_encode": _tokenize_oracle(),
    "embedding_quantize": _embedding_quantize_oracle(),
    "pq_codes": _pq_codes_oracle(),
    "ann_pq_adc_topk": _pq_adc_oracle(),
    "embedding_projection": _embedding_projection_oracle(),
    "decontamination": _decontamination_oracle(),
    "dedup_embedding_kmeans": _embedding_kmeans_oracle(0.9, 8, 2),
    "dedup_embedding_lsh": _embedding_lsh_oracle(0.4, 16, 4),
    "dedup_embedding_lsh_capped": _embedding_lsh_oracle(0.4, 16, 4, max_bucket=16),
    "dedup_embedding_lsh_prod": _embedding_lsh_oracle(0.4, 32, 4),
    "dedup_simhash": _simhash_oracle(),
    "dedup_ngram_jaccard": _ngram_oracle(),
    "dedup_embedding_cosine": f"""
WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM {_PLANTED_EMB})
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_dot_product(a.v, b.v)
             / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 4)
         AS cos_sim
FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE list_dot_product(a.v, b.v)
      / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.9""",
    "ann_bruteforce_topk": """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT vec_id, v FROM e WHERE vec_id < 8),
scored AS (
  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
         list_dot_product(q.v, e.v)
           / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(e.v, e.v)))
           AS cs
  FROM q JOIN e ON q.vec_id <> e.vec_id
),
ranked AS (
  SELECT query_id, neighbor_id, cs,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(cs, 6) DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, round(cs, 4) AS cos_sim, rank
FROM ranked WHERE rank <= 5""",
    "ann_ivf_topk": """
WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
comp AS (
  SELECT label, i AS pos, avg(x) AS avgv FROM (
    SELECT label, unnest(v) AS x, generate_subscripts(v, 1) AS i FROM e
  ) GROUP BY label, i
),
cent AS (
  SELECT label, list(avgv ORDER BY pos) AS c FROM comp GROUP BY label
),
q AS (SELECT vec_id, v FROM e WHERE vec_id < 8),
assign AS (
  SELECT vec_id, label AS probe_cell FROM (
    SELECT q.vec_id, cent.label,
           row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY round(list_dot_product(q.v, cent.c)
               / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(cent.c, cent.c))), 6) DESC,
             cent.label ASC) AS rn
    FROM q CROSS JOIN cent
  ) WHERE rn = 1
),
scored AS (
  SELECT q.vec_id AS query_id, a.probe_cell AS probe_cell, e.vec_id AS neighbor_id,
         list_dot_product(q.v, e.v)
           / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(e.v, e.v))) AS cs
  FROM q JOIN assign a ON a.vec_id = q.vec_id
  JOIN e ON e.label = a.probe_cell AND e.vec_id <> q.vec_id
),
ranked AS (
  SELECT query_id, probe_cell, neighbor_id, cs,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(cs, 6) DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, probe_cell, neighbor_id, round(cs, 4) AS cos_sim, rank
FROM ranked WHERE rank <= 3""",
    "ann_ivf_trained_topk": _ivf_trained_oracle(n_cells=8, n_iter=2, k=3),
    "ann_ivf_index_topk": _ivf_trained_oracle(n_cells=8, n_iter=2, k=3),
    "text_stats": f"""
SELECT doc_id,
       {_WS_TOK_SQL} AS n_ws_tokens,
       {_REGEX_TOK_SQL} AS n_regex_tokens,
       {_PUNCT_SQL} AS n_punct,
       {_QUALITY_SQL} AS quality
FROM documents""",
    "lang_id_confusion": f"""
WITH {_lang_id_sql_expr().strip()}
SELECT lang_pred, lang, count(*) AS n_docs FROM pred GROUP BY 1, 2""",
    "doc_fingerprint": """
SELECT doc_id,
       md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
FROM documents""",
    "token_count_by_source": f"""
SELECT source, count(*) AS n_docs,
       CAST(sum({_WS_TOK_SQL}) AS BIGINT) AS total_ws_tokens,
       CAST(sum({_REGEX_TOK_SQL}) AS BIGINT) AS total_regex_tokens,
       round(avg(n_chars), 2) AS avg_chars
FROM documents GROUP BY source""",
    "curation_pipeline": _curation_pipeline_oracle(),
    "full_prep_pipeline": _full_prep_oracle(),
    "full_prep_funnel": _full_prep_funnel_oracle(),
    "curation_funnel": _curation_funnel_oracle(),
    "url_canonicalize": _URL_ORACLE,
    "pii_redaction": _pii_oracle(),
    "chunk_documents": """
WITH toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS tk
  FROM documents
),
nz AS (SELECT * FROM toks WHERE len(tk) > 0),
starts AS (
  SELECT doc_id, tk,
         [s FOR s IN generate_series(0, greatest(len(tk) - 1, 0), 18)
            IF s = 0 OR s + 6 < len(tk)] AS ss
  FROM nz
),
ch AS (
  SELECT doc_id, tk, unnest(ss) AS s,
         generate_subscripts(ss, 1) - 1 AS chunk_idx
  FROM starts
)
SELECT doc_id, CAST(chunk_idx AS INTEGER) AS chunk_idx,
       array_to_string(list_slice(tk, s + 1, s + 24), ' ') AS chunk_text,
       CAST(len(list_slice(tk, s + 1, s + 24)) AS BIGINT) AS n_chunk_tokens
FROM ch""",
    "pack_documents": f"""
WITH ann AS (
  SELECT doc_id, source, CAST({_WS_TOK_SQL} AS BIGINT) AS n_tokens
  FROM documents
),
tagged AS (
  SELECT *, CAST(floor((sum(n_tokens) OVER (
    PARTITION BY source ORDER BY doc_id ROWS UNBOUNDED PRECEDING
  ) - n_tokens) / 600.0) AS BIGINT) AS pack_id
  FROM ann
)
SELECT source, pack_id, count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       min(doc_id) AS first_doc, max(doc_id) AS last_doc
FROM tagged GROUP BY source, pack_id""",
    "sample_deterministic": """
SELECT doc_id, source, n_chars FROM documents
WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 6) < '400000'""",
    "stratified_sample": """
SELECT doc_id, source FROM documents
WHERE CASE
  WHEN source = 'src0' THEN TRUE
  WHEN source = 'src1' THEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 6) < '800000'
  WHEN source = 'src2' THEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 6) < '199999'
  ELSE FALSE END""",
    "token_budget_mix": f"""
WITH ann AS (
  SELECT doc_id, source,
         CAST({_REGEX_TOK_SQL} AS BIGINT) AS n_tokens,
         {_QUALITY_SQL} AS quality
  FROM documents
),
cum AS (
  SELECT *, CAST(sum(n_tokens) OVER (
    PARTITION BY source ORDER BY quality DESC, doc_id
    ROWS UNBOUNDED PRECEDING
  ) AS BIGINT) AS cum_tokens
  FROM ann
)
SELECT doc_id, source, n_tokens, quality, cum_tokens
FROM cum WHERE cum_tokens - n_tokens < 600""",
    "line_dedup_corpus": f"""
WITH {_RELINED_CTE},
lines AS (
  SELECT t.doc_id, t.line, t.pos
  FROM (
    SELECT doc_id, unnest(string_split(text, chr(10))) AS line,
           generate_subscripts(string_split(text, chr(10)), 1) AS pos
    FROM relined
  ) t(doc_id, line, pos)
  WHERE trim(t.line) <> ''
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY md5(line) ORDER BY doc_id, pos) AS rn
  FROM lines
),
grouped AS (
  SELECT doc_id,
         string_agg(CASE WHEN rn = 1 THEN line END, chr(10) ORDER BY pos) AS text,
         CAST(count(*) FILTER (rn = 1) AS BIGINT) AS n_lines_kept,
         CAST(count(*) FILTER (rn > 1) AS BIGINT) AS n_lines_dropped
  FROM ranked GROUP BY doc_id
  HAVING count(*) FILTER (rn = 1) > 0
)
SELECT g.doc_id, g.text, g.n_lines_kept, g.n_lines_dropped,
       d.lang, d.source, d.n_chars
FROM grouped g JOIN documents d USING (doc_id)""",
    "repetition_signals": f"""
WITH {_RELINED_CTE},
toks AS (
  SELECT doc_id, text,
         list_filter(string_split(text, ' '), t -> t <> '') AS tk
  FROM relined
),
grams AS (
  SELECT doc_id,
         unnest([tk[i] || ' ' || tk[i + 1] FOR i IN generate_series(1, len(tk) - 1)]) AS g
  FROM toks WHERE len(tk) >= 2
),
gc AS (
  SELECT doc_id, max(c) AS top, sum(c) AS total
  FROM (SELECT doc_id, g, count(*) AS c FROM grams GROUP BY 1, 2)
  GROUP BY 1
),
ls AS (
  SELECT doc_id,
         list_filter(string_split(text, chr(10)), l -> trim(l) <> '') AS lns
  FROM relined
)
SELECT ls.doc_id,
       coalesce(round(CAST(gc.top AS DOUBLE) / gc.total, 4), 0.0) AS top_2gram_frac,
       CASE WHEN len(lns) > 0
            THEN round(1 - CAST(len(list_distinct(lns)) AS DOUBLE) / len(lns), 4)
            ELSE 0.0 END AS dup_line_frac
FROM ls LEFT JOIN gc ON gc.doc_id = ls.doc_id""",
    "bm25_retrieval": """
WITH q(query_id, query) AS (
  VALUES (CAST(0 AS BIGINT), 'spark merge window'),
         (1, 'fast hash join'),
         (2, 'slow scan filter vector')),
tok AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                     t -> t <> '') AS tk
  FROM documents
),
dterm AS (SELECT doc_id, len(tk) AS dl, unnest(tk) AS term FROM tok),
qterm AS (
  SELECT DISTINCT query_id, term FROM (
    SELECT query_id,
           unnest(list_filter(string_split_regex(lower(query), '[^a-z0-9]+'),
                              t -> t <> '')) AS term
    FROM q)
),
tf AS (
  SELECT doc_id, dl, term, count(*) AS tf FROM dterm
  WHERE term IN (SELECT term FROM qterm)
  GROUP BY 1, 2, 3
),
stats AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(len(tk)) AS avgdl FROM tok),
idf AS (
  SELECT term, ln(1 + (n - df + 0.5) / (df + 0.5)) AS idf, avgdl
  FROM (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY 1)
  CROSS JOIN stats
),
scored AS (
  SELECT query_id, doc_id,
         round(sum(idf * (tf * 2.2) / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))), 4) AS score
  FROM tf JOIN idf USING (term) JOIN qterm USING (term)
  GROUP BY 1, 2
)
SELECT query_id, doc_id, score,
       CAST(row_number() OVER (
         PARTITION BY query_id ORDER BY score DESC, doc_id ASC
       ) AS BIGINT) AS rank
FROM scored QUALIFY rank <= 5""",
    "duplicate_span_stats": """
WITH tok AS (
  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS tk
  FROM documents
),
sp AS (
  SELECT doc_id,
         unnest([md5(array_to_string(tk[i:i+8-1], ' '))
                 FOR i IN generate_series(1, len(tk) - 8 + 1)]) AS h
  FROM tok WHERE len(tk) >= 8
),
dup AS (SELECT h FROM sp GROUP BY h HAVING count(*) > 1),
per_doc AS (
  SELECT doc_id, count(*) AS n_dup FROM sp
  WHERE h IN (SELECT h FROM dup) GROUP BY doc_id
)
SELECT t.doc_id,
       CAST(greatest(len(tk) - 8 + 1, 0) AS BIGINT) AS n_windows,
       CAST(coalesce(p.n_dup, 0) AS BIGINT) AS n_dup_windows,
       CASE WHEN len(tk) >= 8
            THEN round(CAST(coalesce(p.n_dup, 0) AS DOUBLE)
                       / (len(tk) - 8 + 1), 4)
            ELSE 0.0 END AS dup_frac
FROM tok t LEFT JOIN per_doc p USING (doc_id)""",
    "duplicate_span_removal": """
WITH tok AS (
  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS tk
  FROM documents
),
sp AS (
  SELECT doc_id, u.pos AS pos, u.h AS h FROM (
    SELECT doc_id,
           unnest([{'pos': i - 1, 'h': md5(array_to_string(tk[i:i+8-1], ' '))}
                   FOR i IN generate_series(1, len(tk) - 8 + 1)]) AS u
    FROM tok WHERE len(tk) >= 8)
),
keeper AS (
  SELECT h, min(doc_id * 1000000 + pos) AS keep_key
  FROM sp GROUP BY h HAVING count(*) > 1
),
cuts AS (
  SELECT doc_id, list_sort(list(pos)) AS cut_starts
  FROM sp JOIN keeper USING (h)
  WHERE doc_id * 1000000 + pos <> keep_key
  GROUP BY doc_id
),
joined AS (
  SELECT t.doc_id, t.tk, coalesce(c.cut_starts, []) AS cs
  FROM tok t LEFT JOIN cuts c USING (doc_id)
),
kept AS (
  SELECT doc_id, tk,
         [tk[j] FOR j IN generate_series(1, len(tk))
          IF len(list_filter(cs, s -> s <= j - 1 AND j - 1 < s + 8)) = 0] AS kt
  FROM joined
)
SELECT doc_id, coalesce(array_to_string(kt, ' '), '') AS text,
       CAST(len(kt) AS BIGINT) AS n_tokens_kept,
       CAST(len(tk) - len(kt) AS BIGINT) AS n_tokens_cut
FROM kept""",
    "frequency_quality_buckets": """
WITH tok AS (
  SELECT doc_id,
         unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS tok
  FROM documents
),
freqs AS (
  SELECT tok, count(*) AS n FROM tok GROUP BY 1
  ORDER BY n DESC, tok ASC LIMIT 4096
),
scored AS (
  SELECT t.doc_id, round(avg(ln(1 + coalesce(f.n, 0))), 4) AS score
  FROM tok t LEFT JOIN freqs f USING (tok) GROUP BY 1
)
SELECT doc_id, score,
       CAST(ntile(3) OVER (ORDER BY score DESC, doc_id ASC) AS INTEGER) AS bucket
FROM scored""",
    "patch_fold": """
WITH ev AS (
  SELECT CASE WHEN event_id % 11 = 0 THEN 'D'
              WHEN event_id % 2 = 0 THEN 'U' ELSE 'I' END AS op,
         user_id, event_id AS lsn,
         CASE WHEN event_id % 11 <> 0 AND event_id % 2 = 0 AND event_id % 3 = 0
              THEN NULL ELSE value END AS value,
         CASE WHEN event_id % 11 <> 0 AND event_id % 2 = 0 AND event_id % 5 = 0
              THEN NULL ELSE props END AS props
  FROM events
),
bnd AS (
  SELECT user_id,
         max(lsn) FILTER (WHERE op IN ('I','D')) AS b,
         arg_max(op, lsn) FILTER (WHERE op IN ('I','D')) AS lo,
         max(lsn) FILTER (WHERE op = 'U') AS mu,
         max(lsn) AS ml
  FROM ev GROUP BY 1
),
folded AS (
  SELECT e.user_id,
         arg_max(e.value, e.lsn) FILTER (WHERE e.op <> 'D'
           AND (x.b IS NULL OR e.lsn >= x.b) AND e.value IS NOT NULL) AS value,
         arg_max(e.props, e.lsn) FILTER (WHERE e.op <> 'D'
           AND (x.b IS NULL OR e.lsn >= x.b) AND e.props IS NOT NULL) AS props,
         any_value(x.b) AS b, any_value(x.lo) AS lo,
         any_value(x.mu) AS mu, any_value(x.ml) AS ml
  FROM ev e JOIN bnd x USING (user_id) GROUP BY 1
)
SELECT user_id, value, props, ml AS lsn
FROM folded WHERE b IS NULL OR lo = 'I' OR mu > b""",
    "intra_doc_line_dedup": f"""
WITH {_RELINED_CTE},
l AS (
  SELECT doc_id,
         list_filter(string_split(text, chr(10)), x -> trim(x) <> '') AS ls
  FROM relined
),
k AS (
  SELECT doc_id, ls,
         list_filter(range(1, len(ls) + 1),
                     i -> list_position(ls, ls[i]) = i) AS sel
  FROM l
)
SELECT doc_id,
       array_to_string(list_select(ls, sel), chr(10)) AS text,
       CAST(len(sel) AS BIGINT) AS n_lines_kept,
       CAST(len(ls) - len(sel) AS BIGINT) AS n_lines_dropped
FROM k""",
    "quality_classifier": r"""
WITH t AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '\s+'),
                     x -> x <> '') AS toks
  FROM documents
),
s AS (
  SELECT doc_id,
         CASE WHEN len(toks) > 0 THEN
           list_aggregate(list_transform(toks, x ->
             ((CAST(concat('0x', substr(md5('qclf' || x), 1, 8)) AS BIGINT)
               % 1024) * 48271 % 65537) / 65537.0 - 0.5
           ), 'sum') / len(toks)
         ELSE 0.0 END AS logit
  FROM t
)
SELECT doc_id, round(logit, 4) AS score, CAST(logit > 0 AS INT) AS keep
FROM s""",
    "bloom_membership": """
WITH corpus AS (SELECT * FROM documents WHERE doc_id % 2 = 0),
batch AS (SELECT * FROM documents WHERE doc_id % 2 = 1),
bterms AS (
  SELECT CAST(concat('0x', substr(md5(text), 1, 8)) AS BIGINT) % 1024 AS block,
         (1::BIGINT << CAST(CAST(concat('0x', substr(md5(text), 9, 8)) AS BIGINT) % 63 AS INT))
         | (1::BIGINT << CAST(CAST(concat('0x', substr(md5(text), 17, 8)) AS BIGINT) % 63 AS INT)) AS bits
  FROM corpus
),
bloom AS (SELECT block, bit_or(bits) AS word FROM bterms GROUP BY 1),
probe AS (
  SELECT doc_id, text,
         CAST(concat('0x', substr(md5(text), 1, 8)) AS BIGINT) % 1024 AS block,
         (1::BIGINT << CAST(CAST(concat('0x', substr(md5(text), 9, 8)) AS BIGINT) % 63 AS INT))
         | (1::BIGINT << CAST(CAST(concat('0x', substr(md5(text), 17, 8)) AS BIGINT) % 63 AS INT)) AS bits
  FROM batch
),
flags AS (
  SELECT p.doc_id, p.text,
         (w.word IS NOT NULL AND (w.word & p.bits) = p.bits) AS bloom_hit
  FROM probe p LEFT JOIN bloom w ON p.block = w.block
)
SELECT doc_id, CAST(bloom_hit AS INT) AS bloom_hit,
       CAST(bloom_hit AND EXISTS (
         SELECT 1 FROM corpus c WHERE md5(c.text) = md5(f.text)
       ) AS INT) AS exact_dup
FROM flags f""",
    "url_blocklist": """
SELECT doc_id,
  CASE WHEN doc_id % 50 = 0
       THEN 'https://deep.sub.blocked.org/x/' || CAST(doc_id AS VARCHAR)
       ELSE 'https://' || source || '.example.com/p/' || CAST(doc_id AS VARCHAR)
  END AS canon_url,
  CASE WHEN doc_id % 50 = 0 THEN 'blocked_domain'
       WHEN source IN ('src3', 'src7', 'src13', 'src17') THEN 'blocked_domain'
       WHEN regexp_matches(CAST(doc_id AS VARCHAR), '9$') THEN 'blocked_pattern'
       ELSE 'kept'
  END AS verdict
FROM documents""",
    "mixing_weights": """
WITH s AS (
  SELECT source,
         CAST(SUM(len(list_filter(string_split(text, ' '), x -> x <> ''))) AS BIGINT) AS tokens
  FROM documents GROUP BY 1
),
t AS (
  SELECT source, tokens,
         tokens / CAST(SUM(tokens) OVER () AS DOUBLE) AS natural_share,
         1.0 / COUNT(*) OVER () AS target_share
  FROM s
),
r AS (
  SELECT *, CASE WHEN natural_share > 0
                 THEN target_share / natural_share ELSE 0.0 END AS ratio
  FROM t
)
SELECT source, tokens,
       round(natural_share, 6) AS natural_share,
       round(target_share, 6) AS target_share,
       round(CASE WHEN mr > 0 THEN least(1.0, ratio / mr) ELSE 0.0 END, 6) AS sample_p
FROM (SELECT *, MAX(ratio) OVER () AS mr FROM r)""",
    "lm_score_corpus": """
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '\\s+'),
                     x -> x <> '') AS ts
  FROM documents
),
bg AS (
  SELECT doc_id, ts[i] AS l, ts[i + 1] AS r
  FROM toks, UNNEST(range(1, greatest(len(ts), 1))) AS u(i)
),
counts AS (SELECT l, r, count(*) AS n_lr FROM bg GROUP BY 1, 2),
ctx AS (SELECT l, sum(n_lr) AS n_l FROM counts GROUP BY 1),
v AS (
  SELECT count(DISTINCT t) AS vocab
  FROM (SELECT unnest(ts) AS t FROM toks)
),
scored AS (
  SELECT b.doc_id,
         ln((coalesce(c.n_lr, 0) + 0.5)
            / (coalesce(x.n_l, 0) + 0.5 * v.vocab)) AS lp
  FROM bg b LEFT JOIN counts c USING (l, r) LEFT JOIN ctx x USING (l), v
),
agg AS (
  SELECT doc_id, round(avg(lp), 4) AS lm_score, count(*) AS n_bigrams
  FROM scored GROUP BY 1
)
SELECT d.doc_id,
       coalesce(a.lm_score, 0.0) AS lm_score,
       CAST(coalesce(a.n_bigrams, 0) AS BIGINT) AS n_bigrams
FROM documents d LEFT JOIN agg a USING (doc_id)""",
    "length_quantiles": """
SELECT source,
       round(quantile_cont(n_chars, 0.5), 4) AS p50,
       round(quantile_cont(n_chars, 0.9), 4) AS p90,
       round(quantile_cont(n_chars, 0.99), 4) AS p99,
       count(*) AS n_docs
FROM documents GROUP BY 1""",
    "mixing_apply": """
WITH s AS (
  SELECT source,
         CAST(SUM(len(list_filter(string_split(text, ' '), x -> x <> ''))) AS BIGINT) AS tokens
  FROM documents GROUP BY 1
),
t AS (
  SELECT source, tokens,
         tokens / CAST(SUM(tokens) OVER () AS DOUBLE) AS natural_share,
         1.0 / COUNT(*) OVER () AS target_share
  FROM s
),
r AS (
  SELECT *, CASE WHEN natural_share > 0
                 THEN target_share / natural_share ELSE 0.0 END AS ratio
  FROM t
),
w AS (
  SELECT source,
         round(CASE WHEN mr > 0 THEN least(1.0, ratio / mr) ELSE 0.0 END, 6) AS sample_p
  FROM (SELECT *, MAX(ratio) OVER () AS mr FROM r)
)
SELECT d.doc_id, d.source
FROM documents d JOIN w USING (source)
WHERE CAST(concat('0x', substr(md5(d.source || '|' || CAST(d.doc_id AS VARCHAR)), 1, 6)) AS BIGINT)
      / 16777216.0 < w.sample_p""",
    "transformer_chain": """
SELECT doc_id,
       substr(text, 1, 20) AS head20,
       lpad(lang, 4, '_') AS lang_pad,
       'S' || substr(source, 4) AS src_repl,
       CAST(n_chars AS DOUBLE) AS n_chars_d
FROM documents
WHERE NOT (n_chars < 60)""",
    "multimodal_meta": """
SELECT doc_id,
       octet_length(encode(text)) AS n_bytes,
       octet_length(encode(text)) % 640 + 1 AS width,
       octet_length(encode(text)) % 480 + 1 AS height,
       CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END
         AS modality
FROM documents""",
    # multimodal_wav_roundtrip: the WAV payload is a pure function of
    # doc_id (n = doc_id%50+10 samples of ((i*37)%401)-200 at rate
    # 8000+(doc_id%3)*4000), so every decoded field is recomputable
    # arithmetically; peak re-derives the PCM via a correlated range()
    "multimodal_wav_roundtrip": """
WITH idx AS (SELECT i FROM range(60) t(i)),
peaks AS (
  SELECT d.doc_id, CAST(max(abs((idx.i * 37) % 401 - 200)) AS BIGINT) AS peak
  FROM documents d JOIN idx ON idx.i < d.doc_id % 50 + 10
  GROUP BY d.doc_id
)
SELECT d.doc_id,
       'wav' AS format,
       'audio' AS modality,
       CAST(1 AS BIGINT) AS n_channels,
       CAST(8000 + (d.doc_id % 3) * 4000 AS BIGINT) AS sample_rate,
       CAST(d.doc_id % 50 + 10 AS BIGINT) AS n_frames,
       CAST(d.doc_id % 50 + 10 AS DOUBLE)
         / (8000 + (d.doc_id % 3) * 4000) AS duration_s,
       p.peak
FROM documents d JOIN peaks p USING (doc_id)""",
    # multimodal_png_roundtrip: the PNG payload is a pure function of
    # doc_id (w = d%5+2, h = d%7+3, ch = d%4+1, pixel k =
    # (d*31 + k*7) % 256, filter d%5), so the decoded header fields and
    # the pixel checksum are recomputable arithmetically — the engines
    # agree only if inflate + unfilter reconstruct every byte
    "multimodal_png_roundtrip": """
WITH dims AS (
  SELECT doc_id,
         doc_id % 5 + 2 AS w, doc_id % 7 + 3 AS h, doc_id % 4 + 1 AS ch
  FROM documents),
idx AS (SELECT i FROM range(216) t(i)),
sums AS (
  SELECT d.doc_id,
         CAST(sum((d.doc_id * 31 + idx.i * 7) % 256) AS BIGINT) AS pix_sum
  FROM dims d JOIN idx ON idx.i < d.h * d.w * d.ch
  GROUP BY d.doc_id)
SELECT d.doc_id,
       'png' AS format,
       'image' AS modality,
       CAST(d.w AS BIGINT) AS width,
       CAST(d.h AS BIGINT) AS height,
       CAST(d.ch AS BIGINT) AS n_channels,
       CAST(1 AS BIGINT) AS n_frames,
       s.pix_sum
FROM dims d JOIN sums s USING (doc_id)""",
    # cdc_final_state: SQL fold of the SAME shared event shards the Spark
    # query ingests (dirty rules mirror operators/quarantine.dirty_predicate;
    # LWW = per-url max-lsn; deletes drop). `text` bytes are checked by the
    # pytest golden-byte + replay suites instead (not SQL-expressible).
    "cdc_final_state": f"""
WITH ev AS (
  SELECT * FROM read_parquet(
    '{_CDC_EVENTS_DIR}/events-e*.parquet', union_by_name=true)
),
clean AS (
  SELECT * FROM ev
  WHERE url IS NOT NULL AND length(url) > 0
    AND op IN ('I', 'U', 'D')
    AND lsn IS NOT NULL AND lsn > 0
),
latest AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY url ORDER BY lsn DESC) AS rn
    FROM clean
  ) WHERE rn = 1
)
SELECT url, lang, title FROM latest WHERE op <> 'D'""",
    # The Debezium wire round trip is an identity on clean events (and
    # preserves dirtiness on dirty ones), so the oracle is the same
    # direct fold of the shards — a value mismatch would mean the wire
    # (base64 html / MicroTimestamp / op mapping / before-vs-after
    # image selection) altered an event.
    "debezium_roundtrip": f"""
WITH ev AS (
  SELECT * FROM read_parquet(
    '{_CDC_EVENTS_DIR}/events-e*.parquet', union_by_name=true)
),
clean AS (
  SELECT * FROM ev
  WHERE url IS NOT NULL AND length(url) > 0
    AND op IN ('I', 'U', 'D')
    AND lsn IS NOT NULL AND lsn > 0
),
latest AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY url ORDER BY lsn DESC) AS rn
    FROM clean
  ) WHERE rn = 1
)
SELECT url, lang, title FROM latest WHERE op <> 'D'""",
}

# shared edge-list CTE for the link-graph oracles (mirrors
# _synthetic_edges byte-for-byte in semantics)
_EDGES_CTE = """e AS (
  SELECT DISTINCT user_id % 200 AS src, event_id % 200 AS dst
  FROM events
  WHERE (user_id + event_id) % 17 = 3 AND user_id % 200 <> event_id % 200
)"""

def _profile_oracle() -> str:
    """Mirrors operators/profile.py over `documents`: one UNION ALL
    branch per column (numeric min/max as double, string min/max in
    binary order, the other pair NULL)."""
    numeric = {"doc_id", "n_chars"}
    parts = []
    for c in ("doc_id", "text", "lang", "source", "n_chars"):
        if c in numeric:
            mm = (
                f"CAST(min({c}) AS DOUBLE) AS min_num, "
                f"CAST(max({c}) AS DOUBLE) AS max_num, "
                "CAST(NULL AS VARCHAR) AS min_str, "
                "CAST(NULL AS VARCHAR) AS max_str"
            )
        else:
            mm = (
                "CAST(NULL AS DOUBLE) AS min_num, "
                "CAST(NULL AS DOUBLE) AS max_num, "
                f"min({c}) AS min_str, max({c}) AS max_str"
            )
        parts.append(
            f"""SELECT '{c}' AS col_name,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
       CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct,
       {mm}
FROM documents"""
        )
    return "\nUNION ALL\n".join(parts)


ORACLES["profile_documents"] = _profile_oracle()

ORACLES["windowed_event_agg"] = """
SELECT date_trunc('hour', ts) AS window_start, event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       round(sum(value), 4) AS sum_value
FROM events GROUP BY 1, 2"""

ORACLES["asof_join_events"] = """
WITH clicks AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
pur0 AS (
  SELECT user_id, ts, event_id AS purchase_id, round(value, 4) AS purchase_value
  FROM events WHERE event_type = 'purchase'),
pur AS (
  SELECT user_id, ts, purchase_id, purchase_value FROM (
    SELECT p.*, row_number() OVER (
      PARTITION BY user_id, ts ORDER BY purchase_id DESC) AS rn
    FROM pur0 p) WHERE rn = 1)
SELECT c.event_id, c.user_id, p.ts AS purchase_ts,
       p.purchase_id, p.purchase_value
FROM clicks c ASOF LEFT JOIN pur p
  ON c.user_id = p.user_id AND c.ts >= p.ts"""

ORACLES["scd2_build"] = """
WITH runs AS (
  SELECT user_id, ts, event_id, status FROM (
    SELECT user_id, ts, event_id, event_type AS status,
           lag(event_type) OVER (
             PARTITION BY user_id ORDER BY ts, event_id) AS prev
    FROM events)
  WHERE prev IS DISTINCT FROM status)
SELECT user_id, status, ts AS valid_from,
       lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
       lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
         AS is_current
FROM runs"""

def _zorder_oracle() -> str:
    from datax_spark.operators.layout import zvalue_sql

    expr = zvalue_sql(["(user_id % 256)", "(event_id % 256)"], bits=8)
    return f"SELECT event_id, {expr} AS zval FROM events"


ORACLES["zorder_key"] = _zorder_oracle()

ORACLES["returned_item_ranking"] = """
SELECT c_custkey, c_name, n_name,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM customer, orders, lineitem, nation
WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
  AND o_orderdate >= DATE '1997-01-01' AND o_orderdate < DATE '1997-04-01'
  AND l_returnflag = 'R' AND c_nationkey = n_nationkey
GROUP BY 1, 2, 3
ORDER BY revenue DESC, c_custkey ASC LIMIT 20"""

ORACLES["clicked_never_purchased"] = """
SELECT DISTINCT user_id FROM events WHERE event_type = 'click'
EXCEPT
SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'"""

ORACLES["order_value_deciles"] = """
WITH d AS (
  SELECT o_totalprice,
         CAST(ntile(10) OVER (ORDER BY o_totalprice, o_orderkey) AS BIGINT)
           AS decile
  FROM orders)
SELECT decile, count(*) AS n,
       round(min(o_totalprice), 2) AS lo,
       round(max(o_totalprice), 2) AS hi,
       round(sum(o_totalprice), 2) AS total
FROM d GROUP BY decile"""

ORACLES["shipping_priority"] = """
SELECT l_orderkey, o_orderdate,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM customer, orders, lineitem
WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
  AND l_orderkey = o_orderkey
  AND o_orderdate < DATE '1998-03-15' AND l_shipdate > DATE '1998-03-15'
GROUP BY 1, 2
ORDER BY revenue DESC, l_orderkey ASC LIMIT 10"""

ORACLES["local_supplier_volume"] = """
SELECT n_name,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM customer, orders, lineitem, supplier, nation, region
WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
  AND r_name = 'ASIA'
  AND o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1997-01-01'
GROUP BY n_name"""

ORACLES["order_priority_exists"] = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE o_orderdate >= DATE '1997-07-01' AND o_orderdate < DATE '1997-10-01'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
GROUP BY o_orderpriority"""

ORACLES["weighted_sample"] = """
WITH scored AS (
  SELECT doc_id, n_chars,
         CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12)
              AS BIGINT) AS DOUBLE) / CAST(n_chars AS DOUBLE) AS s
  FROM documents)
SELECT doc_id, n_chars, round(s, 4) AS sample_score
FROM scored ORDER BY s ASC, doc_id ASC LIMIT 50"""

ORACLES["recrawl_diff"] = """
WITH pages AS (
  SELECT 'https://doc/' || CAST(doc_id AS VARCHAR) AS url,
         text, lang, source, n_chars
  FROM documents),
snap AS (
  SELECT 'https://doc/' || CAST(doc_id AS VARCHAR) AS url,
         CASE WHEN doc_id % 7 = 0 THEN text || ' [recrawl]' ELSE text END
           AS text,
         lang, source,
         n_chars + CASE WHEN doc_id % 7 = 0 THEN 10 ELSE 0 END AS n_chars
  FROM documents WHERE doc_id % 10 <> 0
  UNION ALL
  SELECT 'https://doc/' || CAST(doc_id + 10000000 AS VARCHAR),
         text, lang, source, n_chars
  FROM documents WHERE doc_id % 13 = 0),
diff AS (
  SELECT coalesce(s.url, p.url) AS url,
         CASE WHEN p.url IS NULL THEN 'I'
              WHEN s.url IS NULL THEN 'D'
              WHEN NOT (p.text IS NOT DISTINCT FROM s.text)
                OR NOT (p.lang IS NOT DISTINCT FROM s.lang)
                OR NOT (p.source IS NOT DISTINCT FROM s.source)
                OR NOT (p.n_chars IS NOT DISTINCT FROM s.n_chars)
              THEN 'U' END AS op
  FROM pages p FULL OUTER JOIN snap s ON p.url = s.url)
SELECT op, count(*) AS n, min(url) AS url_min, max(url) AS url_max
FROM diff WHERE op IS NOT NULL GROUP BY op"""

ORACLES["changelog_feed"] = ORACLES["recrawl_diff"]

# MERGE INTO clause algebra: matched-delete first, then conditional
# subset-SET update (target lang survives), then gated not-matched
# insert — one LEFT JOIN per side of the final state
ORACLES["merge_into_clauses"] = """
WITH t AS (
  SELECT 'd' || CAST(doc_id AS VARCHAR) AS url, n_chars AS val, lang
  FROM documents WHERE doc_id % 2 = 0),
s AS (
  SELECT 'd' || CAST(doc_id AS VARCHAR) AS url, n_chars + 7 AS val, lang
  FROM documents WHERE doc_id % 3 = 0)
SELECT t.url AS url,
       CASE WHEN s.url IS NOT NULL AND s.val > t.val THEN s.val
            ELSE t.val END AS val,
       t.lang AS lang
FROM t LEFT JOIN s ON t.url = s.url
WHERE s.url IS NULL OR s.val % 5 <> 0
UNION ALL
SELECT s.url AS url, s.val AS val, s.lang AS lang
FROM s LEFT JOIN t ON s.url = t.url
WHERE t.url IS NULL AND s.lang <> 'de'"""
# the persisted-index probe must equal the one-shot scorer exactly
ORACLES["bm25_index_topk"] = ORACLES["bm25_retrieval"]

# the maintained index must equal a one-shot rebuild on the FINAL table
# state, so its oracle is the bm25_retrieval SQL over the same modified
# corpus (suffix-updated %7==0 docs, %7==3 deleted, three inserts)
ORACLES["bm25_index_sync"] = """
WITH docs2(doc_id, text) AS (
  SELECT doc_id,
         CASE WHEN doc_id % 7 = 0
              THEN text || ' refreshed retrieval section'
              ELSE text END
  FROM documents WHERE doc_id % 7 <> 3
  UNION ALL
  SELECT * FROM (VALUES (CAST(-1 AS BIGINT), 'spark merge window planning'),
                        (-2, 'fast hash join probe build'),
                        (-3, 'slow scan filter vector pipeline'))
),
q(query_id, query) AS (
  VALUES (CAST(0 AS BIGINT), 'spark merge window'),
         (1, 'fast hash join'),
         (2, 'slow scan filter vector')),
tok AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                     t -> t <> '') AS tk
  FROM docs2
),
dterm AS (SELECT doc_id, len(tk) AS dl, unnest(tk) AS term FROM tok),
qterm AS (
  SELECT DISTINCT query_id, term FROM (
    SELECT query_id,
           unnest(list_filter(string_split_regex(lower(query), '[^a-z0-9]+'),
                              t -> t <> '')) AS term
    FROM q)
),
tf AS (
  SELECT doc_id, dl, term, count(*) AS tf FROM dterm
  WHERE term IN (SELECT term FROM qterm)
  GROUP BY 1, 2, 3
),
stats AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(len(tk)) AS avgdl FROM tok),
idf AS (
  SELECT term, ln(1 + (n - df + 0.5) / (df + 0.5)) AS idf, avgdl
  FROM (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY 1)
  CROSS JOIN stats
),
scored AS (
  SELECT query_id, doc_id,
         round(sum(idf * (tf * 2.2) / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))), 4) AS score
  FROM tf JOIN idf USING (term) JOIN qterm USING (term)
  GROUP BY 1, 2
)
SELECT query_id, doc_id, score,
       CAST(row_number() OVER (
         PARTITION BY query_id ORDER BY score DESC, doc_id ASC
       ) AS BIGINT) AS rank
FROM scored QUALIFY rank <= 5"""

ORACLES["time_travel_read"] = """
SELECT lang, count(*) AS n_docs, sum(n_chars) AS total_chars,
       min('https://doc/' || CAST(doc_id AS VARCHAR)) AS url_min
FROM documents GROUP BY lang"""

ORACLES["incremental_read"] = """
WITH snap AS (
  SELECT 'https://doc/' || CAST(doc_id AS VARCHAR) AS url, lang,
         n_chars + CASE WHEN doc_id % 7 = 0 THEN 10 ELSE 0 END AS n_chars
  FROM documents WHERE doc_id % 10 <> 0
  UNION ALL
  SELECT 'https://doc/' || CAST(doc_id + 10000000 AS VARCHAR), lang, n_chars
  FROM documents WHERE doc_id % 13 = 0)
SELECT lang, count(*) AS n_docs, sum(n_chars) AS total_chars,
       min(url) AS url_min
FROM snap GROUP BY lang"""

ORACLES["streaming_session_window"] = """
WITH lagged AS (
  SELECT user_id, ts, "value",
         epoch_us(ts) - lag(epoch_us(ts)) OVER (
               PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS gap_us
  FROM events),
sess AS (
  SELECT user_id, ts, "value",
         sum(CASE WHEN gap_us IS NULL OR gap_us >= 1800000000
                  THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY ts ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sidx
  FROM lagged)
SELECT user_id,
       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       count(*) AS n_events,
       round(sum("value"), 2) AS sum_value
FROM sess GROUP BY user_id, sidx"""

ORACLES["event_pmi"] = """
WITH lagged AS (
  SELECT user_id, ts, event_id, event_type,
         CAST(floor(epoch(ts)) AS BIGINT)
           - lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER (
               PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS gap
  FROM events),
sess AS (
  SELECT CAST(user_id AS VARCHAR) || '#' || CAST(
           sum(CASE WHEN gap IS NULL OR gap > 1800 THEN 1 ELSE 0 END)
             OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS VARCHAR) AS sid,
         event_type
  FROM lagged),
st AS (SELECT DISTINCT sid, event_type FROM sess),
n_sess AS (SELECT count(DISTINCT sid) AS n FROM st),
singles AS (SELECT event_type, count(*) AS n_t FROM st GROUP BY event_type),
pairs AS (
  SELECT a.event_type AS t_a, b.event_type AS t_b, count(*) AS n_ab
  FROM st a JOIN st b ON a.sid = b.sid AND a.event_type < b.event_type
  GROUP BY a.event_type, b.event_type)
SELECT t_a, t_b, n_ab,
       round(ln(CAST(n_sess.n AS DOUBLE) * n_ab
                / (CAST(sa.n_t AS DOUBLE) * sb.n_t)), 4) AS pmi
FROM pairs, n_sess, singles sa, singles sb
WHERE sa.event_type = t_a AND sb.event_type = t_b"""

ORACLES["rfm_segments"] = """
WITH per_user AS (
  SELECT user_id,
         max(CAST(floor(epoch(ts)) AS BIGINT)) AS last_sec,
         count(*) AS freq,
         round(sum("value"), 4) AS monetary
  FROM events WHERE event_type = \'purchase\' GROUP BY user_id),
scored AS (
  SELECT user_id,
         (SELECT max(last_sec) FROM per_user) - last_sec AS rec_sec,
         freq, monetary
  FROM per_user),
seg AS (
  SELECT ntile(4) OVER (ORDER BY rec_sec / CAST(86400.0 AS DOUBLE) ASC,
                        user_id ASC) AS r_quartile,
         ntile(4) OVER (ORDER BY freq DESC, user_id ASC) AS f_quartile,
         ntile(4) OVER (ORDER BY monetary DESC, user_id ASC) AS m_quartile,
         monetary
  FROM scored)
SELECT CAST(r_quartile AS BIGINT) AS r_quartile,
       CAST(f_quartile AS BIGINT) AS f_quartile,
       CAST(m_quartile AS BIGINT) AS m_quartile,
       count(*) AS n_users, round(sum(monetary), 2) AS total_value
FROM seg GROUP BY 1, 2, 3"""

ORACLES["debounce_events"] = """
WITH lagged AS (
  SELECT event_type,
         ts,
         lag(ts) OVER (PARTITION BY user_id, event_type
                       ORDER BY ts ASC, event_id ASC) AS prev
  FROM events)
SELECT event_type,
       sum(CASE WHEN prev IS NULL OR ts > prev + INTERVAL 5 SECOND
                THEN 1 ELSE 0 END) AS n_kept,
       sum(CASE WHEN prev IS NULL OR ts > prev + INTERVAL 5 SECOND
                THEN 0 ELSE 1 END) AS n_dropped
FROM lagged GROUP BY event_type"""

ORACLES["lang_source_chi2"] = """
WITH obs AS (
  SELECT lang, source, count(*) AS n FROM documents GROUP BY lang, source),
cells AS (
  SELECT n,
         sum(n) OVER (PARTITION BY lang) AS rt,
         sum(n) OVER (PARTITION BY source) AS ct,
         sum(n) OVER () AS tot
  FROM obs)
SELECT round(sum(pow(n - rt * ct / CAST(tot AS DOUBLE), 2)
                 / (rt * ct / CAST(tot AS DOUBLE))), 4) AS chi2,
       (SELECT CAST((count(DISTINCT lang) - 1)
               * (count(DISTINCT source) - 1) AS BIGINT)
        FROM documents) AS dof
FROM cells"""

ORACLES["conversion_time_quantiles"] = """
WITH per_user AS (
  SELECT user_id,
         min(CASE WHEN event_type = 'signup' THEN epoch_us(ts) END) AS s_us,
         min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS p_us
  FROM events GROUP BY user_id),
deltas AS (
  SELECT p_us - s_us AS d_us FROM per_user
  WHERE s_us IS NOT NULL AND p_us IS NOT NULL AND p_us > s_us)
SELECT count(*) AS n_converted,
       round(quantile_cont(d_us, CAST(0.5 AS DOUBLE)) / 1e6, 2) AS p50_sec,
       round(quantile_cont(d_us, CAST(0.9 AS DOUBLE)) / 1e6, 2) AS p90_sec,
       round(quantile_cont(d_us, CAST(0.99 AS DOUBLE)) / 1e6, 2) AS p99_sec
FROM deltas"""

ORACLES["source_entropy"] = """
WITH sl AS (
  SELECT source, lang, count(*) AS n
  FROM documents GROUP BY source, lang),
probs AS (
  SELECT source, n,
         CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY source) AS p
  FROM sl)
SELECT source, round(sum(-p * ln(p)), 4) AS entropy_nats,
       sum(n) AS n_docs
FROM probs GROUP BY source"""

ORACLES["customer_order_distribution"] = """
WITH per_cust AS (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer LEFT JOIN orders
    ON c_custkey = o_custkey AND o_orderstatus <> 'F'
  GROUP BY c_custkey)
SELECT c_count, count(*) AS custdist FROM per_cust GROUP BY c_count"""

ORACLES["promo_revenue_share"] = """
SELECT round(CAST(100.0 AS DOUBLE)
         * sum(CASE WHEN p_type = 'PROMO'
                    THEN l_extendedprice * (1 - l_discount)
                    ELSE CAST(0.0 AS DOUBLE) END)
         / sum(l_extendedprice * (1 - l_discount)), 4) AS promo_share,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
FROM lineitem, part
WHERE l_partkey = p_partkey
  AND l_shipdate >= DATE '1997-06-01' AND l_shipdate < DATE '1997-07-01'"""

ORACLES["supplier_variety"] = """
SELECT p_brand, p_type, p_size,
       count(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem, part
WHERE l_partkey = p_partkey
  AND p_brand <> 'Brand#13' AND p_size <= 25
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand ASC, p_type ASC, p_size ASC
LIMIT 10"""

ORACLES["large_volume_customers"] = """
WITH big AS (
  SELECT l_orderkey, round(sum(l_quantity), 2) AS total_qty
  FROM lineitem GROUP BY l_orderkey
  HAVING round(sum(l_quantity), 2) > 250)
SELECT c_custkey, c_name, o_orderkey, o_orderdate,
       round(o_totalprice, 2) AS o_totalprice, total_qty
FROM orders, big, customer
WHERE o_orderkey = l_orderkey AND o_custkey = c_custkey
ORDER BY total_qty DESC, o_orderkey ASC LIMIT 20"""

ORACLES["brand_disjunctive_revenue"] = """
SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       count(*) AS n_lines
FROM lineitem, part
WHERE l_partkey = p_partkey AND (
     (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 10
      AND l_quantity BETWEEN 1 AND 15)
  OR (p_brand = 'Brand#23' AND p_size BETWEEN 5 AND 20
      AND l_quantity BETWEEN 10 AND 25)
  OR (p_brand = 'Brand#34' AND p_size BETWEEN 15 AND 35
      AND l_quantity BETWEEN 20 AND 35))"""

ORACLES["idle_wealthy_customers"] = """
SELECT c_mktsegment, count(*) AS numcust,
       round(sum(c_acctbal), 2) AS totacctbal
FROM customer
WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer
                   WHERE c_acctbal > CAST(0.0 AS DOUBLE))
  AND c_custkey NOT IN (SELECT o_custkey FROM orders
                        WHERE o_orderdate >= DATE '1998-01-01')
GROUP BY c_mktsegment"""

ORACLES["event_transition_matrix"] = """
WITH pairs AS (
  SELECT event_type,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts ASC, event_id ASC) AS next_type
  FROM events),
counts AS (
  SELECT event_type, next_type, count(*) AS n
  FROM pairs WHERE next_type IS NOT NULL
  GROUP BY event_type, next_type)
SELECT event_type, next_type, n,
       round(CAST(n AS DOUBLE)
             / sum(n) OVER (PARTITION BY event_type), 4) AS p
FROM counts"""

ORACLES["gap_fill_forward"] = """
WITH daily AS (
  SELECT user_id, CAST(ts AS DATE) AS day,
         round(sum("value"), 4) AS day_value
  FROM events GROUP BY user_id, CAST(ts AS DATE)),
bounds AS (SELECT min(day) AS d0, max(day) AS d1 FROM daily),
cal AS (
  SELECT u.user_id, CAST(g.day AS DATE) AS day
  FROM (SELECT DISTINCT user_id FROM daily) u,
       (SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS day
        FROM bounds) g)
SELECT cal.user_id, strftime(cal.day, '%Y-%m-%d') AS day,
       round(last_value(daily.day_value IGNORE NULLS) OVER (
         PARTITION BY cal.user_id ORDER BY cal.day
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS value_ff,
       daily.day_value IS NULL AS was_gap
FROM cal LEFT JOIN daily
  ON cal.user_id = daily.user_id AND cal.day = daily.day"""

ORACLES["link_graph_triangles"] = """
WITH raw AS (
  SELECT user_id % 200 AS a, event_id % 200 AS b
  FROM events
  WHERE (user_id + event_id) % 17 = 3 AND user_id % 200 <> event_id % 200),
e AS (SELECT DISTINCT least(a, b) AS u, greatest(a, b) AS v FROM raw),
tri AS (
  SELECT count(*) AS n_triangles
  FROM e e1 JOIN e e2 ON e2.u = e1.v JOIN e e3
    ON e3.u = e1.u AND e3.v = e2.v),
deg AS (
  SELECT node, count(*) AS d
  FROM (SELECT u AS node FROM e UNION ALL SELECT v AS node FROM e)
  GROUP BY node),
w AS (SELECT CAST(sum(d * (d - 1)) / 2 AS BIGINT) AS n_wedges FROM deg)
SELECT CAST(tri.n_triangles AS BIGINT) AS n_triangles, w.n_wedges,
       round(3.0 * tri.n_triangles / w.n_wedges, 4) AS clustering
FROM tri, w"""

ORACLES["error_burst_flags"] = """
WITH e AS (
  SELECT user_id, event_id, ts FROM events WHERE event_type = 'error')
SELECT user_id, event_id, n_recent FROM (
  SELECT user_id, event_id,
         count(*) OVER (PARTITION BY user_id ORDER BY ts
                        RANGE BETWEEN INTERVAL 30 MINUTE PRECEDING
                              AND CURRENT ROW) AS n_recent
  FROM e)
WHERE n_recent >= 2"""

ORACLES["json_props_agg"] = """
WITH x AS (
  SELECT event_type,
         CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
  FROM events)
SELECT event_type, round(avg(k), 4) AS avg_k, max(k) AS max_k,
       count(*) FILTER (k IS NULL) AS n_unparsed, count(*) AS n
FROM x GROUP BY event_type"""

ORACLES["ann_filtered_topk"] = """
WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT vec_id, v FROM e WHERE vec_id < 8),
c AS (SELECT vec_id, v FROM e WHERE label IN (2, 3, 5)),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         list_dot_product(q.v, c.v)
           / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v)))
           AS cs
  FROM q JOIN c ON q.vec_id <> c.vec_id
),
ranked AS (
  SELECT query_id, neighbor_id, cs,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(cs, 6) DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, round(cs, 4) AS cos_sim, rank
FROM ranked WHERE rank <= 5"""

ORACLES["cohort_retention"] = """
WITH f AS (
  SELECT user_id, date_trunc('day', min(ts) OVER (PARTITION BY user_id))
           AS cohort_day, ts
  FROM events)
SELECT cohort_day,
       date_diff('day', cohort_day, date_trunc('day', ts)) AS day_offset,
       count(DISTINCT user_id) AS n_users
FROM f GROUP BY 1, 2"""

ORACLES["funnel_sequence"] = """
WITH f AS (
  SELECT user_id,
         min(ts) FILTER (event_type = 'signup') AS t_s,
         min(ts) FILTER (event_type = 'click') AS t_c,
         min(ts) FILTER (event_type = 'purchase') AS t_p
  FROM events GROUP BY user_id)
SELECT count(*) FILTER (t_s IS NOT NULL) AS n_signup,
       count(*) FILTER (t_s IS NOT NULL AND t_c > t_s) AS n_then_click,
       count(*) FILTER (t_s IS NOT NULL AND t_c > t_s AND t_p > t_c)
         AS n_then_purchase
FROM f"""

ORACLES["edit_distance_pairs"] = """
WITH t AS (
  SELECT doc_id, substr(text, 1, 12) AS title FROM documents
  UNION ALL
  SELECT doc_id + 100000, 'z' || substr(text, 2, 11)
  FROM documents WHERE doc_id % 5 = 0)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(levenshtein(a.title, b.title) AS BIGINT) AS dist
FROM t a JOIN t b
  ON a.doc_id < b.doc_id AND levenshtein(a.title, b.title) <= 1"""

ORACLES["trend_by_type"] = """
WITH b AS (
  SELECT event_type, value,
         CAST(epoch(ts) AS DOUBLE) - 1.7e9 AS x
  FROM events)
SELECT event_type,
       round(covar_pop(x, value) / var_pop(x) * 86400, 6) AS slope_per_day,
       round(avg(value) - covar_pop(x, value) / var_pop(x) * avg(x), 4)
         AS intercept,
       count(*) AS n
FROM b GROUP BY event_type"""

ORACLES["cube_agg"] = """
SELECT lang, source, count(*) AS n_docs, sum(n_chars) AS sum_chars,
       CAST(grouping(lang) * 2 + grouping(source) AS BIGINT) AS gid
FROM documents GROUP BY CUBE (lang, source)"""

ORACLES["interval_attribution"] = """
WITH c AS (
  SELECT user_id, event_id AS click_id, ts FROM events
  WHERE event_type = 'click'),
w AS (
  SELECT user_id, event_id AS signup_id, ts AS w_start,
         ts + INTERVAL 2 HOUR AS w_end
  FROM events WHERE event_type = 'signup')
SELECT c.user_id, w.signup_id, count(*) AS n_clicks,
       min(c.click_id) AS first_click
FROM c JOIN w ON c.user_id = w.user_id
             AND c.ts >= w.w_start AND c.ts < w.w_end
GROUP BY 1, 2"""

ORACLES["export_shard_plan"] = """
SELECT CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
         % 8 AS shard,
       count(*) AS n_docs, sum(n_chars) AS sum_chars
FROM documents GROUP BY 1"""

ORACLES["expectations_report"] = """
WITH s AS (
  SELECT count(*) AS n,
         avg(CASE WHEN lang IS NOT NULL THEN 1.0 ELSE 0.0 END) AS m_nn,
         count(DISTINCT doc_id) AS m_uq,
         avg(CASE WHEN lang IN ('en','de','fr','es','zh') THEN 1.0 ELSE 0.0 END) AS m_set,
         avg(CASE WHEN n_chars IS NOT NULL AND n_chars BETWEEN 1 AND 10000
                  THEN 1.0 ELSE 0.0 END) AS m_rng,
         avg(CASE WHEN text IS NOT NULL AND regexp_matches(text, '[a-z]')
                  THEN 1.0 ELSE 0.0 END) AS m_re
  FROM documents)
SELECT 'not_null(lang)' AS constraint, 'lang' AS "column",
       round(m_nn, 6) AS metric, 1.0 AS threshold, m_nn >= 1.0 AS passed FROM s
UNION ALL SELECT 'unique(doc_id)', 'doc_id',
       round(CAST(m_uq AS DOUBLE) / greatest(n, 1), 6), 1.0,
       CAST(m_uq AS DOUBLE) / greatest(n, 1) >= 1.0 FROM s
UNION ALL SELECT 'in_set(lang)', 'lang', round(m_set, 6), CAST(0.9 AS DOUBLE), m_set >= 0.9 FROM s
UNION ALL SELECT 'in_range(n_chars)', 'n_chars', round(m_rng, 6), 1.0,
       m_rng >= 1.0 FROM s
UNION ALL SELECT 'matches(text)', 'text', round(m_re, 6), CAST(0.99 AS DOUBLE), m_re >= 0.99 FROM s
UNION ALL SELECT 'min_rows', '', least(CAST(n AS DOUBLE) / 100, 1.0), 1.0,
       least(CAST(n AS DOUBLE) / 100, 1.0) >= 1.0 FROM s"""

ORACLES["top_tokens"] = """
WITH t AS (
  SELECT unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                x -> x <> '')) AS term
  FROM documents),
c AS (SELECT term, count(*) AS n FROM t GROUP BY term)
SELECT term, n,
       CAST(row_number() OVER (ORDER BY n DESC, term ASC) AS BIGINT) AS rank
FROM c QUALIFY rank <= 20"""

ORACLES["tfidf_top_terms"] = """
WITH tok AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                     t -> t <> '') AS tk
  FROM documents),
tf AS (
  SELECT doc_id, term, count(*) AS tf
  FROM (SELECT doc_id, unnest(tk) AS term FROM tok) GROUP BY 1, 2),
stats AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM tok),
dfreq AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY 1),
scored AS (
  SELECT doc_id, term, round(tf * ln(n / df), 4) AS score
  FROM tf JOIN dfreq USING (term) CROSS JOIN stats)
SELECT doc_id, term, score,
       CAST(row_number() OVER (
         PARTITION BY doc_id ORDER BY score DESC, term ASC) AS BIGINT) AS rank
FROM scored QUALIFY rank <= 5"""

ORACLES["rolling_features"] = """
SELECT event_id, user_id,
       round(avg(value) OVER w, 4) AS roll_avg5,
       round(max(value) OVER w, 4) AS roll_max5,
       count(*) OVER w AS roll_n5
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)"""

ORACLES["session_window_agg"] = """
WITH o AS (
  SELECT user_id, ts, event_id, value,
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   <= INTERVAL 30 MINUTE THEN 0 ELSE 1 END AS is_start
  FROM events),
s AS (
  SELECT user_id, ts, value,
         sum(is_start) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM o)
SELECT user_id, min(ts) AS session_start,
       max(ts) + INTERVAL 30 MINUTE AS session_end,
       count(*) AS n_events, round(sum(value), 2) AS sum_value
FROM s GROUP BY user_id, sid"""

ORACLES["hopping_window_agg"] = """
WITH x AS (
  SELECT e.event_type, e.value, s.ws
  FROM events e, LATERAL (
    SELECT unnest(generate_series(
      time_bucket(INTERVAL 30 MINUTE, e.ts) - INTERVAL 30 MINUTE,
      time_bucket(INTERVAL 30 MINUTE, e.ts),
      INTERVAL 30 MINUTE)) AS ws) s)
SELECT ws AS window_start, event_type,
       count(*) AS n_events, round(sum(value), 4) AS sum_value
FROM x GROUP BY 1, 2"""

ORACLES["pivot_event_matrix"] = """
SELECT user_id,
       count(*) FILTER (event_type = 'click')    AS n_click,
       count(*) FILTER (event_type = 'view')     AS n_view,
       count(*) FILTER (event_type = 'purchase') AS n_purchase,
       count(*) FILTER (event_type = 'signup')   AS n_signup,
       count(*) FILTER (event_type = 'error')    AS n_error
FROM events GROUP BY user_id"""

ORACLES["unicode_nfc"] = """
WITH d AS (
  SELECT doc_id, replace(text, 'a', 'a' || chr(769)) AS t FROM documents)
SELECT doc_id,
       md5(nfc_normalize(t)) AS nfc_md5,
       length(t) AS n_chars_decomposed,
       length(nfc_normalize(t)) AS n_chars_nfc
FROM d"""

ORACLES["anomaly_zscore"] = """
WITH s AS (
  SELECT event_type, avg(value) AS mu, stddev_samp(value) AS sigma
  FROM events GROUP BY event_type)
SELECT e.event_id, e.event_type, round(e.value, 4) AS value,
       round((e.value - s.mu) / s.sigma, 4) AS z
FROM events e JOIN s USING (event_type)
WHERE s.sigma > 0 AND abs(e.value - s.mu) > 3.0 * s.sigma"""

ORACLES["anomaly_iqr"] = """
WITH s AS (
  SELECT event_type,
         quantile_cont(value, 0.25) AS q1,
         quantile_cont(value, 0.75) AS q3
  FROM events GROUP BY event_type)
SELECT e.event_id, e.event_type, round(e.value, 4) AS value,
       round(q1 - 1.5 * (q3 - q1), 4) AS fence_lo,
       round(q3 + 1.5 * (q3 - q1), 4) AS fence_hi
FROM events e JOIN s USING (event_type)
WHERE e.value < q1 - 1.5 * (q3 - q1) OR e.value > q3 + 1.5 * (q3 - q1)"""

ORACLES["c4_line_clean"] = """
WITH relined AS (
  SELECT doc_id, replace(text, ' table ', '.' || chr(10)) AS text
  FROM documents
),
f AS (
  SELECT doc_id,
         string_split(text, chr(10)) AS ls,
         list_filter(string_split(text, chr(10)),
           l -> regexp_matches(l, '[.!?"'']$')
                AND len(list_filter(string_split(l, ' '), w -> w <> '')) >= 3
                AND NOT contains(lower(l), 'javascript')) AS kept
  FROM relined
  WHERE NOT contains(text, '{') AND NOT contains(lower(text), 'lorem ipsum')
)
SELECT doc_id,
       array_to_string(kept, chr(10)) AS text,
       CAST(len(kept) AS BIGINT) AS n_lines_kept,
       CAST(len(ls) AS BIGINT) AS n_lines_orig
FROM f
WHERE len(kept) >= 2"""

ORACLES["link_graph_degree"] = f"""
WITH {_EDGES_CTE},
o AS (SELECT src AS node, count(*) AS out_deg FROM e GROUP BY 1),
i AS (SELECT dst AS node, count(*) AS in_deg FROM e GROUP BY 1)
SELECT coalesce(o.node, i.node) AS node,
       CAST(coalesce(o.out_deg, 0) AS BIGINT) AS out_deg,
       CAST(coalesce(i.in_deg, 0) AS BIGINT) AS in_deg
FROM o FULL OUTER JOIN i ON o.node = i.node"""


def _pagerank_oracle(iters: int = 5, damping: float = 0.85) -> str:
    """Unrolled power iteration as chained CTEs — the same uniform-
    start / dangling-uniform formula operators/graph.py:pagerank runs
    distributed ('pr' not 'rank': RANK is a DuckDB keyword)."""
    parts = [
        f"""WITH {_EDGES_CTE},
nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
outd AS (SELECT src, CAST(count(*) AS DOUBLE) AS od FROM e GROUP BY 1),
r0 AS (SELECT node, 1.0 / nn.n AS pr FROM nodes, nn)"""
    ]
    for k in range(1, iters + 1):
        p = k - 1
        parts.append(
            f""",
d{k} AS (SELECT coalesce(sum(r.pr), 0) AS dm
        FROM r{p} r LEFT JOIN outd o ON r.node = o.src
        WHERE o.src IS NULL),
c{k} AS (SELECT e.dst AS node, sum(r.pr / o.od) AS contrib
        FROM e JOIN r{p} r ON e.src = r.node JOIN outd o ON e.src = o.src
        GROUP BY 1),
r{k} AS (SELECT n.node,
               (1.0 - {damping}) / nn.n
               + {damping} * coalesce(c.contrib, 0)
               + {damping} * d{k}.dm / nn.n AS pr
        FROM nodes n LEFT JOIN c{k} c ON n.node = c.node, nn, d{k})"""
        )
    parts.append(
        f"""
SELECT r.node, round(r.pr * nn.n, 4) AS rank_n FROM r{iters} r, nn"""
    )
    return "".join(parts)


ORACLES["link_graph_pagerank"] = _pagerank_oracle()


ORACLES["nation_pair_volume"] = """
SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
       CAST(year(l_shipdate) AS INT) AS l_year,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem, orders, customer, supplier, nation sn, nation cn
WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
  AND l_suppkey = s_suppkey
  AND s_nationkey = sn.n_nationkey AND c_nationkey = cn.n_nationkey
  AND ((sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
    OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1'))
  AND l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1998-01-01'
GROUP BY 1, 2, 3"""

ORACLES["market_share"] = """
SELECT CAST(year(o_orderdate) AS INT) AS o_year,
       round(sum(CASE WHEN n_name = 'NATION_3'
                      THEN l_extendedprice * (1 - l_discount) ELSE 0 END)
             / sum(l_extendedprice * (1 - l_discount)), 4) AS mkt_share
FROM lineitem, orders, supplier, nation
WHERE l_orderkey = o_orderkey AND l_suppkey = s_suppkey
  AND s_nationkey = n_nationkey
  AND o_custkey IN (SELECT c_custkey FROM customer, nation n2, region
                    WHERE c_nationkey = n2.n_nationkey
                      AND n2.n_regionkey = r_regionkey AND r_name = 'ASIA')
  AND o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1998-01-01'
GROUP BY 1"""

ORACLES["profit_by_nation_year"] = """
SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS o_year,
       round(sum(CAST(floor((l_extendedprice * (1 - l_discount)
                 - 0.8 * p_retailprice * l_quantity) * 100 + 0.5)
                 AS BIGINT)) / 100.0, 2) AS profit
FROM lineitem, part, orders, supplier, nation
WHERE p_type = 'PROMO' AND l_partkey = p_partkey
  AND l_orderkey = o_orderkey AND l_suppkey = s_suppkey
  AND s_nationkey = n_nationkey
GROUP BY 1, 2"""

ORACLES["min_cost_supplier"] = """
WITH eu_s AS (
  SELECT s_suppkey, s_name FROM supplier, nation, region
  WHERE s_nationkey = n_nationkey AND n_regionkey = r_regionkey
    AND r_name = 'EUROPE'),
offers AS (
  SELECT p_partkey, s_suppkey, s_name,
         l_extendedprice / l_quantity AS unit_cost,
         row_number() OVER (
           PARTITION BY p_partkey
           ORDER BY l_extendedprice / l_quantity ASC, s_suppkey ASC,
                    l_orderkey ASC, l_linenumber ASC) AS rn
  FROM lineitem
  JOIN part ON l_partkey = p_partkey AND p_size = 25
  JOIN eu_s ON l_suppkey = s_suppkey)
SELECT p_partkey, s_suppkey, s_name, unit_cost
FROM offers WHERE rn = 1"""

ORACLES["important_parts"] = """
WITH vals AS (
  SELECT p_partkey, sum(l_quantity * p_retailprice) AS v
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE l_suppkey IN (SELECT s_suppkey FROM supplier, nation
                      WHERE s_nationkey = n_nationkey
                        AND n_name = 'NATION_5')
  GROUP BY 1)
SELECT p_partkey, round(v, 2) AS "value"
FROM vals WHERE v > (SELECT sum(v) FROM vals) * 0.0002"""

ORACLES["ship_delay_matrix"] = """
SELECT CASE WHEN date_diff('day', o_orderdate, l_shipdate) < 30 THEN 'fast'
            WHEN date_diff('day', o_orderdate, l_shipdate) < 90 THEN 'normal'
            ELSE 'late' END AS delay_bucket,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem, orders WHERE l_orderkey = o_orderkey
GROUP BY 1"""

ORACLES["top_supplier_revenue"] = """
WITH rev AS (
  SELECT l_suppkey,
         round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= DATE '1997-01-01' AND l_shipdate < DATE '1997-04-01'
  GROUP BY 1)
SELECT s_suppkey, s_name, total_revenue
FROM rev JOIN supplier ON l_suppkey = s_suppkey
WHERE total_revenue = (SELECT max(total_revenue) FROM rev)"""

ORACLES["small_quantity_revenue"] = """
WITH j AS (
  SELECT l_partkey, l_quantity, l_extendedprice
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_brand = 'Brand#7'),
a AS (SELECT l_partkey, avg(l_quantity) AS avg_qty FROM j GROUP BY 1)
SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
FROM j JOIN a USING (l_partkey) WHERE l_quantity < 0.2 * avg_qty"""

ORACLES["excess_stock_suppliers"] = """
WITH per_ps AS (
  SELECT l_partkey, l_suppkey, sum(l_quantity) AS supp_qty
  FROM lineitem
  WHERE l_shipdate >= DATE '1997-01-01' AND l_shipdate < DATE '1998-01-01'
  GROUP BY 1, 2),
tot AS (SELECT l_partkey, sum(supp_qty) AS part_qty FROM per_ps GROUP BY 1),
dom AS (SELECT DISTINCT l_suppkey
        FROM per_ps JOIN tot USING (l_partkey)
        WHERE supp_qty * 2 > part_qty)
SELECT s_suppkey, s_name, n_name AS nation
FROM supplier JOIN dom ON s_suppkey = l_suppkey
JOIN nation ON s_nationkey = n_nationkey"""

ORACLES["waiting_orders_blame"] = """
WITH j AS (
  SELECT l_orderkey, l_suppkey,
         date_diff('day', o_orderdate, l_shipdate) > 90 AS late
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE o_orderstatus = 'F'),
per_order AS (
  SELECT l_orderkey,
         count(DISTINCT l_suppkey) AS n_supp,
         count(DISTINCT CASE WHEN late THEN l_suppkey END) AS n_late_supp,
         max(CASE WHEN late THEN l_suppkey END) AS late_supp
  FROM j GROUP BY 1)
SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
FROM per_order JOIN supplier ON late_supp = s_suppkey
WHERE n_supp > 1 AND n_late_supp = 1
GROUP BY 1 ORDER BY numwait DESC, s_name ASC LIMIT 20"""

ORACLES["incremental_view_maintain"] = """
WITH snap AS (
  SELECT lang,
         n_chars + CASE WHEN doc_id % 7 = 0 THEN 10 ELSE 0 END AS n_chars
  FROM documents WHERE doc_id % 10 <> 0
  UNION ALL
  SELECT lang, n_chars FROM documents WHERE doc_id % 13 = 0)
SELECT lang, count(*) AS n_docs, sum(n_chars) AS total_chars
FROM snap GROUP BY lang"""

ORACLES["multires_rollup"] = """
SELECT 'hour' AS resolution, date_trunc('hour', ts) AS bucket_ts,
       event_type, count(*) AS n,
       round(sum("value"), 2) AS sum_value,
       min("value") AS min_value, max("value") AS max_value
FROM events GROUP BY 2, 3
UNION ALL
SELECT 'day', date_trunc('day', ts), event_type, count(*),
       round(sum("value"), 2), min("value"), max("value")
FROM events GROUP BY 2, 3"""

ORACLES["autocorr_daily"] = """
WITH daily AS (
  SELECT date_trunc('day', ts) AS day, event_type, count(*) AS n
  FROM events GROUP BY 1, 2),
lagged AS (
  SELECT event_type, n,
         lag(n) OVER (PARTITION BY event_type ORDER BY day) AS prev_n
  FROM daily)
SELECT event_type, round(corr(n, prev_n), 4) AS autocorr_lag1,
       CAST(count(*) AS BIGINT) AS n_days
FROM lagged WHERE prev_n IS NOT NULL GROUP BY 1"""


ORACLES["dsir_select"] = r"""
WITH tgt AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0),
rawd AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 0),
tb AS (
  SELECT doc_id,
         list_transform(
           list_concat(toks,
             list_transform(range(1, len(toks)),
                            i -> toks[i] || ' ' || toks[i+1])),
           g -> CAST(concat('0x', substr(md5('dsir' || g), 1, 8)) AS BIGINT)
                % 1024) AS bks
  FROM (SELECT doc_id,
               list_filter(regexp_split_to_array(lower(text), '\s+'),
                           x -> x <> '') AS toks
        FROM tgt)
),
rb AS (
  SELECT doc_id,
         list_transform(
           list_concat(toks,
             list_transform(range(1, len(toks)),
                            i -> toks[i] || ' ' || toks[i+1])),
           g -> CAST(concat('0x', substr(md5('dsir' || g), 1, 8)) AS BIGINT)
                % 1024) AS bks
  FROM (SELECT doc_id,
               list_filter(regexp_split_to_array(lower(text), '\s+'),
                           x -> x <> '') AS toks
        FROM rawd)
),
tcnt AS (SELECT u.b AS bucket, count(*) AS tc FROM tb, unnest(bks) AS u(b) GROUP BY 1),
rcnt AS (SELECT u.b AS bucket, count(*) AS rc FROM rb, unnest(bks) AS u(b) GROUP BY 1),
tot AS (SELECT (SELECT sum(tc) FROM tcnt) AS tt, (SELECT sum(rc) FROM rcnt) AS rt),
ratio AS (
  SELECT g.bucket,
         ln(coalesce(tc, 0) + 1.0) - ln(tt + 1024.0)
       - ln(coalesce(rc, 0) + 1.0) + ln(rt + 1024.0) AS lw
  FROM (SELECT unnest(range(0, 1024)) AS bucket) g
  LEFT JOIN tcnt USING (bucket) LEFT JOIN rcnt USING (bucket), tot
),
occ AS (SELECT doc_id, u.b AS bucket FROM rb, unnest(bks) AS u(b)),
wsum AS (
  SELECT occ.doc_id, sum(r.lw) AS logw
  FROM occ JOIN ratio r USING (bucket) GROUP BY 1
),
w AS (
  SELECT rawd.doc_id, coalesce(wsum.logw, 0.0) AS logw
  FROM rawd LEFT JOIN wsum USING (doc_id)
),
scored AS (
  SELECT doc_id, round(logw, 4) AS weight,
         round(logw + (-ln(-ln(
           ((CAST(concat('0x', substr(md5('dsir' || CAST(doc_id AS VARCHAR)), 1, 8))
             AS BIGINT) % 1000000) + 0.5) / 1000000.0))), 4) AS score
  FROM w
)
SELECT doc_id, weight, score FROM scored ORDER BY score DESC, doc_id LIMIT 60"""


ORACLES["logreg_one_step"] = r"""
WITH lab AS (
  SELECT doc_id, CASE WHEN doc_id % 5 = 0 THEN 1.0 ELSE 0.0 END AS y, text
  FROM documents
),
fb AS (
  SELECT doc_id,
         list_transform(
           list_concat(toks,
             list_transform(range(1, len(toks)),
                            i -> toks[i] || ' ' || toks[i+1])),
           g -> CAST(concat('0x', substr(md5('lrstep' || g), 1, 8)) AS BIGINT)
                % 256) AS bks
  FROM (SELECT doc_id,
               list_filter(regexp_split_to_array(lower(text), '\s+'),
                           x -> x <> '') AS toks
        FROM lab)
),
x AS (
  SELECT doc_id, u.b AS bucket, CAST(count(*) AS DOUBLE) AS x
  FROM fb, unnest(bks) AS u(b) GROUP BY 1, 2
),
grad AS (
  SELECT bucket, sum((0.5 - l.y) * x.x) AS g
  FROM x JOIN lab l USING (doc_id) GROUP BY bucket
),
w AS (SELECT bucket, -g / 1024.0 AS w FROM grad),
s AS (
  SELECT x.doc_id, sum(x.x * w.w) AS score
  FROM x JOIN w USING (bucket) GROUP BY 1
)
SELECT d.doc_id, coalesce(s.score, 0.0) AS score
FROM documents d LEFT JOIN s USING (doc_id)"""


ORACLES["leakage_safe_split"] = _cluster_split_oracle()

# 4503599627370496 = 16^13 = 2^52: the 13-hex-digit prefix is exact in a
# double, so both engines compute the identical fraction (sketches.py)
ORACLES["distinct_kmv"] = """
WITH s AS (
  SELECT DISTINCT md5(text) AS h FROM documents ORDER BY h LIMIT 256
),
agg AS (SELECT count(*) AS k_rows, max(h) AS kth_hash FROM s)
SELECT 256 AS k, k_rows, kth_hash,
       round(CASE WHEN k_rows < 256 THEN CAST(k_rows AS DOUBLE)
             ELSE 255.0 / ((('0x' || substr(kth_hash, 1, 13))::BIGINT)
                           / 4503599627370496.0) END, 4) AS est_distinct
FROM agg"""

ORACLES["corpus_report"] = """
WITH s AS (
  SELECT DISTINCT md5(text) AS h FROM documents ORDER BY h LIMIT 256
),
agg AS (SELECT count(*) AS k_rows, max(h) AS kth_hash FROM s),
est AS (
  SELECT round(CASE WHEN k_rows < 256 THEN CAST(k_rows AS DOUBLE)
               ELSE 255.0 / ((('0x' || substr(kth_hash, 1, 13))::BIGINT)
                             / 4503599627370496.0) END, 4) AS distinct_text_est
  FROM agg
),
base AS (
  SELECT count(*) AS n_docs,
         count(DISTINCT source) AS n_sources,
         count(DISTINCT lang) AS n_langs,
         CAST(sum(length(list_filter(string_split(text, ' '), t -> t <> ''))) AS BIGINT) AS total_ws_tokens,
         round(avg(n_chars), 2) AS avg_chars
  FROM documents
)
SELECT n_docs, n_sources, n_langs, total_ws_tokens, avg_chars,
       distinct_text_est,
       round(1.0 - distinct_text_est / n_docs, 4) AS dup_rate_est
FROM base, est"""

ORACLES["trigram_like_search"] = """
SELECT doc_id FROM documents WHERE contains(lower(text), 'merge batch')"""

ORACLES["trigram_index_search"] = ORACLES["trigram_like_search"]

ORACLES["trigram_multi_search"] = """
WITH p(pattern_id, pat) AS (
  VALUES (CAST(0 AS BIGINT), 'merge batch'), (1, 'spark'), (2, 'zz'))
SELECT p.pattern_id, d.doc_id
FROM documents d JOIN p ON contains(lower(d.text), p.pat)"""

ORACLES["trigram_index_sync"] = """
WITH docs2(doc_id, text) AS (
  SELECT doc_id,
         CASE WHEN doc_id % 7 = 0
              THEN text || ' refreshed retrieval section'
              ELSE text END
  FROM documents WHERE doc_id % 7 <> 3
  UNION ALL
  SELECT * FROM (VALUES (CAST(-1 AS BIGINT), 'a fresh merge batch arrival'),
                        (-2, 'fast hash join probe build'),
                        (-3, 'slow scan filter vector pipeline'))
)
SELECT doc_id FROM docs2 WHERE contains(lower(text), 'merge batch')"""

ORACLES["masked_documents"] = """
SELECT doc_id,
       CASE WHEN length(text) <= 4 THEN text
            ELSE repeat('*', length(text) - 4)
                 || substr(text, length(text) - 3) END AS text,
       md5(source) AS source,
       lang
FROM documents"""

# fixpoint reachability closure: fine at the 200-node board scale; the
# engine side runs star contraction, which is the 10^9-node form
ORACLES["link_graph_components"] = """
WITH RECURSIVE
base AS (
  SELECT DISTINCT (user_id % 200) AS src, (event_id % 200) AS dst
  FROM events
  WHERE (user_id + event_id) % 17 = 3 AND (user_id % 200) <> (event_id % 200)
),
nodes AS (SELECT src AS node FROM base UNION SELECT dst FROM base),
bi AS (SELECT src, dst FROM base UNION SELECT dst AS src, src AS dst FROM base),
walk(node, reach) AS (
  SELECT node, node FROM nodes
  UNION
  SELECT w.node, b.dst FROM walk w JOIN bi b ON b.src = w.reach
)
SELECT node, min(reach) AS component FROM walk GROUP BY node"""

ORACLES["drift_psi_events"] = """
WITH thr AS (SELECT max(event_id) // 2 AS t FROM events),
a AS (SELECT event_type AS category, count(*) AS n_ref
      FROM events, thr WHERE event_id <= t GROUP BY 1),
b AS (SELECT event_type AS category, count(*) AS n_cur
      FROM events, thr WHERE event_id > t GROUP BY 1),
j AS (SELECT coalesce(a.category, b.category) AS category,
             coalesce(n_ref, 0) AS n_ref, coalesce(n_cur, 0) AS n_cur
      FROM a FULL OUTER JOIN b ON a.category = b.category),
tot AS (SELECT CAST(sum(n_ref) AS BIGINT) AS t_ref,
               CAST(sum(n_cur) AS BIGINT) AS t_cur,
               count(*) AS n_cat FROM j)
SELECT category, n_ref, n_cur,
       round((n_ref + 0.5) / (t_ref + 0.5 * n_cat), 6) AS p_ref,
       round((n_cur + 0.5) / (t_cur + 0.5 * n_cat), 6) AS q_cur,
       round(((n_ref + 0.5) / (t_ref + 0.5 * n_cat)
              - (n_cur + 0.5) / (t_cur + 0.5 * n_cat))
             * ln(((n_ref + 0.5) / (t_ref + 0.5 * n_cat))
                  / ((n_cur + 0.5) / (t_cur + 0.5 * n_cat))), 6) AS psi_term
FROM j, tot
ORDER BY category"""


def _materialize_repeated_ctes(sql: str) -> str:
    """Mark every CTE referenced 2+ times ``AS MATERIALIZED``.

    DuckDB 1.0 INLINES repeated CTE references (one subplan copy per
    reference), so a chain of multiply-referenced CTEs re-executes its
    upstream pipeline exponentially — the sf0.1 board sweep caught the
    CC oracle 30+ GB / 35-minutes deep on what is a ~30 s query when
    each CTE runs once. Applied uniformly here rather than hand-marked
    per oracle: results are identical (materialization is plan-only),
    and every oracle table in this suite is small enough that blocking
    filter-pushdown into a materialized CTE is noise next to the
    exponential re-execution it prevents. Recursive (self-referencing)
    CTEs are skipped — DuckDB rejects MATERIALIZED on them."""
    import re as _re

    defs = []
    for m in _re.finditer(
        r"(?<![\w.])([A-Za-z_]\w*)(\s*\([^()]*\))?\s+AS\s+\(", sql, _re.I
    ):
        if sql[m.start() - 13 : m.start() - 1].upper().endswith("MATERIALIZED"):
            continue
        # find the definition body by matching parens from the "AS ("
        open_paren = m.end() - 1
        depth, i = 0, open_paren
        while i < len(sql):
            if sql[i] == "(":
                depth += 1
            elif sql[i] == ")":
                depth -= 1
                if depth == 0:
                    break
            i += 1
        defs.append((m.group(1), m.start(), m.end(), open_paren, i))
    out = sql
    # Reference pattern includes ",\s*name" so comma-style FROM lists
    # ("FROM nodes, nn") are counted — they are how pagerank's nn is
    # referenced 7×. This OVERCOUNTS (a select-list ", name" matches
    # too), which is safe: materializing a once-referenced CTE is
    # plan-only and results-identical, while UNDERCOUNTING silently
    # re-opens the exponential-inlining hole this guard closes.
    ref_pat = r"(?:\bFROM\s+|\bJOIN\s+|,\s*)"
    # apply replacements right-to-left so earlier offsets stay valid
    for name, start, end, body_a, body_b in reversed(defs):
        body = sql[body_a : body_b + 1]
        refs = len(_re.findall(ref_pat + name + r"\b", sql, _re.I))
        self_ref = bool(_re.search(
            r"\b(?:FROM|JOIN)\s+" + name + r"\b", body, _re.I
        ))
        if refs >= 2 and not self_ref:
            # rewrite "<name> [cols] AS (" (either case) -> "... AS MATERIALIZED ("
            head = out[start:end]
            out = out[:start] + head[:-1].rstrip()[:-2] + "AS MATERIALIZED (" + out[end:]
    return out


def oracle_sql() -> dict[str, str]:
    return {k: _materialize_repeated_ctes(v) for k, v in ORACLES.items()}
