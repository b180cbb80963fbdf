"""Product quantization (PQ) for embedding corpora — the memory layout
that makes 10^9-vector ANN serveable (Jégou et al. 2011, public method).

Each d-dim vector splits into ``m`` subvectors; every subspace gets its
own k-means codebook of ``k_codes`` codewords; a vector is stored as m
small integer codes (d·4 bytes → m bytes at k_codes ≤ 256). Queries use
ADC (asymmetric distance): ONE (m × k_codes) lookup table of partial
squared-L2 distances per query, after which scoring a corpus vector is
m table lookups + a fixed-order sum — no float vector is ever touched
at scan time.

All of it is DataFrame composition (no UDF):
* training: per-subspace L2 k-means as ``n_iter`` crossJoin/aggregate
  rounds over an exploded (id, sub, subvector) frame — every subspace
  trains in the SAME plan; only m·k_codes centroids reach the driver;
* encoding: argmin join against the broadcast codebook;
* ADC: the per-query LUT is |queries|·m·k_codes rows (broadcast), the
  corpus side joins on (sub, code) and pivots the m partials into
  columns so the final sum has a FIXED association order.

Determinism / oracle parity (``ann_pq_adc_topk`` in the driver
contract): init = the k_codes lowest-id subvectors per subspace;
assignment = argmin over round(dist², 6) with code tie-break; squared
L2 via the dot identity dot(a,a) - 2·dot(a,b) + dot(b,b) with the same
operand order in Spark and DuckDB — the discrete code sequence is
engine-independent, like similarity.train_kmeans_cells.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from datax_spark.operators.similarity import _as_double, _dot


def _sq_l2(a: Column, b: Column) -> Column:
    """Squared L2 through the dot identity — fixed operand order, used
    verbatim by the SQL oracle."""
    return _dot(a, a) - F.lit(2.0) * _dot(a, b) + _dot(b, b)


def subvectors(
    df: DataFrame, m: int, dim: int, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """(id, sub, sv) — one row per subspace. ``dim`` must divide by m
    (PQ's layout contract; validated here, not at scan time)."""
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    sd = dim // m
    v = _as_double(F.col(vec_col))
    pairs = F.array(
        *[
            F.struct(F.lit(s).alias("sub"), F.slice(v, s * sd + 1, sd).alias("sv"))
            for s in range(m)
        ]
    )
    return df.select(F.col(id_col), F.inline(pairs))


def train_pq(
    corpus: DataFrame,
    m: int = 4,
    k_codes: int = 8,
    n_iter: int = 2,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Train the m codebooks; returns a broadcastable DataFrame
    (sub, code, centroid array<double>) — m·k_codes rows total."""
    spark = corpus.sparkSession
    subs = subvectors(corpus, m, dim, id_col, vec_col)
    init = (
        subs.withColumn(
            "code",
            F.row_number().over(Window.partitionBy("sub").orderBy(id_col)) - 1,
        )
        .filter(F.col("code") < k_codes)
        .select("sub", "code", F.col("sv").alias("centroid"))
        .collect()
    )
    cents = sorted((r["sub"], r["code"], list(r["centroid"])) for r in init)
    aw = Window.partitionBy(id_col, "sub").orderBy(
        F.round(F.col("d2"), 6).asc(), F.col("code").asc()
    )
    cb = None
    for _ in range(n_iter):
        cb = F.broadcast(
            spark.createDataFrame(cents, "sub int, code int, centroid array<double>")
        )
        assign = (
            subs.join(cb, "sub")
            .select(
                id_col, "sub", "sv", "code",
                _sq_l2(F.col("sv"), F.col("centroid")).alias("d2"),
            )
            .withColumn("rn", F.row_number().over(aw))
            .filter(F.col("rn") == 1)
        )
        new_cents = (
            assign.select("sub", "code", F.posexplode(F.col("sv")).alias("pos", "x"))
            .groupBy("sub", "code", "pos")
            .agg(F.avg("x").alias("avgv"))
            .groupBy("sub", "code")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "avgv"))),
                    lambda s: s.avgv,
                ).alias("centroid")
            )
            .collect()
        )
        cents = sorted((r["sub"], r["code"], list(r["centroid"])) for r in new_cents)
    return F.broadcast(
        spark.createDataFrame(cents, "sub int, code int, centroid array<double>")
    )


def pq_encode(
    corpus: DataFrame,
    codebook: DataFrame,
    m: int,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, codes array<int>) — codes ordered by subspace."""
    subs = subvectors(corpus, m, dim, id_col, vec_col)
    aw = Window.partitionBy(id_col, "sub").orderBy(
        F.round(F.col("d2"), 6).asc(), F.col("code").asc()
    )
    best = (
        subs.join(codebook, "sub")
        .select(
            id_col, "sub", "code", _sq_l2(F.col("sv"), F.col("centroid")).alias("d2")
        )
        .withColumn("rn", F.row_number().over(aw))
        .filter(F.col("rn") == 1)
    )
    return best.groupBy(id_col).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("sub", "code"))), lambda s: s.code
        ).alias("codes")
    )


def adc_lut(
    queries: DataFrame,
    codebook: DataFrame,
    m: int,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-query ADC lookup table: (query_id, sub, code, pd) —
    |queries| · m · k_codes rows, broadcastable."""
    qsubs = subvectors(queries, m, dim, id_col, vec_col).select(
        F.col(id_col).alias("query_id"), "sub", F.col("sv").alias("qsv")
    )
    return F.broadcast(
        qsubs.join(codebook, "sub").select(
            "query_id", "sub", "code",
            _sq_l2(F.col("qsv"), F.col("centroid")).alias("pd"),
        )
    )


def adc_rank(scored_subs: DataFrame, m: int, k: int) -> DataFrame:
    """Shared ADC tail — used by both pq_topk and IvfIndex.probe_adc,
    which must stay bit-identical (differential-tested): pivot the m
    partials into columns so the sum has a FIXED association order (a
    plain sum() aggregates in partition order: nondeterministic ulps),
    drop self-pairs, rank ascending on round(·, 6) with id tie-break.
    Input rows: (query_id, neighbor_id, sub, pd)."""
    per_pair = scored_subs.groupBy("query_id", "neighbor_id").agg(
        *[
            F.max(F.when(F.col("sub") == s, F.col("pd"))).alias(f"d{s}")
            for s in range(m)
        ]
    )
    total = F.col("d0")
    for s in range(1, m):
        total = total + F.col(f"d{s}")
    scored = per_pair.filter(F.col("query_id") != F.col("neighbor_id")).select(
        "query_id", "neighbor_id", total.alias("ad")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.round(F.col("ad"), 6).asc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select(
            "query_id", "neighbor_id", F.round(F.col("ad"), 4).alias("approx_dist"),
            "rank",
        )
    )


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
    m: int = 4,
    k_codes: int = 8,
    n_iter: int = 2,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Train + encode + ADC top-k: (query_id, neighbor_id, approx_dist,
    rank) — rank ascending on the rounded ADC squared-L2, id tie-break.
    The corpus embedding column is read ONLY during train/encode; the
    scan that serves queries touches codes alone."""
    cb = train_pq(corpus, m, k_codes, n_iter, dim, id_col, vec_col)
    codes = pq_encode(corpus, cb, m, dim, id_col, vec_col)
    lut = adc_lut(queries, cb, m, dim, id_col, vec_col)
    exploded = codes.select(
        F.col(id_col).alias("neighbor_id"), F.posexplode("codes").alias("sub", "code")
    )
    # the lut join pairs every neighbor-sub row with every query
    joined = exploded.join(lut, ["sub", "code"]).select(
        "query_id", "neighbor_id", "sub", "pd"
    )
    return adc_rank(joined, m, k)
