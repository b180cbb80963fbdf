"""Benchmark harness — runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric", "value", "unit": "sec", "queries": {...}, "sf": ...}.

The headline queries are relational/dedup/similarity/text queries from
the driver contract (__spark_entry__.QUERIES), each executed to
completion via the noop sink (full execution, no driver-collect
overhead); "value" is their summed wall. The CDC ingest path has its
own benchmark, ``perfbench/`` (bulk backfill, merge-on-read trickle,
reads beside writes), which imports ``_cached_event_log`` and
``_node_health_probe`` from here.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

import __spark_entry__ as contract  # noqa: E402
from datax_spark.session import get_spark  # noqa: E402

# headline subset: every operator family, weighted toward the ones whose
# plans matter at scale (shuffle-heavy aggs, merge join, LSH band join)
HEADLINE = [
    "pricing_summary",
    "filter_project_pushdown",
    "lww_latest_by_key",
    "lineage_partition_agg",
    "merge_upsert_fullouter",
    "topk_per_group",
    "schema_evolution_union",
    "rollup_agg",
    "distinct_agg",
    "sessionize_events",
    "transformer_chain",
    "dedup_exact",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "dedup_minhash_lsh_fast",
    "dedup_simhash",
    "text_stats",
    "lang_id_confusion",
    "token_count_by_source",
    "tokenize_vocab_encode",
    "ann_bruteforce_topk",
    "ann_ivf_topk",
    "ann_ivf_trained_topk",
    "ann_pq_adc_topk",
    "multimodal_meta",
    "multimodal_wav_roundtrip",
    "multimodal_png_roundtrip",
    "dedup_embedding_lsh_prod",
    "dedup_embedding_lsh_capped",
    "line_dedup_corpus",
    "repetition_signals",
    "gopher_quality",
    "decontamination",
    "dedup_minhash_incremental",
    "near_dup_clusters",
    "embedding_quantize",
    "embedding_projection",
    "url_canonicalize",
    "stratified_sample",
    "curation_pipeline",
    "full_prep_pipeline",
    "full_prep_funnel",
    "bm25_retrieval",
    "duplicate_span_stats",
    "patch_fold",
    "intra_doc_line_dedup",
    "quality_classifier",
    "bloom_membership",
    "url_blocklist",
    "mixing_apply",
    "asof_join_events",
    "scd2_build",
    "anomaly_zscore",
    "top_tokens",
    "tfidf_top_terms",
    "edit_distance_pairs",
    "interval_attribution",
    "unicode_nfc",
    "expectations_report",
    "customer_order_distribution",
    "large_volume_customers",
    "event_transition_matrix",
    "gap_fill_forward",
    "link_graph_triangles",
    "weighted_sample",
    "conversion_time_quantiles",
    "local_supplier_volume",
    "profit_by_nation_year",
    "waiting_orders_blame",
    "multires_rollup",
    "incremental_view_maintain",
    "dsir_select",
    "leakage_safe_split",
    "logreg_one_step",
    "debezium_roundtrip",
    "merge_into_clauses",
    "distinct_kmv",
    "drift_psi_events",
    "link_graph_components",
    "trigram_like_search",
    "trigram_index_search",
    # CDC-maintained artifacts (round-3 2026-08-21): timing includes
    # the fixture's table build + churn epoch + changelog sync on a
    # cold cache — the sync IS the measured work
    "bm25_index_sync",
    "trigram_index_sync",
    "dedup_minhash_sync",
    "join_view_sync",
    "trigram_multi_search",
    "point_lookup",
]

def _cached_event_log(spec) -> Path:
    """Deterministic log is a pure function of the spec — generate once
    per spec, reuse across bench runs (incl. the two scaling runs)."""
    from datax_spark.datagen.generator import generate_event_log

    # key over EVERY spec field: a log cached under a partial key would
    # be silently reused across e.g. words_scale changes (page weight),
    # poisoning scaling comparisons
    key = "-".join(
        f"{k}{getattr(spec, k)}" for k in sorted(vars(spec)) if not k.startswith("_")
    )
    d = Path(tempfile.gettempdir()) / f"datax_benchlog_{key}"
    done = d / "_DONE"
    if not done.exists():
        shutil.rmtree(d, ignore_errors=True)
        generate_event_log(d, spec)
        done.touch()
    return d


def _node_health_probe() -> dict:
    """~0.1s node-speed self-probe recorded in the output JSON: this
    sandbox is a shared-host VM whose effective memory bandwidth has
    been observed to degrade >100x for stretches of minutes-to-hours
    (measured 2026-08-18: a 256 MB numpy copy took 31.5s vs ~0.05s
    healthy, with single-thread CPU unaffected). Spark walls here are
    dominated by memory traffic, so a bench captured during such an
    episode is not comparable across rounds — the probe stamps each
    run with the evidence needed to normalize."""
    import numpy as np

    a = np.ones(256 * 1024 * 1024 // 8)
    t0 = time.monotonic()
    b = a.copy()
    copy_s = time.monotonic() - t0
    del a, b
    t0 = time.monotonic()
    sum(i * i for i in range(5_000_000))
    cpu_s = time.monotonic() - t0
    return {
        "mem_copy_256mb_sec": round(copy_s, 4),
        "mem_copy_gbps": round(0.5 / copy_s, 2),
        "cpu_loop_5m_sec": round(cpu_s, 3),
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = float(Path(sf_dir).name.replace("sf", "") or 0.1)
    spark = get_spark(
        "datax_bench", master=f"local[{cpus}]", shuffle_partitions=cpus
    )
    spark.conf.set("spark.sql.session.timeZone", "UTC")

    queries = contract.queries()
    timings: dict[str, float] = {}
    split: dict[str, dict[str, float]] = {}
    for name in HEADLINE:
        # time construction + execution: operators that materialize
        # internally (funnel's single-action aggregate, persisted-index
        # builds, k-means training) do their real work during
        # construction, and timing only the noop write would
        # under-report them to near zero. The per-query build_s/exec_s
        # split (since r04) keeps index-build-heavy entries
        # attributable: build_s covers the queries() callable
        # (fixtures, index builds, training), exec_s the noop-sink
        # execution of the returned frame. r03 reported only the sum;
        # r01/r02 timed exec only — cross-round per-query deltas
        # spanning that boundary are apples-to-oranges (see README).
        t0 = time.monotonic()
        df = queries[name](spark, sf_dir)
        t1 = time.monotonic()
        df.write.format("noop").mode("overwrite").save()
        t2 = time.monotonic()
        timings[name] = round(t2 - t0, 3)
        split[name] = {
            "build_s": round(t1 - t0, 3),
            "exec_s": round(t2 - t1, 3),
        }

    total = round(sum(timings.values()), 3)
    print(
        json.dumps(
            {
                "metric": "headline_queries_wall",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "queries_split": split,
                "timing": "construction+exec",
                "sf": sf,
                "cores": cpus,
                "node_health": _node_health_probe(),
            }
        )
    )


if __name__ == "__main__":
    main()
