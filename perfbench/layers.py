"""Per-layer metrics of a traced run, from spans, the Spark event log and
end-of-run table facts. Each metric is ``name -> (value, unit, base)``
where ``base`` is the sample count (or the denominator of a ratio). A
metric whose layer the workload does not exercise reads 0 with base 0.

Which end-to-end metric each one should move is mapped in README.md.
"""

from __future__ import annotations

import statistics
import time
from collections import defaultdict

from tracing import attribute_jobs, self_time

MIB = 1 << 20


def table_facts(run) -> dict:
    """End-of-run facts read through public table and extractor APIs."""
    from pyspark.sql import functions as F

    from datax_spark.functions.extract import extract_text
    from workloads import dir_bytes

    t = run.table
    per_pid = {
        r["partition_id"]: r["rows_in"]
        for r in t.read_lineage()
        .filter(F.col("checkpoint_epoch").isin(run.out.epoch_ids))
        .groupBy("partition_id")
        .agg(F.sum("rows_in").alias("rows_in"))
        .collect()
    }
    rows = [per_pid.get(p, 0) or 0 for p in range(t.num_partitions)]
    mean = sum(rows) / len(rows)
    # a fixed page sample from the timed part of the log, single thread
    first_timed = run.shape.preload_shards + run.shape.warmup_epochs
    pages = [
        e["html"] for evs in run.events_by_shard[first_timed:] for e in evs if e["html"]
    ][:300]
    per_page = []
    for _ in range(3):
        s = time.perf_counter()
        for h in pages:
            extract_text(h)
        per_page.append((time.perf_counter() - s) / max(len(pages), 1) * 1e6)
    return {
        "rows_skew": (max(rows) / mean if mean else 0.0, len(rows)),
        "us_per_page": (statistics.median(per_page), len(pages)),
        "live_files": len(t.manifest_entries()),
        "delete_files": len(t.delete_entries()),
        "metadata_kb": dir_bytes(t.meta_dir) / 1024,
    }


def _ms(s: dict) -> float:
    return (s["end"] - s["start"]) * 1000


def _med(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def layer_metrics(spans: list[dict], jobs: list[dict], tasks: list[dict], facts: dict):
    by_id = {s["id"]: s for s in spans}
    kids: dict[int, list[dict]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            kids[s["parent"]].append(s)

    def under(s: dict, name: str) -> bool:
        while s["parent"] is not None:
            s = by_id[s["parent"]]
            if s["name"] == name:
                return True
        return False

    def self_ms(s: dict) -> float:
        # a collect is the calling layer's own Spark action: not a child layer
        return self_time(s, [c for c in kids[s["id"]] if c["name"] != "collect"]) * 1000

    def in_ingest(name: str) -> list[dict]:
        return [s for s in spans if s["name"] == name and under(s, "apply_epoch")]

    epochs = [s for s in spans if s["name"] == "step.epoch"]
    lookups = [s for s in spans if s["name"] == "step.lookup"]
    n_ep = len(epochs)
    applies = [
        s for s in spans if s["name"] == "apply_epoch" and "mode" in s and not s["skipped"]
    ]
    m: dict[str, tuple[float, str, int]] = {}

    # streaming.source
    rr = [s for s in spans if s["name"] == "read_range"]
    m["source.read_range_ms"] = (_med([_ms(s) for s in rr]), "ms", len(rr))
    m["source.shards_per_epoch"] = (
        sum(s["shards"] for s in rr) / len(rr) if rr else 0.0, "count", len(rr)
    )

    # streaming.driver maintenance (the table services it calls)
    maint = [
        s for s in spans
        if s["name"] in ("compact_partition", "expire_snapshots")
        and not under(s, "apply_epoch")
        and not under(s, "compact_partition")
    ]
    m["driver.maintain_ms"] = (sum(_ms(s) for s in maint) / n_ep if n_ep else 0.0, "ms", n_ep)
    m["driver.compactions"] = (
        float(sum(1 for s in maint if s.get("compacted"))), "count", n_ep
    )
    m["driver.expired_files"] = (float(sum(s.get("expired", 0) for s in maint)), "count", n_ep)

    # operators.merge
    m["merge.self_ms"] = (_med([self_ms(s) for s in applies]), "ms", len(applies))
    m["merge.mor_epochs"] = (float(sum(s["mode"] == "mor" for s in applies)), "count", len(applies))
    m["merge.cow_epochs"] = (float(sum(s["mode"] == "cow" for s in applies)), "count", len(applies))
    cow = [s for s in applies if s["mode"] == "cow"]
    cow_keys = sum(s["keys"] for s in cow)
    removed = sum(
        c.get("removed_rows", 0) for s in cow for c in kids[s["id"]] if c["name"] == "commit"
    )
    m["merge.rewrite_rows_per_key"] = (removed / cow_keys if cow_keys else 0.0, "ratio", cow_keys)

    # operators.lww / operators.quarantine
    keys = sum(s["keys"] for s in applies)
    rows_in = sum(s["rows_in"] for s in applies)
    events = rows_in + sum(s["rows_dirty"] for s in applies)
    m["lww.events_per_key"] = (rows_in / keys if keys else 0.0, "ratio", keys)
    m["quarantine.dirty_rows"] = (
        float(sum(s["rows_dirty"] for s in applies)), "count", len(applies)
    )
    qw = in_ingest("write_quarantine")
    m["quarantine.write_ms"] = (_med([_ms(s) for s in qw]), "ms", len(qw))

    # functions.extract / functions.hashing
    m["extract.us_per_page"] = (facts["us_per_page"][0], "us", facts["us_per_page"][1])
    upserted = sum(s["upserted"] for s in applies)
    m["extract.pages_per_event"] = (upserted / events if events else 0.0, "ratio", events)
    m["partition.rows_skew"] = (facts["rows_skew"][0], "ratio", facts["rows_skew"][1])

    # icetable.table
    sw = in_ingest("stage_write")
    bp = in_ingest("bloom_prune")
    rp = in_ingest("read_partitions")
    cm = in_ingest("commit")
    considered = sum(s["considered"] for s in bp)
    m["table.stage_write_ms"] = (_med([self_ms(s) for s in sw]), "ms", len(sw))
    m["table.bloom_prune_ms"] = (_med([_ms(s) for s in bp]), "ms", len(bp))
    m["table.bloom_kept_ratio"] = (
        sum(s["kept"] for s in bp) / considered if considered else 0.0, "ratio", considered
    )
    m["table.read_partitions_ms"] = (_med([self_ms(s) for s in rp]), "ms", len(rp))
    m["table.commit_ms"] = (_med([_ms(s) for s in cm]), "ms", len(cm))
    m["table.files_written"] = (
        sum(s["files"] for s in sw) / n_ep if n_ep else 0.0, "count/epoch", n_ep
    )
    m["table.bytes_written_mb"] = (
        sum(s["bytes"] for s in sw) / MIB / n_ep if n_ep else 0.0, "MB/epoch", n_ep
    )
    m["table.live_files"] = (float(facts["live_files"]), "count", 1)
    m["table.delete_files"] = (float(facts["delete_files"]), "count", 1)
    m["table.metadata_kb"] = (facts["metadata_kb"], "KB", 1)
    lk = [s for s in spans if s["name"] == "lookup" and under(s, "step.lookup")]
    m["table.lookup_ms"] = (_med([_ms(s) for s in lk]), "ms", len(lk))

    # Spark engine, from the event log: jobs land on the step whose span
    # contains their submission (see tracing.attribute_jobs)
    owner = attribute_jobs(spans, jobs)
    step_of = {j: (s["step"][0] if s and s["step"] else None) for j, s in owner.items()}
    epoch_jobs = {j for j, k in step_of.items() if k == "epoch"}
    epoch_tasks = [t for t in tasks if t["job"] in epoch_jobs]

    def per_epoch(x: float) -> float:
        return x / n_ep if n_ep else 0.0

    m["spark.jobs_per_epoch"] = (per_epoch(len(epoch_jobs)), "count", n_ep)
    m["spark.tasks_per_epoch"] = (per_epoch(len(epoch_tasks)), "count", n_ep)
    m["spark.executor_run_s"] = (
        per_epoch(sum(t["run_ms"] for t in epoch_tasks) / 1000), "s/epoch", n_ep
    )
    m["spark.shuffle_write_mb"] = (
        per_epoch(sum(t["shuffle_write"] for t in epoch_tasks) / MIB), "MB/epoch", n_ep
    )
    m["spark.spill_mb"] = (per_epoch(sum(t["spill"] for t in epoch_tasks) / MIB), "MB/epoch", n_ep)
    m["spark.gc_s"] = (per_epoch(sum(t["gc_ms"] for t in epoch_tasks) / 1000), "s/epoch", n_ep)
    lookup_jobs = sum(1 for k in step_of.values() if k == "lookup")
    m["spark.jobs_per_lookup"] = (
        lookup_jobs / len(lookups) if lookups else 0.0, "count", len(lookups)
    )
    m["trace.epoch_s_p50"] = (_med([_ms(s) / 1000 for s in applies]), "s", len(applies))
    return m


def jobs_by_layer(spans: list[dict], jobs: list[dict]) -> dict[str, int]:
    """Job count per innermost span (time-overlap attribution); a job
    inside a ``collect`` is named after the layer that called it."""
    by_id = {s["id"]: s for s in spans}
    counts: dict[str, int] = defaultdict(int)
    for s in attribute_jobs(spans, jobs).values():
        if s is None:
            continue
        name = s["name"]
        if name == "collect" and s["parent"] is not None:
            name = f"{by_id[s['parent']]['name']}.collect"
        counts[name] += 1
    return dict(counts)
