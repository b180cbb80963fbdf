"""Oracle gate: the engine's output against ``datagen.reference_apply``.

The reference fold runs over the exact events the engine was given. Table
rows must match it on key set, ``_lsn``, html bytes, and ``text`` must be
byte-equal to ``extract_text(html)``. Quarantined dirty events are
skipped by both sides and are expected outcomes, not failures.
"""

from __future__ import annotations

import multiprocessing
from concurrent.futures import ProcessPoolExecutor
from pathlib import Path

import pyarrow.parquet as pq

from datax_spark.datagen.generator import reference_apply


def load_events(shard: Path) -> list[dict]:
    """A shard's events in log order, as plain dicts (the shape
    ``reference_apply`` folds). Shards before a schema evolution lack its
    columns."""
    return pq.read_table(shard).to_pylist()


def _extract_all(htmls: list[bytes]) -> list[str | None]:
    from datax_spark.functions.extract import extract_text

    return [extract_text(h) for h in htmls]


# below this much html a single thread beats starting worker processes
_POOL_MIN_BYTES = 16 << 20


def expected_texts(htmls: list[bytes], workers: int) -> list[str | None]:
    """``extract_text`` over every page; large tables spread over spawned
    worker processes (one thread extracts roughly 5-10 MB/s)."""
    if workers <= 1 or sum(len(h) for h in htmls if h) < _POOL_MIN_BYTES:
        return _extract_all(htmls)
    chunk = -(-len(htmls) // workers)
    parts = [htmls[i : i + chunk] for i in range(0, len(htmls), chunk)]
    ctx = multiprocessing.get_context("spawn")
    try:
        with ProcessPoolExecutor(max_workers=len(parts), mp_context=ctx) as ex:
            futures = [ex.submit(_extract_all, p) for p in parts]
            return [t for f in futures for t in f.result()]
    finally:
        _stop_resource_tracker()


def _stop_resource_tracker() -> None:
    """A spawn-context pool starts multiprocessing's resource tracker, a
    helper process that otherwise lives on until this interpreter has
    exited. Stop it (it exits on EOF of its pipe) and wait for it."""
    from multiprocessing import resource_tracker

    stop = getattr(resource_tracker._resource_tracker, "_stop", None)
    if stop is not None:
        stop()


def diff_rows(
    rows: list[dict], state: dict[str, dict], texts: list[str | None] | None = None
) -> list[str]:
    """Mismatches between table rows (with ``_lsn``) and the oracle
    ``state``; empty when equal. ``texts`` are the expected extracted
    texts of ``rows`` in order (computed here when None)."""
    problems: list[str] = []
    seen: set[str] = set()
    if texts is None:
        texts = _extract_all([r["html"] for r in rows])
    for r, text in zip(rows, texts):
        url = r["url"]
        if url in seen:
            problems.append(f"duplicate key {url}")
            continue
        seen.add(url)
        want = state.get(url)
        if want is None:
            problems.append(f"row for absent key {url}")
            continue
        if r["_lsn"] != want["lsn"]:
            problems.append(f"{url}: _lsn {r['_lsn']} != {want['lsn']}")
        if bytes(r["html"]) != want["html"]:
            problems.append(f"{url}: html differs at lsn {want['lsn']}")
        if r["text"] != text:
            problems.append(f"{url}: text != extract_text(html)")
        for col in ("lang", "title"):
            if col in r and r[col] != want.get(col):
                problems.append(f"{url}: {col} {r[col]!r} != {want.get(col)!r}")
    missing = set(state) - seen
    if missing:
        problems.append(f"{len(missing)} keys missing, e.g. {sorted(missing)[:3]}")
    return problems


def check_table(table, events: list[dict], workers: int) -> list[str]:
    """Full-table gate after a run: ``read(with_lsn=True)`` against the
    fold of every applied event."""
    state = reference_apply(events)
    rows = [r.asDict() for r in table.read(with_lsn=True).collect()]
    texts = expected_texts([r["html"] for r in rows], workers)
    return diff_rows(rows, state, texts)


def lookup_problems(key: str, rows: list[dict], state: dict[str, dict]) -> list[str]:
    """A point lookup against the oracle state as of its epoch: one
    matching row for a live key, none for a deleted or unknown key."""
    if key not in state:
        return [f"lookup {key}: {len(rows)} rows for an absent key"] if rows else []
    if len(rows) != 1:
        return [f"lookup {key}: {len(rows)} rows for a live key"]
    return diff_rows(rows, {key: state[key]})


def scan_problems(rows: list[tuple[str, int]], state: dict[str, dict], since) -> list[str]:
    """A ``warc_ts >= since`` scan against the oracle: same (key, lsn) set."""
    want = {(u, e["lsn"]) for u, e in state.items() if e["warc_ts"] >= since}
    got = set(rows)
    if len(got) != len(rows):
        return [f"scan since {since}: duplicate rows"]
    if got != want:
        return [
            f"scan since {since}: {len(got - want)} unexpected, "
            f"{len(want - got)} missing rows"
        ]
    return []
