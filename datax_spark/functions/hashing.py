"""Key partitioning (SURVEY.md §2.2 P4, §2.7 T8).

The engine's physical layout is **url-hash partitioning**: a row lands in
partition ``pmod(murmur3(url), num_partitions)`` — murmur3 with seed 42,
exactly Spark's own HashPartitioning function (see ``url_partition``).
The hash identity is recorded in every table's partition_spec as
``PARTITION_HASH`` and validated on load: a table laid out under a
different hash would silently mis-prune and mis-route MERGE, so loading
one is a hard error, not a wrong answer. Deterministic partitioning is
what makes replay produce identical file layouts (BASELINE.json:6).

Hot-domain skew (zipf-distributed domains) needs no salt. Hashing the
full url spreads one hot domain's pages across all partitions, and a hot
single url collapses before any shuffle: the LWW Window plans a partial
top-1 per key on the map side (operators/lww.py), so each mapper ships
one row per key whatever its event count.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# The partitioning function's identity, persisted in partition_spec and
# checked by IceTable.load — changing url_partition REQUIRES changing
# this name (and therefore invalidating stored layouts) in the same
# commit, so a layout/hash mismatch can never load silently.
PARTITION_HASH = "murmur3_x86_32/seed=42"


def url_partition(key: Column | str, num_partitions: int) -> Column:
    """Stable storage partition id for a key: pmod(murmur3(key), P).

    Murmur3 (``F.hash``, fixed seed 42) is exactly the hash Spark's
    HashPartitioning uses, so ``df.repartition(P, key)`` physically
    routes every row to the task whose index equals its storage
    partition id — the write stage needs no range-sampling pass and no
    second shuffle, and when upstream operators (the MERGE join) already
    hash-partition on the key with P partitions the exchange is reused
    outright. Deterministic across runs and Spark versions (it is the
    shuffle contract), which replay requires."""
    c = F.col(key) if isinstance(key, str) else key
    return F.pmod(F.hash(c), F.lit(num_partitions)).cast("int")

