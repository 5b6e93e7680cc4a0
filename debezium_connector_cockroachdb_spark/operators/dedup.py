"""Per-key last-writer-wins ordering (D1, §2.4): the engine's one arg-max.

Reference: a bounded 10k-entry LRU keyed by ``tableId:op:ts_ns:rowKey``
(CockroachDBStreamingChangeEventSource.java:85-104, createEventId :882-893)
drops redeliveries, then events apply in commit order, last wins.

Spark-first re-expression: both collapse into one rule — per key, the event
with the greatest ordering tuple wins — and the same primitive,
``argmax_rows``, serves the micro-batch (``dedupe_batch``), the MoR
read-time resolution and compaction (``sources/lake.py``). No identity
``dropDuplicates`` runs: a redelivery under a fresh offset carries the same
payload, so either copy wins equivalently; a redelivery under the same
offset repeats the full tuple, and the arg-max keeps one row per key anyway;
cross-batch replays are no-ops by the merge guard, so no LRU memory bound
is needed at all.

Per-key ordering is a **top-1 window**: ``row_number() = 1`` over the key,
ordered by the tuple descending. Spark (3.5+) plans it as a map-side
``WindowGroupLimit … Partial`` (each input partition keeps only its own
top row per key), one Exchange on the key, then the final limit and
window. A key with 10^6 updates therefore ships ~#partitions rows instead
of 10^6 — the hot-key-skew story at 10^10 events — and the input is
scanned once: no winner aggregate forks the plan, no join brings the
payload back.

Ordering key: (commit_wall_ns, commit_logical, seq) — HLC order with the
log offset as tie-break, matching the reference's arrival-order application
of same-HLC delete+insert sequences (FIXTURES.md scenario 6).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

ORDERING = ["commit_wall_ns", "commit_logical", "seq"]


def argmax_rows(df: DataFrame, pk_col: str, ordering: list[str]) -> DataFrame:
    """Exactly one row per key of ``df``: the one holding the key's greatest
    ``ordering`` tuple, in ``df``'s column layout.

    Tuples compare field by field with NULL below every value (the order
    of ``max(struct(...))``), so a key whose only rows carry a NULL field
    still keeps one row. Rows sharing a key's full winning tuple — two
    copies of one record under the same offset — resolve to one of them;
    such copies carry the same payload, so which one is immaterial."""
    w = Window.partitionBy(pk_col).orderBy(*[F.desc_nulls_last(c) for c in ordering])
    return df.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")


def dedupe_batch(df: DataFrame, pk_col: str = "pk") -> DataFrame:
    """One surviving event per key of a micro-batch: max (commit_wall_ns,
    commit_logical, seq). Returns the original column layout."""
    return argmax_rows(df, pk_col, ORDERING)
