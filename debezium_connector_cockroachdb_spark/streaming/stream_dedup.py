"""Cross-batch streaming deduplication of a document stream.

Batch-mode dedup (operators/text_dedup.py) collapses duplicates within one
dataset; a streaming ingest needs to suppress duplicates across
micro-batches: the first micro-batch carrying a given content fingerprint
emits its min-``doc_id`` copy, every later copy (same batch or any later
batch) is dropped. The reference's analogue is the bounded LRU
event-identity cache (CockroachDBStreamingChangeEventSource.java:85-104);
here the key is the CONTENT fingerprint (whitespace/case-normalized md5,
operators/text.py) and the seen set is not a cache but a dataset built one
micro-batch at a time (D-Streams): the sink itself.

Each micro-batch runs entirely in the JVM inside ``foreachBatch``:
``groupBy(fp)`` picks the min-``doc_id`` winner and counts the copies, a
left-anti join drops the fingerprints earlier batches emitted, and the
novel rows are written with ``mode("overwrite")`` to the batch's own
``_batch=<batch_id>`` directory of the sink. The anti join reads only
``_batch < batch_id``, so a batch Spark replays after a crash rewrites
exactly the rows it wrote before: replays are idempotent and no second
state store is needed. Seen fingerprints shard with the sink's files
instead of being bounded by driver memory.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators.text import fingerprint


def streaming_exact_dedup(
    stream: DataFrame,
    path: str,
    checkpoint: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> StreamingQuery:
    """Start an availableNow first-occurrence filter over a streaming
    documents DataFrame.

    Writes one row per novel content fingerprint to ``path`` (parquet,
    partitioned by ``_batch``): ``fp, doc_id, text, n_dropped_before_emit``
    where ``doc_id`` is the smallest non-null ``id_col`` among the
    fingerprint's copies in the first micro-batch that carries it, ``text``
    is that copy's text and ``n_dropped_before_emit`` counts the other
    copies of that batch. Copies in later batches emit nothing, and
    documents without text have no fingerprint and emit nothing.
    Returns the started query."""

    def emit(batch: DataFrame, batch_id: int) -> None:
        rows = batch.where(F.col(text_col).isNotNull()).select(
            fingerprint(F.col(text_col)).alias("fp"),
            F.col(id_col).alias("doc_id"),
            F.col(text_col).alias("text"),
        )
        # min / min_by skip null ids: a null id never beats a non-null copy
        novel = rows.groupBy("fp").agg(
            F.min("doc_id").alias("doc_id"),
            F.min_by("text", "doc_id").alias("text"),
            (F.count(F.lit(1)) - 1).alias("n_dropped_before_emit"),
        )
        if batch_id > 0:
            seen = batch.sparkSession.read.parquet(path).where(F.col("_batch") < batch_id)
            novel = novel.join(seen.select("fp"), "fp", "left_anti")
        novel.write.mode("overwrite").parquet(os.path.join(path, f"_batch={batch_id}"))

    return (
        stream.writeStream.foreachBatch(emit)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
