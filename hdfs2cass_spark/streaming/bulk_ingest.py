"""Streaming bulk-load: the reference dataflow fed by a stream.

The reference is batch-only; this extension runs the same
reshape -> token-route -> sorted-bucket sink per micro-batch via foreachBatch.
Each micro-batch appends its own token-sorted bucket files — the same
append-only-within-bucket contract, amortized over time. A real deployment
points the writer at the Cassandra connector instead of parquet; everything
upstream is identical.

foreachBatch (not a custom streaming sink) because the route step needs a
batch-scoped repartition+sort — exactly the operation Structured Streaming's
continuous sinks can't express, and the documented escape hatch for it.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame

from ..sinks.pipeline import bulk_load


def stream_bulk_load(
    stream: DataFrame,
    output_uri: str,
    sink_path: str,
    checkpoint: str,
    rowkey: str | None = None,
    timestamp: str | None = None,
    ttl: str | None = None,
    ignore: Sequence[str] = (),
    now_ms: int | None = None,
    available_now: bool = False,
):
    """Start the streaming bulk-load query; returns the StreamingQuery.

    Each micro-batch goes through `bulk_load` itself, so it is routed exactly
    like a batch load (typed-key token, same reshape for the URI's protocol),
    with the bucket repartition as its only shuffle.
    """

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        routed = bulk_load(batch_df, output_uri, rowkey, timestamp, ttl, ignore, now_ms=now_ms)
        routed.write.mode("append").partitionBy("bucket").parquet(sink_path)

    writer = stream.writeStream.foreachBatch(write_batch).option(
        "checkpointLocation", checkpoint
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
