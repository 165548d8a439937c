"""Streaming deduplication at ingest — the training-data-pipeline analog of
the reference's processed-result cache (a request whose content was already
seen is not re-processed; caching/cache.rs keyed-presence semantics), applied
to the DOCUMENT stream: only first-seen content flows downstream.

Spark shape (the 100 TB design):

    readStream -> content_hash = md5(tokens) -> withWatermark(ts) ->
    dropDuplicatesWithinWatermark([content_hash]) -> exactly-once sink

``dropDuplicatesWithinWatermark`` is the built-in stateful operator made for
exactly this: it keeps FIRST-SEEN per key and — unlike ``dropDuplicates`` on
a stream, whose state grows forever — evicts a key's state once the
watermark passes its event time + delay.  State is therefore bounded by
(keys arriving within one watermark horizon), not by corpus size: at 10^12
documents/day with a 10-minute horizon the state store holds minutes of
keys, and the RocksDB provider tier (engine/config.py state_store) spills
it off-heap.  The documented tradeoff: a duplicate arriving LATER than the
horizon is re-admitted — dedup across horizons belongs to the batch layer
(pipeline/dedup.py exact/MinHash/LSH), which this stage feeds.

Keys are md5 over the token array — the request-stream analog of the batch
exact-dedup key (pipeline/dedup.py q_dedup_exact hashes md5(text) on the
documents table; the stream carries tokenized content, so the same
"identical content" definition applies to its token array).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tokforge.streaming.sink import IdempotentParquetSink
from tokforge.streaming.source import read_request_stream


def content_hash_col() -> "F.Column":
    """md5 over the comma-joined token array — byte-identical to the batch
    exact-dedup key (pipeline/dedup.py) and to the DuckDB mirror
    ``md5(array_to_string(tokens, ','))``."""
    return F.md5(F.concat_ws(",", F.col("tokens").cast("array<string>")))


def dedup_request_stream(
    stream: DataFrame,
    watermark: str = "10 minutes",
) -> DataFrame:
    """The dedup stage alone (stream-in/stream-out, source-agnostic):
    first-seen-wins per content hash within one watermark horizon."""
    hashed = stream.withColumn("content_hash", content_hash_col())
    return hashed.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["content_hash"]
    )


def dedup_stream(
    spark: SparkSession,
    in_path: str,
    out_dir: str,
    checkpoint_dir: str,
    watermark: str = "10 minutes",
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
):
    """Full dedup-at-ingest job: file stream (the Iceberg-stream stand-in)
    -> dedup stage -> idempotent exactly-once sink.  Returns (query, sink).
    """
    stream = read_request_stream(spark, in_path, max_files_per_trigger)
    deduped = dedup_request_stream(stream, watermark)
    sink = IdempotentParquetSink(out_dir)
    return sink.start(deduped, checkpoint_dir, available_now), sink
