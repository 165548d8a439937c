"""Stateful stream-stream join: the cache-invalidation channel.

The reference purges cached results when a source changes (the cache's
insert/remove surface, src/caching/cache.rs; operators hit it via the
admin purge path).  In the streaming engine that becomes a watermarked
STREAM-STREAM JOIN (north rule: "stateful join"): the request stream
left-joins a purge-event stream on cache_key within an event-time band,
so a request arriving within `band` after a purge bypasses the cache
(recompute) instead of serving a stale HIT.

Spark shape: both sides carry watermarks and the join condition includes
the time band — that is what lets the state store evict matched/expired
rows instead of buffering either stream forever (the classic unbounded-
state trap of unconstrained stream-stream joins).  State is keyed by
cache_key, so the shuffle is the same key the cache state uses.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    StringType,
    StructField,
    StructType,
    TimestampType,
)

PURGE_SCHEMA = StructType(
    [
        StructField("cache_key", StringType()),
        StructField("purge_ts", TimestampType()),
    ]
)


def read_purge_stream(spark: SparkSession, path: str) -> DataFrame:
    return (
        spark.readStream.schema(PURGE_SCHEMA)
        .option("recursiveFileLookup", "true")
        .parquet(path)
    )


def join_purges(
    requests: DataFrame,
    purges: DataFrame,
    band: str = "10 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Left-outer stream-stream join: one output row PER MATCHING PURGE
    (standard join multiplicity — a request whose key was purged twice in
    the band emits twice), plus one null-purge row for unmatched requests
    after their watermark.  ``invalidation_stream`` collapses the
    multiplicity to one row per request (max purge_ts); use that unless
    the per-purge enrichment rows are wanted.

    Both watermarks + the banded condition bound the join state: a purge
    row is droppable once the request-side watermark passes purge_ts +
    band; an unmatched request emits with null after its watermark.
    """
    req = requests.withWatermark("ts", watermark)
    pur = purges.withWatermark("purge_ts", watermark).select(
        F.col("cache_key").alias("p_key"), "purge_ts"
    )
    cond = (
        (F.col("cache_key") == F.col("p_key"))
        & (F.col("purge_ts") <= F.col("ts"))
        & (F.col("purge_ts") >= F.col("ts") - F.expr(f"INTERVAL {band}"))
    )
    joined = req.join(pur, cond, "leftOuter")
    return joined.withColumn(
        "cache_bypass", F.col("purge_ts").isNotNull()
    ).drop("p_key")


def invalidation_stream(
    spark: SparkSession,
    in_path: str,
    purge_path: str,
    out_dir: str,
    checkpoint_dir: str,
    band: str = "10 minutes",
    watermark: str = "10 minutes",
    available_now: bool = True,
):
    """Assembled job: request stream ⋈ purge stream -> per-request
    cache_bypass flag -> exactly-once sink.  Returns (query, sink)."""
    from tokforge.engine.transform import cache_key_col
    from tokforge.streaming.sink import IdempotentParquetSink
    from tokforge.streaming.source import read_request_stream

    req = read_request_stream(spark, in_path).withColumn(
        "cache_key", cache_key_col()
    )
    purges = read_purge_stream(spark, purge_path)
    matched = join_purges(req, purges, band, watermark)
    # collapse join multiplicity: multiple in-band purges for one request
    # must not duplicate it in the exactly-once sink — keep the latest
    # purge per request (chained stateful ops: join -> agg, watermark
    # propagated from the request side)
    joined = (
        matched.groupBy("doc_id", "cache_key", "ts")
        .agg(F.max("purge_ts").alias("purge_ts"))
        .withColumn("cache_bypass", F.col("purge_ts").isNotNull())
    )
    sink = IdempotentParquetSink(out_dir)
    return sink.start(joined, checkpoint_dir, available_now), sink
