"""Streaming job assembly (SURVEY.md §3 Spark shape):

    readStream(requests) -> stateful cache (applyInPandasWithState:
    signature gate, then the cache lifecycle) -> observe -> foreachBatch
    idempotent sink

The signature gate sits where the batch pass puts it, inside the one
Python crossing: the state function verifies iff its rows carry ``sig``
(``transform_stream(verify=False)`` and ``info_stream`` drop it), so a
forged row never touches state and the stream plan holds no verify UDF.
Only the optional dead-letter query (``rejected_dir``) runs the verify
UDF, as its own verify-only stream.

plus the windowed-aggregation queries (tumbling/sliding/session) that give
the rate-limit/burst-coalescing surface.  Every job is checkpointed and
resumable; all time comes from the `ts` column (no wall clock in the row
path) so replays are byte-identical.  The cache pipelines carry no
watermark: their one stateful operator runs without an event-time
timeout, so a watermark would drop no late row and evict no state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tokforge.engine.config import DEFAULT_CONFIG, EngineConfig
from tokforge.streaming.cache_state import with_cache_state, with_info_state
from tokforge.streaming.sink import IdempotentParquetSink, observe_requests
from tokforge.streaming.source import read_request_stream


def transform_stream(
    spark: SparkSession,
    in_path: str,
    out_dir: str,
    checkpoint_dir: str,
    config: EngineConfig = DEFAULT_CONFIG,
    verify: bool = True,
    ttl_ms: int = 0,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
    rejected_dir: str | None = None,
    partition_cols: tuple[str, ...] = (),
):
    """The flagship streaming pipeline.  Returns (query, sink).

    ``partition_cols`` (e.g. ("source",)) turns on hidden-partitioned
    commits in the sink — read back with read_sink(..., partitioned=True).

    When ``rejected_dir`` is given, signature-rejected rows are also
    written to their own exactly-once sink (the 403-response analog,
    service.rs:453-470) by a second, verify-only query — a dead-letter
    channel with the same idempotent-commit guarantees as the main
    output, which drops them in its state operator either way.
    """
    from tokforge.engine.session import apply_state_store

    # the config's state-store tier is load-bearing here: providerClass is
    # read at stream START, so this selects in-heap vs RocksDB state for
    # the cache namespace below (and any stream started after it)
    apply_state_store(spark, config.state_store)
    stream = read_request_stream(spark, in_path, max_files_per_trigger)
    rejected_query = None
    rejected_sink = None
    if not verify:
        stream = stream.drop("sig")  # the state operator verifies iff rows carry sig
    elif rejected_dir is not None:
        # status class via the shared taxonomy (service.rs:676-800): the
        # dead-letter sink partitions on it, so per-class replay /
        # alerting reads prune whole directories
        from tokforge.engine.transform import STATUS_FORBIDDEN, make_verify_udf

        verify_udf = make_verify_udf(config)
        rejected = stream.filter(~verify_udf("sig", "ops", "doc_id")).select(
            "doc_id", "source", "ts", "ops", F.lit(STATUS_FORBIDDEN).cast("int").alias("status")
        )
        rejected_sink = IdempotentParquetSink(rejected_dir, partition_cols=("status",))
        rejected_query = rejected_sink.start(rejected, rejected_dir + "/_ckpt", available_now)
        if available_now:
            # The dead-letter channel drains the already-available input
            # synchronously, so a failure surfaces here (awaitTermination
            # re-raises) instead of being silently dropped, and callers
            # never race its commits.
            rejected_query.awaitTermination()
    cached = with_cache_state(stream, config, ttl_ms)
    cached = observe_requests(cached)
    sink = IdempotentParquetSink(out_dir, partition_cols=partition_cols)
    # the dead-letter handles ride on the sink so the 2-tuple call shape
    # stays stable for every caller while the channel remains observable
    sink.rejected_query = rejected_query
    sink.rejected_sink = rejected_sink
    return sink.start(cached, checkpoint_dir, available_now), sink


def info_stream(
    spark: SparkSession,
    in_path: str,
    out_dir: str,
    checkpoint_dir: str,
    config: EngineConfig = DEFAULT_CONFIG,
    ttl_ms: int = 0,
    available_now: bool = True,
):
    """The /info metadata pipeline: same source, but through the SECOND
    state namespace (info cache keyed by doc_id — reference
    cache.rs:240-256 / service.rs:347-408) into its own exactly-once sink.
    Returns (query, sink)."""
    from tokforge.engine.session import apply_state_store

    apply_state_store(spark, config.state_store)
    # unsigned /info: without sig the shared lifecycle skips its signature gate
    infod = with_info_state(read_request_stream(spark, in_path).drop("sig"), config, ttl_ms)
    sink = IdempotentParquetSink(out_dir)
    return sink.start(infod, checkpoint_dir, available_now), sink


def ratelimit_stream(
    spark: SparkSession,
    in_path: str,
    out_dir: str,
    checkpoint_dir: str,
    capacity: float = 3.0,
    refill_per_sec: float = 0.25,
    watermark: str = "10 minutes",
    available_now: bool = True,
):
    """The per-source token-bucket admission pipeline (reference:
    middleware.rs:38-51, app.rs:136-156) into its own exactly-once sink.
    Event-time refill only — replays are byte-identical.  Returns
    (query, sink)."""
    from tokforge.streaming.ratelimit import with_rate_limit

    stream = read_request_stream(spark, in_path).withWatermark("ts", watermark)
    limited = with_rate_limit(stream, capacity, refill_per_sec)
    sink = IdempotentParquetSink(out_dir)
    return sink.start(limited, checkpoint_dir, available_now), sink


def tumbling_rate_query(
    spark: SparkSession,
    in_path: str,
    out_dir: str,
    checkpoint_dir: str,
    watermark: str = "2 minutes",
    available_now: bool = True,
):
    """Per-source per-minute throughput accounting with late-data handling
    (the rate-limiter ledger as a streaming aggregation).  Watermark bounds
    state: windows older than (max ts - watermark) finalize and evict."""
    stream = read_request_stream(spark, in_path).withWatermark("ts", watermark)
    agg = (
        stream.groupBy(F.window("ts", "1 minute").alias("w"), "source")
        .agg(F.count("*").alias("n_requests"), F.sum("n_tok").alias("sum_tokens"))
        .select(
            F.col("w.start").alias("window_start"),
            "source",
            "n_requests",
            "sum_tokens",
        )
    )
    sink = IdempotentParquetSink(out_dir)
    return sink.start(agg, checkpoint_dir, available_now), sink


def session_burst_query(
    spark: SparkSession,
    in_path: str,
    out_dir: str,
    checkpoint_dir: str,
    gap: str = "30 seconds",
    key_prefix_len: int = 2,
    watermark: str = "2 minutes",
):
    """Session windows keyed by doc_id prefix: request-burst coalescing
    (SURVEY.md §2.5)."""
    stream = read_request_stream(spark, in_path).withWatermark("ts", watermark)
    agg = (
        stream.withColumn("key_prefix", F.substring("doc_id", 1, key_prefix_len))
        .groupBy(F.session_window("ts", gap).alias("w"), "key_prefix")
        .agg(F.count("*").alias("n_requests"))
        .select(
            "key_prefix",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_requests",
        )
    )
    sink = IdempotentParquetSink(out_dir)
    return sink.start(agg, checkpoint_dir, available_now=True), sink


def read_sink(
    spark: SparkSession, out_dir: str, partitioned: bool | None = None
) -> DataFrame:
    """Read a sink's committed data.  ``partitioned=True`` (for sinks built
    with partition_cols) uses partition DISCOVERY so batch_id and the
    partition columns come from the directory layout — and filters on them
    prune whole directories instead of scanning files.

    The default AUTO-DETECTS the layout (any ``col=`` directory under
    data/): a partitioned sink read with recursiveFileLookup would
    silently drop batch_id and every partition column, since those live
    only in directory names."""
    data = f"{out_dir}/data"
    if partitioned is None:
        import os

        # BOTH layouts put batches at data/batch_id=N/; only partitioned
        # sinks nest further <col>=<v> directories inside them (the
        # unpartitioned layout keeps batch_id as a DATA column, so
        # partition discovery on it would collide — level 2 is the signal)
        try:
            partitioned = any(
                "=" in sub
                for e in os.listdir(data)
                if os.path.isdir(os.path.join(data, e))
                for sub in os.listdir(os.path.join(data, e))
            )
        except OSError:
            partitioned = False
    if partitioned:
        return spark.read.option("basePath", data).parquet(data)
    return spark.read.option("recursiveFileLookup", "true").parquet(data)
