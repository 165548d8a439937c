"""Exactly-once sink + metrics: idempotent foreachBatch parquet commits
keyed by batchId (the Iceberg-commit stand-in), per-partition lineage
columns, and an observe/listener metrics channel (the Prometheus analog,
reference: src/monitoring.rs).

Exactly-once recipe: each micro-batch writes to `data/batch_id=N` ONLY if
the ledger has no marker for N; the marker is written after a successful
write.  On restart-and-replay Spark may re-offer a committed batch — the
ledger check makes the replay a no-op, so downstream sees each batch once.
"""

from __future__ import annotations

import json
import os
import threading
import time
from pathlib import Path

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener


def lineage_columns(df: DataFrame, batch_id: int) -> DataFrame:
    """Per-row lineage: micro-batch id + executor partition id
    (the X-Request-ID analog, reference: middleware.rs:13-29)."""
    return df.withColumn("batch_id", F.lit(batch_id)).withColumn(
        "partition_id", F.spark_partition_id()
    )


class IdempotentParquetSink:
    """foreachBatch target with a batchId ledger for exactly-once commits.

    ``partition_cols`` adds Iceberg-style hidden partitioning to the
    commit layout: each batch writes `data/batch_id=N/<col>=<v>/...`, so
    downstream reads prune partitions on those columns (the stand-in for
    Iceberg's `days(ts)` / `bucket(N, source)` transforms at 10^12-row
    scale).  Partitioned sinks are read back with partition DISCOVERY
    (``read_sink(..., partitioned=True)``) — batch_id then comes from the
    directory, not a data column, so the two never conflict."""

    def __init__(self, out_dir: str, partition_cols: tuple[str, ...] = ()):
        self.out_dir = out_dir
        self.partition_cols = tuple(partition_cols)
        self.ledger_dir = os.path.join(out_dir, "_ledger")
        Path(self.ledger_dir).mkdir(parents=True, exist_ok=True)
        self.skipped_replays = 0

    def start(self, df: DataFrame, checkpoint_dir: str, available_now: bool):
        """Start ``df`` as a checkpointed append query into this sink and
        return the query.  ``available_now`` drains the input present at
        start and stops; otherwise the query runs a micro-batch every
        second."""
        writer = (
            df.writeStream.foreachBatch(self)
            .option("checkpointLocation", checkpoint_dir)
            .outputMode("append")
        )
        if available_now:
            return writer.trigger(availableNow=True).start()
        return writer.trigger(processingTime="1 second").start()

    def _marker(self, batch_id: int) -> str:
        return os.path.join(self.ledger_dir, f"batch-{batch_id}.json")

    def is_committed(self, batch_id: int) -> bool:
        return os.path.exists(self._marker(batch_id))

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        if self.is_committed(batch_id):
            # replayed batch after restart: exactly-once no-op
            self.skipped_replays += 1
            return
        out = lineage_columns(batch_df, batch_id)
        path = os.path.join(self.out_dir, "data", f"batch_id={batch_id}")
        # single action on the streaming plan (a second one would re-run the
        # plan and double-fire observe metrics); row count comes from the
        # committed parquet FOOTERS — metadata-only, no second scan
        if self.partition_cols:
            # batch_id lives in the directory name; partition discovery
            # recovers it (a duplicate data column would collide with it)
            out.drop("batch_id").write.mode("overwrite").partitionBy(
                *self.partition_cols
            ).parquet(path)
        else:
            out.write.mode("overwrite").parquet(path)
        n = self._footer_row_count(path)
        with open(self._marker(batch_id), "w") as fh:
            json.dump({"batch_id": batch_id, "rows": n, "committed_at": time.time()}, fh)

    @staticmethod
    def _footer_row_count(path: str) -> int:
        import pyarrow.parquet as pq

        return sum(
            pq.ParquetFile(str(f)).metadata.num_rows
            for f in Path(path).rglob("*.parquet")
        )


# The stateOperators fields kept per operator: update and commit time, the
# state-store memory and entry count (where a micro-batch's state cost goes).
STATE_OPERATOR_FIELDS = ("allUpdatesTimeMs", "commitTimeMs", "memoryUsedBytes", "numRowsTotal")


class MetricsListener(StreamingQueryListener):
    """Collects per-batch observed metrics + progress, the df.observe +
    StreamingQueryListener pair from SURVEY.md §2.5.  Each progress record
    keeps the full ``durationMs`` phase map and, per state operator, the
    ``STATE_OPERATOR_FIELDS``."""

    def __init__(self):
        self.progress: list[dict] = []
        self.observed: list[dict] = []
        self._lock = threading.Lock()

    def onQueryStarted(self, event):  # noqa: N802
        pass

    def onQueryProgress(self, event):  # noqa: N802
        p = event.progress
        with self._lock:
            self.progress.append(
                {
                    "batchId": p.batchId,
                    "numInputRows": p.numInputRows,
                    "processedRowsPerSecond": p.processedRowsPerSecond,
                    "durationMs": dict(p.durationMs),
                    "stateOperators": [
                        {f: getattr(op, f) for f in STATE_OPERATOR_FIELDS}
                        for op in p.stateOperators
                    ],
                }
            )
            obs = p.observedMetrics
            if obs:
                for name, row in obs.items():
                    self.observed.append({"name": name, **row.asDict()})

    def onQueryIdle(self, event):  # noqa: N802
        pass

    def onQueryTerminated(self, event):  # noqa: N802
        pass


def observe_requests(df: DataFrame, name: str = "request_metrics") -> DataFrame:
    """Attach streaming-side counters (processed totals / token volume —
    monitoring.rs:37-69 analogs)."""
    return df.observe(
        name,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("n_out").alias("sum_tokens_out"),
        F.count(F.when(F.col("cache_status") == "HIT", 1)).alias("cache_hits"),
        F.count(F.when(F.col("cache_status") == "MISS", 1)).alias("cache_misses"),
    )
