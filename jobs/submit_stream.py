"""spark-submit entry point for the streaming engine (north-rule: runs via
`spark-submit --py-files tokforge.zip jobs/submit_stream.py ...`).

Wires source -> engine -> sink with checkpointing and metrics, the
deployment analog of the reference's server bootstrap (server.rs:50-172).

Example:
  zip -r /tmp/tokforge.zip tokforge
  spark-submit --master local[32] --py-files /tmp/tokforge.zip \\
      jobs/submit_stream.py \\
      --input /data/requests --output /data/out --checkpoint /data/ckpt \\
      --ttl-ms 3600000 --continuous
"""

from __future__ import annotations

import argparse
import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> None:
    parser = argparse.ArgumentParser()
    parser.add_argument("--input", required=True)
    parser.add_argument("--output", required=True)
    parser.add_argument("--checkpoint", required=True)
    parser.add_argument("--ttl-ms", type=int, default=0)
    parser.add_argument("--no-verify", action="store_true")
    parser.add_argument("--continuous", action="store_true",
                        help="run forever (processingTime trigger) instead of availableNow")
    parser.add_argument("--max-files-per-trigger", type=int, default=None)
    parser.add_argument(
        "--partition-by",
        default="",
        help="comma-separated sink partition columns (hidden-partitioning "
        "analog, e.g. 'source'); read back with read_sink(partitioned=True)",
    )
    args = parser.parse_args()

    from pyspark.sql import SparkSession

    from tokforge.engine.config import EngineConfig
    from tokforge.engine.session import tune_existing
    from tokforge.streaming.job import transform_stream
    from tokforge.streaming.sink import MetricsListener

    spark = SparkSession.builder.appName("tokforge-stream").getOrCreate()
    tune_existing(spark)
    listener = MetricsListener()
    spark.streams.addListener(listener)

    query, sink = transform_stream(
        spark,
        args.input,
        args.output,
        args.checkpoint,
        # deployment config from TOKFORGE_* env (the IMGFORGE_* surface,
        # reference config.rs:224-286): keys/salt, presets, caps, bearer,
        # dtype allowlist; CLI flags cover the job wiring only
        EngineConfig.from_env(),
        verify=not args.no_verify,
        ttl_ms=args.ttl_ms,
        available_now=not args.continuous,
        max_files_per_trigger=args.max_files_per_trigger,
        partition_cols=tuple(
            c.strip() for c in args.partition_by.split(",") if c.strip()
        ),
    )
    query.awaitTermination()
    for p in listener.progress:
        print(json.dumps(p))


if __name__ == "__main__":
    main()
