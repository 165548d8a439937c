"""Trickle drain over a large cache state: what a sparse micro-batch costs
when every bucket it touches is big.

The input is perfbench's stream_cold input (4 drops of 5000 signed
requests with new keys: a 20k-entry result-cache state) plus 8 trickle
drops of 50 more new-key requests each, taken from the next seed's
replica slots so no key repeats.  perfbench's own stream pass drains it,
one drop per micro-batch (``maxFilesPerTrigger`` 1); one warm-up drain
runs first on its own checkpoint, then the timed drain, then perfbench's
stream checks (exactly_once, no_errors, hit_ratio 0,
cross_path_checksum).  Every trickle row is a MISS, so every bucket it
lands in decodes and re-encodes its whole entry table.

``--buckets-per-partition`` overrides ``cache_state.BUCKETS_PER_PARTITION``
for the run (default: the checkout's), so one checkout can compare bucket
layouts over the same state code.

Usage: python tools/bench_cache_trickle.py [--buckets-per-partition N]
           [--seed S] [--label L]
Prints one JSON line: per-batch ``triggerExecution`` / ``addBatch`` and
the state operator's ``allUpdatesTimeMs`` for the build and the trickle
phases, their medians, the bucket count, ``cpus`` and the check results.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path[:0] = [str(ROOT), str(ROOT / "perfbench")]

import pyspark.sql.functions as F  # noqa: E402
from pyspark.sql.window import Window  # noqa: E402

import inputs  # noqa: E402
from bench import SIMPLE_CHAIN  # noqa: E402
from workloads import StreamCold  # noqa: E402

TRICKLE_DROPS = 8
TRICKLE_ROWS = 50


class CacheTrickle(StreamCold):
    """stream_cold's drops, then TRICKLE_DROPS drops of TRICKLE_ROWS rows."""

    name = "cache_trickle"

    def build_inputs(self, work: Path) -> None:
        super().build_inputs(work)
        r = self.run
        # the next seed's replica slots: doc ids disjoint from every build drop
        req = inputs.signed_requests(
            r.spark, self.corpus, work / "trickle", r.seed + 1, SIMPLE_CHAIN, 1, r.cfg
        ).drop("rep")
        rank = F.row_number().over(Window.orderBy(F.col("doc_id").cast("long"))) - 1
        req = req.withColumn("_r", rank).filter(F.col("_r") < TRICKLE_DROPS * TRICKLE_ROWS)
        drop = (F.floor(F.col("_r") / TRICKLE_ROWS) + self.drops).cast("int")
        req = req.withColumn("drop", drop).withColumn(
            "ts", (F.unix_timestamp("ts") + F.col("drop") * inputs.DROP_STEP_S).cast("timestamp")
        ).drop("_r")
        req.repartition(TRICKLE_DROPS, "drop").write.mode("append").partitionBy("drop").parquet(
            self.in_dir
        )
        self.rows += TRICKLE_DROPS * TRICKLE_ROWS


class TrickleRun:
    """What perfbench's stream workloads read off its Run."""

    n_docs = 5000  # documents in the sf0.1 corpus

    def __init__(self, spark, seed: int):
        from tokforge.engine.config import EngineConfig

        self.spark, self.seed, self.cfg = spark, seed, EngineConfig()


def summarize(batches: list[dict]) -> dict:
    trig = [b["durationMs"].get("triggerExecution", 0) for b in batches]
    add = [b["durationMs"].get("addBatch", 0) for b in batches]
    upd = [sum(op.get("allUpdatesTimeMs", 0) for op in b["stateOperators"]) for b in batches]
    return {
        "rows": [b["numInputRows"] for b in batches],
        "trigger_ms": trig,
        "add_batch_ms": add,
        "state_update_ms": upd,
        "trigger_ms_p50": statistics.median(trig),
        "add_batch_ms_p50": statistics.median(add),
        "state_update_ms_p50": statistics.median(upd),
    }


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--buckets-per-partition", type=int, default=None)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--label", default="head")
    args = ap.parse_args()

    from tokforge.engine.session import build_spark
    from tokforge.streaming import cache_state

    if args.buckets_per_partition is not None:
        cache_state.BUCKETS_PER_PARTITION = args.buckets_per_partition
    cpus = len(os.sched_getaffinity(0))
    work = Path(tempfile.mkdtemp(prefix="tokforge-trickle-"))
    spark = build_spark(master=f"local[{cpus}]", shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    try:
        wl = CacheTrickle(TrickleRun(spark, args.seed))
        wl.build_inputs(work)
        wl.warm_up()
        res = wl.one_pass("timed")
        if not res.ok:
            raise RuntimeError(res.problem)
        batches = [p for p in res.progress if p["numInputRows"] > 0]
        state_rows = max(
            (sum(op["numRowsTotal"] for op in b["stateOperators"]) for b in batches), default=0
        )
        print(json.dumps({
            "workload": "cache_trickle",
            "label": args.label,
            "seed": args.seed,
            "cpus": cpus,
            "buckets": cache_state.BUCKETS_PER_PARTITION * cpus,
            "state_entries": wl.drops * wl.replicas_per_drop * TrickleRun.n_docs,
            "state_rows_total": state_rows,
            "build": summarize(batches[: wl.drops]),
            "trickle": summarize(batches[wl.drops:]),
            "checks": [list(c) for c in wl.run_checks()],
        }))
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
