"""Multi-drop drain of the streaming LSH index (streaming/lsh_dedup.py).

The input is the gated stream_lsh_dedup fixture (streaming/queries.py:
every document, an exact-token replica of it 30 s later under a new
doc_id, and a 2-token unshingleable stub for every 50th document) over
one sf directory, split by (ts, doc_id) into ``--drops`` equal drops.
The drops are written one after another, so the file source (oldest file
first) reads them in event-time order, and the band index carries state
across micro-batches.  The stream drains one drop per micro-batch
(``maxFilesPerTrigger`` 1).  One warm-up drain runs first, then
``--passes`` timed drains, each on a fresh checkpoint and sink.

``--buckets-per-partition N`` sets the band-bucket count to N x shuffle
partitions; the default is what the checkout resolves on its own.

Usage: python tools/bench_lsh_stream.py [sf_dir] [--drops D]
           [--buckets-per-partition N] [--passes P] [--label L]
Prints one JSON line per timed drain: per-batch ``triggerExecution`` /
``addBatch`` and the state operator's ``allUpdatesTimeMs``, their
medians, the drain's wall time, ``cpus``, and a digest of the sorted
verdict rows (equal digests = identical sinks).
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

import pyspark.sql.functions as F  # noqa: E402
from pyspark.sql.window import Window  # noqa: E402


def write_feed(spark, sf_dir: str, in_dir: str, drops: int) -> int:
    """The stream_lsh_dedup fixture rows, split into ``drops`` drops in
    (ts, doc_id) order.  Returns the row count."""
    from tokforge.sources.requests import requests_df
    from tokforge.streaming import queries as q

    req = requests_df(spark, sf_dir, q._CHAIN)
    d = F.col("doc_id").cast("long")
    dup = req.withColumn("doc_id", (d + q._DUP_OFFSET).cast("string")).withColumn(
        "ts", (F.unix_timestamp("ts") + 30).cast("timestamp")
    )
    short = (
        req.filter(d % q._SHORT_MOD == 0)
        .withColumn("doc_id", (d + q._SHORT_OFFSET).cast("string"))
        .withColumn("ts", (F.unix_timestamp("ts") + 60).cast("timestamp"))
        .withColumn("tokens", F.slice("tokens", 1, 2))
        .withColumn("n_tok", F.lit(2).cast("int"))
    )
    feed = req.unionByName(dup).unionByName(short)
    feed = feed.withColumn("drop", F.ntile(drops).over(Window.orderBy("ts", "doc_id"))).cache()
    for i in range(1, drops + 1):
        feed.filter(F.col("drop") == i).drop("drop").coalesce(1).write.parquet(f"{in_dir}/drop={i}")
    n = feed.count()
    feed.unpersist()
    return n


def drain(spark, in_dir: str, work: Path, tag: str, buckets):
    from tokforge.streaming.job import read_sink
    from tokforge.streaming.lsh_dedup import lsh_dedup_stream

    out, ckpt = str(work / f"out-{tag}"), str(work / f"ckpt-{tag}")
    t0 = time.perf_counter()
    query, _ = lsh_dedup_stream(
        spark, in_dir, out, ckpt, buckets=buckets, max_files_per_trigger=1
    )
    query.awaitTermination()
    wall = time.perf_counter() - t0
    if query.exception() is not None:
        raise query.exception()
    progress = [json.loads(p.json) for p in query.recentProgress]
    rows = sorted(
        tuple(r)
        for r in read_sink(spark, out)
        .select("doc_id", "ts", "matched_doc", "est_jaccard", "near_dup")
        .collect()
    )
    shutil.rmtree(ckpt, ignore_errors=True)
    shutil.rmtree(out, ignore_errors=True)
    return wall, [p for p in progress if p["numInputRows"] > 0], rows


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("sf_dir", nargs="?", default="/root/testdata/sf0.1")
    ap.add_argument("--drops", type=int, default=8)
    ap.add_argument("--buckets-per-partition", type=int, default=None)
    ap.add_argument("--passes", type=int, default=1)
    ap.add_argument("--label", default="head")
    args = ap.parse_args()

    from tokforge.engine.session import build_spark

    cpus = len(os.sched_getaffinity(0))
    spark = build_spark(master=f"local[{cpus}]", shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    buckets = None
    if args.buckets_per_partition is not None:
        buckets = args.buckets_per_partition * cpus
    work = Path(tempfile.mkdtemp(prefix="tokforge-lsh-stream-"))
    try:
        in_dir = str(work / "in")
        n_rows = write_feed(spark, args.sf_dir, in_dir, args.drops)
        drain(spark, in_dir, work, "warmup", buckets)
        for i in range(args.passes):
            wall, batches, rows = drain(spark, in_dir, work, f"timed{i}", buckets)
            trig = [b["durationMs"].get("triggerExecution", 0) for b in batches]
            add = [b["durationMs"].get("addBatch", 0) for b in batches]
            upd = [sum(op.get("allUpdatesTimeMs", 0) for op in b["stateOperators"]) for b in batches]
            print(json.dumps({
                "workload": "lsh_stream",
                "label": args.label,
                "pass": i,
                "sf_dir": args.sf_dir,
                "cpus": cpus,
                "buckets_per_partition": args.buckets_per_partition,
                "input_rows": n_rows,
                "pass_s": round(wall, 3),
                "trigger_ms": trig,
                "add_batch_ms": add,
                "state_update_ms": upd,
                "trigger_ms_p50": statistics.median(trig),
                "state_update_ms_p50": statistics.median(upd),
                "last_batch_ms": trig[-1],
                "state_rows_total": [sum(op["numRowsTotal"] for op in b["stateOperators"]) for b in batches],
                "verdicts": len(rows),
                "near_dups": sum(1 for r in rows if r[4]),
                "digest": hashlib.md5(repr(rows).encode()).hexdigest(),
            }), flush=True)
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
