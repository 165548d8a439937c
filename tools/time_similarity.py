"""Wall time of the five similarity queries in one Spark session.

    python tools/time_similarity.py SF_DIR [REPS] [LABEL]

Per query: one warm-up run, then REPS (default 1) timed runs.  Each run
prints one JSON line with build_s (building the DataFrame: the driver-side
reference-set collects and, for ivf_search_trained, the Lloyd training
jobs) and run_s (collecting the result).  For an A/B, run this script
from each checkout in alternation and keep the lines.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> None:
    from tokforge.engine.session import build_spark
    from tokforge.pipeline.similarity import SIMILARITY_QUERIES, SIMILARITY_QUERIES_EXTRA

    sf_dir = sys.argv[1]
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 1
    label = sys.argv[3] if len(sys.argv) > 3 else ""
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "4"))
    spark = build_spark(
        app_name="time-similarity", master=f"local[{cpus}]", shuffle_partitions=cpus
    )
    spark.sparkContext.setLogLevel("ERROR")
    try:
        for name, (fn, _) in {**SIMILARITY_QUERIES, **SIMILARITY_QUERIES_EXTRA}.items():
            fn(spark, sf_dir).collect()  # warm-up
            for rep in range(reps):
                t0 = time.perf_counter()
                df = fn(spark, sf_dir)
                t1 = time.perf_counter()
                n = len(df.collect())
                t2 = time.perf_counter()
                print(
                    json.dumps(
                        {
                            "label": label,
                            "query": name,
                            "sf": Path(sf_dir).name,
                            "rep": rep,
                            "cpus": cpus,
                            "rows": n,
                            "build_s": round(t1 - t0, 3),
                            "run_s": round(t2 - t1, 3),
                        }
                    ),
                    flush=True,
                )
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
