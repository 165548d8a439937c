"""Corpus-assembly chain throughput at sf0.1 (50k documents, local[32]):

    LSH pairs -> keep-canonical -> decontam -> budget sample ->
    weighted interleave -> sequence packing

with the production-form parquet stage boundary between stages.  Prints
one JSON line with per-stage wall, rows out, and end-to-end docs/s +
tokens/s (sum of whitespace-token weights flowing into packing).

Usage: python tools/bench_assembly.py [sf_dir] [replicas]

``replicas`` > 1 amplifies the corpus R-fold using the engine's replica
id spaces (sources/requests.py REPLICA_STRIDE, so the LSH stage — which
shingles the doc_id-derived token arrays — sees the same amplified ids),
with a replica-tag token appended to each copy's text so the text-side
stages (decontam n-grams, token weights) see near-identical but
distinct content.  The amplified run measures the chain under volume
instead of per-stage fixed cost.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark.sql.functions as F  # noqa: E402

from tokforge.engine.session import build_spark  # noqa: E402
from tokforge.pipeline.decontam import decontaminate  # noqa: E402
from tokforge.pipeline.dedup import keep_canonical, q_lsh_pairs  # noqa: E402
from tokforge.pipeline.interleave import weighted_interleave  # noqa: E402
from tokforge.pipeline.pack import pack_sequences  # noqa: E402
from tokforge.pipeline.sample import budget_sample  # noqa: E402
from tokforge.pipeline.stage import stage_boundary  # noqa: E402
from tokforge.sources.requests import REPLICA_STRIDE, load_documents  # noqa: E402

BUDGET = 200_000
SEQ_LEN = 2048
# eval slice 1/997 of ids, flag at >= 8 shared 3-grams: the synthetic
# documents draw from a small phrase pool, so a denser eval set or a
# lower threshold flags nearly the whole corpus and the downstream
# stages would bench on an empty funnel
MOD = 997
MIN_SHARED = 8


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    replicas = int(sys.argv[2]) if len(sys.argv) > 2 else 1
    spark = build_spark(app_name="tokforge-bench-assembly")
    scratch = tempfile.mkdtemp(prefix="tokforge_assembly_")
    stages: dict[str, dict] = {}
    t_total = time.time()

    def timed(name, fn):
        t = time.time()
        df, n = fn()
        stages[name] = {"wall_s": round(time.time() - t, 3), "rows_out": n}
        return df

    try:
        docs = load_documents(spark, sf_dir)
        if replicas > 1:
            reps = spark.range(replicas).select(F.col("id").alias("rep"))
            docs = docs.crossJoin(F.broadcast(reps)).select(
                (F.col("doc_id") + F.col("rep") * REPLICA_STRIDE).alias("doc_id"),
                F.when(F.col("rep") == 0, F.col("text"))
                .otherwise(
                    F.concat(
                        F.col("text"), F.lit(" rep"), F.col("rep").cast("string")
                    )
                )
                .alias("text"),
                "lang",
                "source",
                "n_chars",
            )
        n_docs = docs.count()

        def s1():
            pairs = q_lsh_pairs(spark, sf_dir, replicas).select("doc_a", "doc_b")
            decided, _labels = keep_canonical(
                docs.withColumn("doc_id", F.col("doc_id").cast("string")), pairs
            )
            kept = stage_boundary(
                decided.filter("keep").withColumn(
                    "doc_id", F.col("doc_id").cast("long")
                ),
                f"{scratch}/kept",
            )
            return kept, kept.count()

        kept = timed("dedup_decision", s1)

        def s2():
            eval_df = docs.filter(F.col("doc_id") % MOD == 0)
            out = stage_boundary(
                decontaminate(kept, eval_df, min_shared=MIN_SHARED).filter(
                    ~F.col("contaminated")
                ),
                f"{scratch}/screened",
            )
            return out, out.count()

        screened = timed("decontam", s2)

        def s3():
            out = stage_boundary(
                budget_sample(screened, BUDGET), f"{scratch}/sample"
            )
            return out, out.count()

        sample = timed("budget_sample", s3)

        def s4():
            srcs = sorted(
                r[0] for r in sample.select("source").distinct().collect()
            )
            weights = {s: float(i + 1) for i, s in enumerate(srcs)}
            out = stage_boundary(
                weighted_interleave(sample.drop("w", "cum"), weights),
                f"{scratch}/mixed",
            )
            return out, out.count()

        mixed = timed("interleave", s4)

        def s5():
            packed = pack_sequences(mixed.drop("w"), SEQ_LEN)
            agg = packed.agg(
                F.count("*").alias("n"), F.sum("w").alias("tok")
            ).collect()[0]
            return packed, (agg["n"], int(agg["tok"] or 0))

        packed = timed("pack", s5)
        n_packed, tokens = stages["pack"]["rows_out"]
        stages["pack"]["rows_out"] = n_packed

        wall = time.time() - t_total
        print(
            json.dumps(
                {
                    "metric": "corpus-assembly chain wall time",
                    "value": round(wall, 3),
                    "unit": "sec",
                    "sf": sf_dir,
                    "docs_in": n_docs,
                    "docs_packed": n_packed,
                    "tokens_packed": tokens,
                    "docs_per_sec": int(n_docs / wall),
                    "tokens_per_sec": int(tokens / wall),
                    "stages": stages,
                }
            )
        )
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
