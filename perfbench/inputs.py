"""Benchmark inputs, all written before any timing starts.

The corpus (``documents``, ``events``, ``embeddings``) is the repo's own
distribution-faithful synthesizer (``tools/synth_sf.py``) at sf0.1.  The
request tables come from ``requests_df`` over those documents, signed
with ``make_sign_udf``.

``--seed`` moves the replica-id base of every request by whole
``REPLICA_STRIDE`` multiples: doc ids, token content, signatures and cache
keys change with the seed, while ``doc_id % 4`` (the length ladder) and so
the sizes and the HIT ratios stay the same.
"""

from __future__ import annotations

import contextlib
import io
from pathlib import Path

import pyarrow.compute as pc
import pyarrow.parquet as pq
import pyspark.sql.functions as F

from tokforge.engine.config import EngineConfig
from tokforge.engine.transform import make_sign_udf
from tokforge.sources.requests import REPLICA_STRIDE, requests_df

CORPUS_SF = 0.1
DROP_STEP_S = 600  # each stream drop arrives 10 event-minutes after the last
# replica slots reserved per seed; 512 seeds x 64 slots x REPLICA_STRIDE
# keeps doc_id * MUL_A inside int64 (Spark runs with ANSI overflow checks)
SEED_SLOTS = 64
SEED_MOD = 512


def write_corpus(out_dir: Path) -> Path:
    from tools.synth_sf import synth

    with contextlib.redirect_stdout(io.StringIO()):
        synth(CORPUS_SF, str(out_dir))
    return out_dir


def replica_base(seed: int) -> int:
    return (seed % SEED_MOD) * SEED_SLOTS


def _seeded_documents(corpus: Path, out_dir: Path, seed: int) -> str:
    """``documents`` with every doc_id moved to the seed's replica base."""
    tbl = pq.read_table(corpus / "documents.parquet", columns=["doc_id", "source"])
    shift = replica_base(seed) * REPLICA_STRIDE
    tbl = tbl.set_column(0, "doc_id", pc.add(tbl.column("doc_id"), shift))
    out_dir.mkdir(parents=True, exist_ok=True)
    pq.write_table(tbl, out_dir / "documents.parquet")
    return str(out_dir)


def signed_requests(spark, corpus: Path, work: Path, seed: int, chain: str,
                    replicas: int, cfg: EngineConfig):
    """Signed requests for ``replicas`` id-disjoint copies of the corpus
    documents, plus a ``rep`` column (0..replicas-1) naming the copy."""
    docs = _seeded_documents(corpus, work / "docs", seed)
    req = requests_df(spark, docs, chain, replicas=replicas)
    base = replica_base(seed) * REPLICA_STRIDE
    rep = ((F.col("doc_id").cast("long") - F.lit(base)) / F.lit(REPLICA_STRIDE)).cast("int")
    sign = make_sign_udf(cfg)
    return req.withColumn("sig", sign(F.col("ops"), F.col("doc_id"))).withColumn("rep", rep)


def write_batch_input(spark, corpus: Path, work: Path, seed: int, chain: str,
                      replicas: int, cfg: EngineConfig) -> str:
    """One parquet table of signed requests (the batch transform input)."""
    path = str(work / "requests")
    req = signed_requests(spark, corpus, work, seed, chain, replicas, cfg).drop("rep")
    cpus = int(spark.conf.get("spark.sql.shuffle.partitions"))
    req.repartition(cpus * 2).write.mode("overwrite").parquet(path)
    return path


def write_stream_input(spark, corpus: Path, work: Path, seed: int, chain: str,
                       drops: int, replicas_per_drop: int, replay: bool,
                       cfg: EngineConfig) -> str:
    """``drops`` parquet drops of one file each under ``<work>/in/drop=i``.

    ``replay=True``: every drop carries drop 0's requests (same doc ids, so
    the same cache keys) shifted ``i * DROP_STEP_S`` later in event time.
    ``replay=False``: drop i carries its own replicas, so no key repeats."""
    path = str(work / "in")
    if replay:
        req = signed_requests(spark, corpus, work, seed, chain, replicas_per_drop, cfg)
        req = req.crossJoin(spark.range(drops).select(F.col("id").cast("int").alias("drop")))
    else:
        req = signed_requests(
            spark, corpus, work, seed, chain, drops * replicas_per_drop, cfg
        )
        req = req.withColumn("drop", (F.col("rep") / replicas_per_drop).cast("int"))
    req = req.withColumn(
        "ts", (F.unix_timestamp("ts") + F.col("drop") * DROP_STEP_S).cast("timestamp")
    ).drop("rep")
    req.repartition(drops, "drop").write.mode("overwrite").partitionBy("drop").parquet(path)
    return path
