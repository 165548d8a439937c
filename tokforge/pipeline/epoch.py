"""Deterministic per-epoch data order + mid-epoch resume — the
data-loader contract a training run actually holds a pipeline to:

* every epoch is a fresh, reproducible permutation of the packed
  sequences (same seed + epoch -> same order, on any cluster size, any
  partitioning, any file order);
* a run killed at step N resumes at step N against the SAME order — the
  checkpoint is just ``(seed, epoch, step)``, never a data snapshot.

Semantics (shared by the Spark op and the DuckDB mirror in
tests/test_epoch.py): the epoch key is
``md5(seed || ':' || epoch || ':' || id...)`` and the epoch order is
``ORDER BY __key, id...``; ``step`` is the 0-based rank in that order.
Folding ``epoch`` into the hash input is what makes each epoch an
independent permutation — no reshuffle job, no stored permutation table.

Scale shape (the same two-phase decomposition as pipeline.sample /
interleave / pack, one stratum):

* the ORDER is a RANGE SORT on ``__key`` — writers use
  ``repartitionByRange("__key", ...)`` + ``sortWithinPartitions`` and the
  output files concatenate into the epoch; no single-task stage.
* the STEP index never needs a global row_number: it is the running
  count from pipeline.sample's ``_running_total`` — counts per hex-prefix
  bucket (one map-side-combinable agg -> a tiny broadcast offsets
  table), then a local rank within each bucket.
* RESUME is ``step >= N`` — over a materialized epoch (step written as a
  column, files range-partitioned by key) that is a pushed-down
  predicate + partition prune, so restarting at step 9e9 of 1e10 reads
  ~10% of the epoch, not all of it.

Reference analog: the deterministic cache-key ordering that makes the
reference's processed-result cache reproducible across replicas
(cache.rs keying); applied here to training-data ordering.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tokforge.pipeline.sample import _running_total

EPOCH_SEED = 20240817


def epoch_key(seed: int, epoch: int, id_cols: Sequence[str]):
    """md5(seed:epoch:id...) — the per-epoch permutation key.  Composite
    ids (e.g. emit_chunks' (stratum, chunk_id)) concatenate in order."""
    return F.md5(
        F.concat_ws(
            ":",
            F.lit(str(int(seed))),
            F.lit(str(int(epoch))),
            *[F.col(c).cast("string") for c in id_cols],
        )
    )


def epoch_order(
    df: DataFrame,
    epoch: int,
    seed: int = EPOCH_SEED,
    id_cols: Sequence[str] = ("chunk_id",),
) -> DataFrame:
    """Returns df + (__key, step); the epoch order is ORDER BY
    (__key, id...)."""
    d = df.withColumn("__key", epoch_key(seed, epoch, id_cols))
    return (
        _running_total(d, [], ["__key", *id_cols], F.lit(1))
        .withColumn("step", F.col("__run") - 1)
        .drop("__run")
    )


def resume_from_step(ordered: DataFrame, step: int) -> DataFrame:
    """The mid-epoch restart: everything at or after ``step`` in the
    epoch order.  Over a materialized epoch this is a pushed-down
    predicate; over the in-flight plan it composes with
    :func:`epoch_order`."""
    if step < 0:
        raise ValueError(f"resume step must be >= 0, got {step}")
    return ordered.filter(F.col("step") >= int(step))
