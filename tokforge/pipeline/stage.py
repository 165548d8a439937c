"""Stage boundaries for composed corpus-assembly pipelines.

Each assembly op (sample/interleave/pack, and decontam/clustering before
them) joins its input against an aggregate of itself, so the LOGICAL
plan contains the child twice; composing k stages in one lineage grows
the tree ~2^k.  ``persist()`` does NOT help: caching cuts execution, but
Catalyst re-analyzes and re-optimizes the full logical tree on every
action — measured here, a 3-stage stack over a 500-row input spent
90+ s per action in the optimizer before any data moved (and unbounded
plan STRINGS additionally OOMed the driver until
spark.sql.maxPlanStringLength was capped in engine/session.py).

The fix is to CUT lineage where a stage ends, which is also how the
pipeline runs at 100 TB — each stage lands durably between jobs:

* ``stage_boundary(df)`` — ``localCheckpoint(eager=True)``: materializes
  to executor storage and replaces the plan with a scan.  In-session
  composition (tests, notebooks, single-job chains).  Not fault-tolerant
  to executor loss — do not use across long jobs.
* ``stage_boundary(df, path)`` — parquet round-trip: the production
  boundary (durable, resumable, and the next stage's scan gets column
  pruning + predicate pushdown against real files).

``make_scratch_dir`` is the one place the scratch-root policy lives for
every module that lands intermediate data on disk.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark.sql import DataFrame


def make_scratch_dir(prefix: str, root: str | None = None) -> str:
    """A fresh directory that is removed at interpreter exit, created under
    ``root``, else TOKFORGE_SCRATCH_DIR, else the system temp dir.  On a
    multi-node cluster TOKFORGE_SCRATCH_DIR must name a shared filesystem:
    driver-local /tmp only works while the executors share the driver's."""
    path = tempfile.mkdtemp(
        prefix=prefix, dir=root or os.environ.get("TOKFORGE_SCRATCH_DIR") or None
    )
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    return path


def stage_boundary(df: DataFrame, path: str | None = None) -> DataFrame:
    if path is None:
        return df.localCheckpoint(eager=True)
    df.write.mode("overwrite").parquet(path)
    return df.sparkSession.read.parquet(path)
