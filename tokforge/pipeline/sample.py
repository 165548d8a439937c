"""Token-budget stratified sampling — "give me <= B tokens per language
(or source), deterministically" — the corpus-assembly step a training-data
pipeline runs after dedup/quality filtering.

Semantics (shared by the Spark op and the DuckDB mirror in
tests/test_budget_sample.py):

* Within each stratum, documents are laid out in a deterministic
  pseudo-random order: ``md5(cast(id as string))``, ties broken by the id
  itself.  md5 of the decimal string is identical in Spark and DuckDB, so
  the order — hence the sample — is oracle-mirrorable bit-for-bit, and it
  is independent of partitioning, input file order, and cluster size.
* A document is admitted while the running token total BEFORE it is still
  under the stratum's budget; the document that crosses the budget is
  the last one in.  Consequences (for budget >= 1; budget <= 0 yields an
  empty sample, pinned by test_assembly_edges): the sample is never empty
  for a non-empty stratum, total >= min(budget, stratum total), and
  overshoot is bounded by one document.

The running total is :func:`_running_total`, the hex-prefix decomposition
every corpus-assembly op (sample / interleave / pack / epoch) shares.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from tokforge.sources.requests import load_documents


def _order_key(id_col: str):
    return F.md5(F.col(id_col).cast("string"))


def token_weight_col():
    """Whitespace token count of `text` — the same counting rule as
    pipeline.text.q_token_count's n_words."""
    return F.size(F.split(F.col("text"), " ")).cast("long")


# Hex chars of the md5 order key that name a bucket: 16^PREFIX_LEN
# buckets per stratum.  Read at call time (tests monkeypatch it).
PREFIX_LEN = 2


def _running_total(
    d: DataFrame,
    strata: Sequence[str],
    order: Sequence[str],
    value: "str | Column",
    below: "int | None" = None,
) -> DataFrame:
    """Add ``__run``: the inclusive running sum of ``value`` per ``strata``
    in ``order`` order, for a frame that already carries the md5 ``__key``
    (``order`` must start with it and be total).

    A window ORDER BY sorts each stratum inside ONE task, so a 20 TB
    stratum would funnel through one machine.  Instead, the key's first
    PREFIX_LEN hex chars split every stratum into buckets whose
    bucket-major order EQUALS the key order (a string sorts by its prefix
    first), so the prefix sum decomposes exactly:

      1. per-(stratum, bucket) totals — one map-side-combinable agg
         shrinking the corpus to strata x buckets rows;
      2. a window over that TINY table gives each bucket's starting
         offset (one task, but the table is KBs);
      3. the offsets broadcast-join back and each bucket runs its LOCAL
         window — each sort holds about stratum / 16^PREFIX_LEN rows.

    ``below`` drops buckets whose offset already reaches it BEFORE the
    join and sort: at a budget far below the corpus, most rows never
    sort or shuffle past step 1."""
    d = d.withColumn("__bucket", F.substring("__key", 1, PREFIX_LEN))
    off_win = (
        Window.partitionBy(*strata)
        .orderBy("__bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = (
        d.groupBy(*strata, "__bucket")
        .agg(F.sum(value).alias("__btotal"))
        .select(
            *strata,
            "__bucket",
            F.coalesce(F.sum("__btotal").over(off_win), F.lit(0)).alias("__offset"),
        )
    )
    if below is not None:
        offsets = offsets.filter(F.col("__offset") < F.lit(below))
    local_win = (
        Window.partitionBy(*strata, "__bucket")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        d.join(F.broadcast(offsets), [*strata, "__bucket"])
        .withColumn("__run", F.col("__offset") + F.sum(value).over(local_win))
        .drop("__bucket", "__offset")
    )


def budget_sample(
    docs: DataFrame,
    budget: int,
    stratum_col: str = "lang",
    weight: "F.Column | None" = None,
    id_col: str = "doc_id",
) -> DataFrame:
    """The admitted rows with ``w`` (token weight) and ``cum`` (running
    total including the row) added."""
    w = weight if weight is not None else token_weight_col()
    d = docs.withColumn("w", w).withColumn("__key", _order_key(id_col))
    return (
        _running_total(d, [stratum_col], ["__key", id_col], "w", below=budget)
        .withColumnRenamed("__run", "cum")
        .filter(F.col("cum") - F.col("w") < F.lit(budget))
        .drop("__key")
    )


def q_budget_sample(spark: SparkSession, sf_dir: str, budget: int = 2000) -> DataFrame:
    """Per-language token-budget sample over the documents table
    (pytest-covered; the driver registry stays at the 50-query window)."""
    docs = load_documents(spark, sf_dir)
    return budget_sample(docs, budget).select("doc_id", "lang", "w", "cum")


def hash_split(
    docs: DataFrame,
    val_frac: float,
    id_col: str = "doc_id",
    salt: str = "split",
) -> DataFrame:
    """Deterministic train/validation split: a document lands in ``val``
    iff the first 8 hex digits of ``md5(salt || ':' || id)`` fall below
    ``val_frac`` of the 32-bit space, compared as HEX STRINGS — equal
    length lowercase hex compares exactly like the number it encodes, in
    Spark and DuckDB alike, so no hex-to-int conversion (and no engine
    divergence) is needed.

    Properties (tests/test_split.py): no RNG state, independent of
    partitioning and input order, stable across runs, and re-saltable —
    a new ``salt`` draws an independent split without touching the data.
    Expected val share is val_frac with binomial concentration per
    stratum (md5 is uniform), so stratified balance needs no stratum
    bookkeeping.  One narrow projection; zero shuffle.
    """
    if not (0.0 <= val_frac <= 1.0):
        raise ValueError(f"val_frac must be in [0, 1], got {val_frac}")
    thr = format(min(int(val_frac * 2**32), 2**32 - 1), "08x")
    is_val = F.lit(val_frac >= 1.0) | (
        (
            F.substring(
                F.md5(F.concat_ws(":", F.lit(salt), F.col(id_col).cast("string"))),
                1,
                8,
            )
            < F.lit(thr)
        )
        & F.lit(val_frac > 0.0)
    )
    return docs.withColumn("split", F.when(is_val, "val").otherwise("train"))


def sql_hash_split(val_frac: float, id_col: str = "doc_id", salt: str = "split") -> str:
    """DuckDB twin of the split predicate, as a SELECT-able expression."""
    thr = format(min(int(val_frac * 2**32), 2**32 - 1), "08x")
    guard = "TRUE" if val_frac > 0.0 else "FALSE"
    always = "TRUE" if val_frac >= 1.0 else "FALSE"
    return (
        f"CASE WHEN {always} OR (substr(md5('{salt}:' || CAST({id_col} AS VARCHAR)), 1, 8)"
        f" < '{thr}' AND {guard}) THEN 'val' ELSE 'train' END"
    )
