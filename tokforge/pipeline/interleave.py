"""Weighted deterministic corpus interleave — "mix sources 70/20/10,
reproducibly" — the epoch-assembly step that follows dedup + budget
sampling in a training-data pipeline.

Semantics (shared by the Spark op and the DuckDB mirror in
tests/test_interleave.py):

* Within each stratum documents take a deterministic pseudo-random order
  (``md5(cast(id as string))``, ties by id — the same order key as
  pipeline.sample, so the mix is stable across partitionings, file
  orders, and cluster sizes).
* The k-th document of stratum s gets interleave position ``k / w_s``;
  the global training order is ``ORDER BY pos, key, id``.  Any prefix of
  that order then contains stratum counts proportional to the weights up
  to rounding: #s in the prefix ending at position P is
  ``min(floor(P * w_s), n_s)`` exactly — classic stride scheduling
  (Waldspurger & Weihl, OSDI '94), applied to corpus mixing.

The global order is a RANGE SORT, not a global row_number: callers write
with ``df.repartitionByRange("pos", "__key").sortWithinPartitions(...)``
and the output files concatenate into the epoch — no single-task stage
anywhere in the scale path.

The per-stratum rank is the running count from pipeline.sample's
``_running_total`` (the hex-prefix bucket decomposition), so no stratum
ever ranks inside one task.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tokforge.pipeline.sample import _order_key, _running_total
from tokforge.sources.requests import load_documents


def _weight_expr(weights: dict[str, float], stratum_col: str):
    # w <= 0 would make pos NULL (Spark non-ANSI division) while the SQL
    # mirror divides by zero differently — reject the typo loudly instead
    # of silently degrading the mix order (round-6 ADVICE).
    bad = {s: w for s, w in weights.items() if not float(w) > 0.0}
    if bad:
        raise ValueError(f"interleave weights must be > 0, got {bad}")
    expr = F.lit(None).cast("double")
    for s, w in weights.items():
        expr = F.when(F.col(stratum_col) == s, F.lit(float(w))).otherwise(expr)
    return expr


# Hard cap on the weights=None convenience path (see q_interleave).
_MAX_DERIVED_SOURCES = 1000


def weighted_interleave(
    docs: DataFrame,
    weights: dict[str, float],
    stratum_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Returns docs + (rank_in_stratum, w, pos, __key); the training order
    is ORDER BY (pos, __key, id).  Strata absent from ``weights`` are
    excluded."""
    d = docs.withColumn("__key", _order_key(id_col))
    ranked = _running_total(d, [stratum_col], ["__key", id_col], F.lit(1))
    # pos as DOUBLE division — mirrored by the oracle's CAST AS DOUBLE
    return (
        ranked.withColumnRenamed("__run", "rank_in_stratum")
        .withColumn("w", _weight_expr(weights, stratum_col))
        .filter(F.col("w").isNotNull())
        .withColumn("pos", F.col("rank_in_stratum").cast("double") / F.col("w"))
    )


def q_interleave(
    spark: SparkSession,
    sf_dir: str,
    weights: dict[str, float] | None = None,
) -> DataFrame:
    """Per-source weighted mix over the documents table (pytest-covered;
    the driver-gated face is pipeline/assembly.py q_gate_interleave, which
    passes EXPLICIT weights — the production contract).  The weights=None
    convenience derives them from the data, which is a driver-side
    collect: it is capped at _MAX_DERIVED_SOURCES because at 10^6 sources
    "collect the distinct strata" is the anti-pattern this repo bans —
    real mixes are configuration, not data."""
    docs = load_documents(spark, sf_dir)
    if weights is None:
        rows = (
            docs.select("source").distinct().limit(_MAX_DERIVED_SOURCES + 1).collect()
        )
        if len(rows) > _MAX_DERIVED_SOURCES:
            raise ValueError(
                f"q_interleave(weights=None) derives weights from data and "
                f"supports <= {_MAX_DERIVED_SOURCES} distinct sources; pass "
                "explicit weights for wider corpora"
            )
        srcs = sorted(r[0] for r in rows)
        weights = {s: float(i + 1) for i, s in enumerate(srcs)}
    return weighted_interleave(docs, weights).select(
        "doc_id", "source", "rank_in_stratum", "w", "pos", "__key"
    )


def temperature_weights(
    docs: DataFrame,
    alpha: float,
    stratum_col: str = "source",
    weight: "F.Column | None" = None,
    max_strata: int = _MAX_DERIVED_SOURCES,
) -> dict[str, float]:
    """Temperature-based mix weights — the standard multilingual /
    multi-source pretraining rule (mT5/XLM-R style): stratum s gets
    weight ``(n_s / n_total) ** alpha``.  alpha = 1 reproduces natural
    proportions, alpha = 0 uniform, the usual 0.2-0.7 range up-samples
    the tail without letting the head stratum drown it.

    Returns a plain dict for :func:`weighted_interleave` — mix weights
    are scale-invariant there (pos = rank / w), so no normalization is needed.

    Scale shape: ONE map-side-combinable aggregation to strata rows,
    collected driver-side like any dim table; capped at ``max_strata``
    with an explicit error (the 10^6-strata derive-from-data shape is
    the anti-pattern this module already bans for q_interleave).
    DuckDB mirror in tests/test_interleave.py: same pow over the same
    integer counts — bit-identical weights, hence bit-identical mix.
    """
    if not 0.0 <= alpha <= 1.0:
        raise ValueError(f"alpha must be in [0, 1], got {alpha}")
    w = weight if weight is not None else F.size(F.split(F.col("text"), " "))
    rows = (
        docs.groupBy(stratum_col)
        .agg(F.sum(w.cast("long")).alias("n"))
        .limit(max_strata + 1)
        .collect()
    )
    if len(rows) > max_strata:
        raise ValueError(
            f"more than {max_strata} strata; derive-from-data weighting "
            "is capped — pass explicit weights at this cardinality"
        )
    counts = {r[stratum_col]: int(r["n"]) for r in rows}
    total = sum(counts.values())
    if total <= 0:
        raise ValueError("empty corpus: no tokens to weight")
    return {s: float((n / total) ** alpha) for s, n in counts.items()}
