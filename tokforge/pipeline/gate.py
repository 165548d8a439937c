"""The quality gate: the keep/drop DECISION a training-data pipeline
executes after computing its per-document signals.  Fuses the text
quality score (pipeline/text.py), intra-doc repetition
(pipeline/substr.py), out-of-vocabulary rate (pipeline/stats.py) and
sequence-length bounds into one row per document with a reason BITMASK
— reasons compose, a doc can fail several checks at once, and
downstream reporting can aggregate drop causes without re-running the
signals.

Reference analog: the admission layer (limits.rs / service.rs error
taxonomy) decides per request with a composable status; this is the
corpus-side twin deciding per document.

Reason bits (0 = keep):

  1  too_short        n_tok < min_tok
  2  too_long         n_tok > max_tok
  4  low_quality      quality_score < min_quality
  8  high_repetition  rep_ratio > max_rep
  16 high_oov         oov_rate > max_oov

Scale shape: each signal is its own documented pass (quality = pure
column algebra over text; repetition and OOV = narrow Arrow passes);
the gate adds two doc_id equi-joins to fuse them.  At 100 TB a
production run would persist the signal tables once and reuse them
across threshold sweeps — the gate itself is threshold arithmetic, so
re-gating with new policy costs zero signal recomputation.  All
comparisons are on values that are already bit-identical to their
DuckDB mirrors, so the composed gate mirrors exactly
(tests/test_gate.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tokforge.pipeline.stats import oov_stats
from tokforge.pipeline.substr import repetition_stats
from tokforge.pipeline.text import q_quality_score
from tokforge.sources.requests import requests_df

R_TOO_SHORT = 1
R_TOO_LONG = 2
R_LOW_QUALITY = 4
R_HIGH_REPETITION = 8
R_HIGH_OOV = 16


def quality_gate(
    spark: SparkSession,
    sf_dir: str,
    *,
    min_tok: int = 8,
    max_tok: int = 1024,
    min_quality: float = 0.3,
    max_rep: float = 0.2,
    max_oov: float = 0.995,
    rep_k: int = 3,
    vocab_v: int = 1024,
) -> DataFrame:
    """(doc_id, n_tok, quality_score, rep_ratio, oov_rate, reasons, keep)
    — one row per document; ``keep`` iff ``reasons == 0``."""
    req = requests_df(spark, sf_dir, "gate")
    base = req.select("doc_id", F.col("n_tok").cast("long").alias("n_tok"))
    quality = q_quality_score(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("doc_id"), "quality_score"
    )
    rep = repetition_stats(req, k=rep_k).select("doc_id", "rep_ratio")
    oov = oov_stats(req, vocab_v).select("doc_id", "oov_rate")
    j = base.join(quality, "doc_id").join(rep, "doc_id").join(oov, "doc_id")
    reasons = (
        F.when(F.col("n_tok") < min_tok, R_TOO_SHORT).otherwise(0)
        + F.when(F.col("n_tok") > max_tok, R_TOO_LONG).otherwise(0)
        + F.when(F.col("quality_score") < min_quality, R_LOW_QUALITY).otherwise(0)
        + F.when(F.col("rep_ratio") > max_rep, R_HIGH_REPETITION).otherwise(0)
        + F.when(F.col("oov_rate") > max_oov, R_HIGH_OOV).otherwise(0)
    ).cast("long")
    return j.select(
        "doc_id",
        "n_tok",
        "quality_score",
        "rep_ratio",
        "oov_rate",
        reasons.alias("reasons"),
        (reasons == 0).alias("keep"),
    )


def sql_quality_gate_ctes(
    *,
    min_tok: int = 8,
    max_tok: int = 1024,
    min_quality: float = 0.3,
    max_rep: float = 0.2,
    max_oov: float = 0.995,
    rep_k: int = 3,
    vocab_v: int = 1024,
) -> str:
    """The gate's CTE block (everything between the shared ``req`` CTE and
    the final SELECT; ends with the ``gate`` CTE) — reused verbatim by
    both :func:`sql_quality_gate` and the composed corpus-product oracle
    (pipeline/product.py)."""
    from tokforge.pipeline.dedup import sql_kgram_fold
    from tokforge.pipeline.text import _sql_quality_score  # noqa: PLC2701

    fold = sql_kgram_fold(rep_k)
    return f"""q AS ({_sql_quality_score()}),
rep AS (
  SELECT doc_id,
         round(CAST(len(gs) - len(list_distinct(gs)) AS DOUBLE)
               / greatest(len(gs), 1), 6) AS rep_ratio
  FROM (SELECT doc_id,
               list_transform(range(0, n_tok - {rep_k} + 1), s -> {fold}) AS gs
        FROM req)
),
freq AS (
  SELECT t AS token, count(*) AS cnt
  FROM (SELECT unnest(tokens) AS t FROM req) GROUP BY 1
),
ranked AS (
  SELECT token, row_number() OVER (ORDER BY cnt DESC, token ASC) AS rank
  FROM freq
),
vocab AS (SELECT token FROM ranked WHERE rank <= {vocab_v}),
tok AS (SELECT doc_id, unnest(tokens) AS t FROM req),
oov AS (
  SELECT doc_id,
         round(CAST(count(*) FILTER (WHERE t NOT IN (SELECT token FROM vocab))
                    AS DOUBLE) / greatest(count(*), 1), 6) AS oov_rate
  FROM tok GROUP BY doc_id
),
gate AS (
  SELECT r.doc_id, CAST(r.n_tok AS BIGINT) AS n_tok,
         q.quality_score, rep.rep_ratio, oov.oov_rate,
         CAST(CASE WHEN r.n_tok < {min_tok} THEN 1 ELSE 0 END
            + CASE WHEN r.n_tok > {max_tok} THEN 2 ELSE 0 END
            + CASE WHEN q.quality_score < {min_quality} THEN 4 ELSE 0 END
            + CASE WHEN rep.rep_ratio > {max_rep} THEN 8 ELSE 0 END
            + CASE WHEN oov.oov_rate > {max_oov} THEN 16 ELSE 0 END
            AS BIGINT) AS reasons
  FROM req r
  JOIN q ON q.doc_id = r.doc_num
  JOIN rep ON rep.doc_id = r.doc_id
  JOIN oov ON oov.doc_id = r.doc_id
)"""


def sql_quality_gate(**params) -> str:
    """DuckDB twin of :func:`quality_gate`, composed from the SAME
    component mirrors (quality score, k-gram repetition fold, top-V OOV)
    — the single rendering shared by tests/test_gate.py and the gated
    driver row."""
    from tokforge.sources.requests import sql_requests_cte

    return f"""WITH {sql_requests_cte()},
{sql_quality_gate_ctes(**params)}
SELECT doc_id, n_tok, quality_score, rep_ratio, oov_rate, reasons,
       reasons = 0 AS keep
FROM gate"""
