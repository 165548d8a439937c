"""Driver-gated faces of the corpus-assembly layer (sample / interleave /
pack / decontam) — the operators a training-data pipeline runs AFTER
dedup, each pinned by an in-test DuckDB mirror (tests/test_budget_sample.py,
test_interleave.py, test_pack.py, test_decontam.py).  This module only
adds the gate shape: scalar-only columns, same names on both engines,
deterministic constants (no weights derived from data — round-5 review
flagged the collect() default in q_interleave as a foot-gun at 10^6
sources).

Sample, interleave and pack have one implementation each, built on
pipeline.sample's ``_running_total`` (the md5-order-key + hex-prefix
bucket decomposition), so the driver's hash check pins the 100 TB plan,
not just the semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tokforge.pipeline.decontam import q_decontaminate
from tokforge.pipeline.interleave import weighted_interleave
from tokforge.pipeline.pack import SQL_PACK_CHUNKS, q_pack_chunks
from tokforge.pipeline.sample import q_budget_sample
from tokforge.sources.requests import load_documents

_BUDGET = 2000

# Deterministic per-source mix weights: srcN -> 2^(N mod 5).  Powers of
# two keep pos = rank / w an exact dyadic double, so the Spark and DuckDB
# values are bit-identical under the driver's repr-hash.
_ILV_WEIGHTS = {f"src{i}": float(2 ** (i % 5)) for i in range(20)}


def q_gate_budget_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    return q_budget_sample(spark, sf_dir, _BUDGET).select(
        "doc_id",
        "lang",
        F.col("w").cast("long").alias("w"),
        F.col("cum").cast("long").alias("cum"),
    )


SQL_BUDGET_SAMPLE = f"""WITH d AS (
  SELECT doc_id, lang,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS w,
         md5(CAST(doc_id AS VARCHAR)) AS k
  FROM documents
), c AS (
  SELECT doc_id, lang, w,
         CAST(sum(w) OVER (PARTITION BY lang ORDER BY k, doc_id
                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
  FROM d
)
SELECT doc_id, lang, w, cum FROM c WHERE cum - w < {_BUDGET}"""


def q_gate_interleave(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_documents(spark, sf_dir)
    return weighted_interleave(docs, _ILV_WEIGHTS).select(
        "doc_id",
        "source",
        F.col("rank_in_stratum").cast("long").alias("rank_in_stratum"),
        "pos",
    )


def _sql_interleave() -> str:
    cases = " ".join(
        f"WHEN source = '{s}' THEN CAST({w!r} AS DOUBLE)"
        for s, w in _ILV_WEIGHTS.items()
    )
    return f"""WITH d AS (
  SELECT doc_id, source,
         md5(CAST(doc_id AS VARCHAR)) AS k,
         CASE {cases} END AS w
  FROM documents
)
SELECT doc_id, source,
       CAST(row_number() OVER (PARTITION BY source ORDER BY k, doc_id)
            AS BIGINT) AS rank_in_stratum,
       CAST(row_number() OVER (PARTITION BY source ORDER BY k, doc_id)
            AS DOUBLE) / w AS pos
FROM d WHERE w IS NOT NULL"""


_DECON_N = 3
_DECON_MIN_SHARED = 2
_DECON_MOD = 97


def q_gate_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    return q_decontaminate(
        spark, sf_dir, _DECON_N, _DECON_MIN_SHARED, _DECON_MOD
    ).select(
        "doc_id",
        "source",
        F.col("shared_ngrams").cast("long").alias("shared_ngrams"),
        "contaminated",
    )


SQL_DECONTAM = f"""WITH tr AS (
  SELECT doc_id, source, string_split(text, ' ') AS ws
  FROM documents
),
grams AS (
  SELECT DISTINCT doc_id, array_to_string(ws[i:i+{_DECON_N - 1}], ' ') AS g
  FROM tr, UNNEST(range(1, len(ws) - {_DECON_N - 2})) AS t(i)
  WHERE len(ws) >= {_DECON_N}
),
ev AS (
  SELECT DISTINCT g FROM grams WHERE doc_id % {_DECON_MOD} = 0
),
shared AS (
  SELECT doc_id, count(*) AS s
  FROM grams JOIN ev USING (g)
  GROUP BY doc_id
)
SELECT tr.doc_id, tr.source,
       CAST(COALESCE(shared.s, 0) AS BIGINT) AS shared_ngrams,
       COALESCE(shared.s, 0) >= {_DECON_MIN_SHARED} AS contaminated
FROM tr LEFT JOIN shared USING (doc_id)"""


ASSEMBLY_QUERIES = {
    "budget_sample": (q_gate_budget_sample, SQL_BUDGET_SAMPLE),
    "interleave": (q_gate_interleave, _sql_interleave()),
    "pack_chunks": (q_pack_chunks, SQL_PACK_CHUNKS),
    "decontam": (q_gate_decontam, SQL_DECONTAM),
}
