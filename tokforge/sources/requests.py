"""Request-stream synthesis: derive the `(doc_id, tokens, n_tok, source,
ts, ops, orientation, src_dtype)` request table (FIXTURES.md §1) from the
driver-provided `documents` parquet — deterministically, with pure integer
arithmetic, so the DuckDB oracle can reconstruct the exact same rows.

The derivation is defined ONCE here as constants + two renderers so the
engine and the oracle cannot drift: the numpy synthesizer
(:func:`_synth_tokens`, the only Spark-side source of ``n_tok`` and
``tokens`` — requests_df and the fused dedup lineage both run it inside a
mapInArrow pass) and the DuckDB SQL snippets (:func:`sql_requests_cte`).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from tokforge.constants import VOCAB

# Token derivation: tokens[i] = (doc_id * MUL_A + i * MUL_B) % VOCAB
MUL_A = 7919
MUL_B = 104729

# Sequence lengths cycle over these by doc_id % 4 (FIXTURES.md size ladder).
LEN_LADDER = (6, 32, 100, 256)

# Source dtypes cycle by doc_id % 3 (sniffed-format analog).
SRC_DTYPES = ("int32", "int16", "uint8")

EPOCH_TS = "2024-01-01 00:00:00"
TS_PERIOD_S = 7200  # requests spread over a 2h event-time span

# Replica doc_id stride for bench-scale row multiplication: a constant far
# above any real doc_id so replica id spaces never collide — NO driver-side
# count() inside plan construction (an action during planning blocks the
# driver and re-scans the source).
REPLICA_STRIDE = 1 << 33


# ---------------------------------------------------------------------------
# Spark side
# ---------------------------------------------------------------------------


def _synth_tokens(doc_ids: "np.ndarray"):
    """The request tokens of int64 ``doc_ids`` in the flat (values int64,
    row-of-token map, per-row lengths) layout of dedup._flat_tokens:
    tokens[i] = (doc_id * MUL_A + i * MUL_B) % VOCAB, with the row length
    from the doc_id % 4 ladder.

    The domain is the mirror's (Spark / DuckDB integer arithmetic) on
    every int64 id: ``%`` is the C-style remainder (np.fmod — numpy's
    ``%`` floors), so a negative id's residue lies outside 0..2 and takes
    the last ladder step like the CASE ... ELSE.  An id whose
    ``|doc_id| * MUL_A + (max(LEN_LADDER) - 1) * MUL_B`` leaves int64
    raises, where ANSI Spark raises ARITHMETIC_OVERFLOW and DuckDB an
    OutOfRangeException, instead of silently wrapping."""
    if len(doc_ids):
        top = max(-int(doc_ids.min()), int(doc_ids.max()))
        if top * MUL_A + (max(LEN_LADDER) - 1) * MUL_B > np.iinfo(np.int64).max:
            raise OverflowError(f"doc_id magnitude {top} overflows the token derivation")
    step = np.fmod(doc_ids, 4)
    lengths = np.asarray(LEN_LADDER, dtype=np.int64)[np.where(step < 0, 3, step)]
    rowmap = np.repeat(np.arange(len(doc_ids), dtype=np.int64), lengths)
    starts = np.repeat(np.cumsum(lengths) - lengths, lengths)
    pos = np.arange(len(rowmap), dtype=np.int64) - starts
    values = np.fmod(np.repeat(doc_ids, lengths) * MUL_A + pos * MUL_B, VOCAB)
    return values, rowmap, lengths


def _synth_batch(batches):
    """mapInArrow body of requests_df: (doc_id, source) batches in, the
    same columns plus the synthesized ``n_tok`` and ``tokens`` out."""
    import pyarrow as pa

    for batch in batches:
        ids = batch.column("doc_id").cast(pa.int64())
        if ids.null_count:
            raise ValueError("request synthesis needs non-null doc_ids")
        values, _, lengths = _synth_tokens(ids.to_numpy())
        offsets = np.zeros(len(lengths) + 1, dtype=np.int32)
        np.cumsum(lengths, out=offsets[1:])
        tokens = pa.ListArray.from_arrays(
            pa.array(offsets), pa.array(values.astype(np.int32))
        )
        yield pa.RecordBatch.from_arrays(
            [ids, batch.column("source"), pa.array(lengths.astype(np.int32)), tokens],
            names=["doc_id", "source", "n_tok", "tokens"],
        )


def _pin_utc(spark: SparkSession) -> None:
    """Event-time arithmetic (timestamp literals, unix_timestamp) must be
    replay-stable and oracle-comparable regardless of the caller's session
    timezone."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def load_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    _pin_utc(spark)
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    _pin_utc(spark)
    return spark.read.parquet(f"{sf_dir}/events.parquet")


def load_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def replicated_documents(
    spark: SparkSession, sf_dir: str, replicas: int, *cols: str
) -> DataFrame:
    """``documents``' numeric doc_id (plus ``cols``) for ``replicas``
    id-disjoint copies: copy r carries doc_id + r * REPLICA_STRIDE."""
    docs = load_documents(spark, sf_dir).select("doc_id", *cols)
    if replicas > 1:
        reps = spark.range(replicas).select(F.col("id").alias("rep"))
        docs = docs.crossJoin(F.broadcast(reps)).select(
            (F.col("doc_id") + F.col("rep") * F.lit(REPLICA_STRIDE)).alias("doc_id"),
            *cols,
        )
    return docs


def requests_df(
    spark: SparkSession,
    sf_dir: str,
    ops: str,
    replicas: int = 1,
) -> DataFrame:
    """The request table for one fixed ops chain.

    ``replicas`` > 1 scales row volume for benchmarking (each replica gets a
    distinct doc_id continuing the id space, so token content still varies);
    correctness queries use replicas=1 so the oracle stays a simple SQL CTE.
    Only `doc_id`, `source` are read from parquet — column pruning keeps the
    scan minimal at scale.

    ``n_tok`` and ``tokens`` come from ONE mapInArrow pass of
    :func:`_synth_tokens`; the other columns stay JVM expressions over the
    long id.  Trade-off: Catalyst can neither prune nor push a filter
    through a mapInArrow, so a consumer that reads only ``n_tok`` (or
    filters on ``doc_id``) still pays the synthesis pass.  This table is
    fixture and benchmark-input generation — production reads a scan — and
    the numpy pass costs about a third of the interpreted HOF expression
    it replaced (sf0.1 x 16 replicas to a noop sink, 4 cpus: 0.90 s vs
    2.82 s, medians of 5).
    """
    docs = replicated_documents(spark, sf_dir, replicas, "source").mapInArrow(
        _synth_batch, "doc_id long, source string, n_tok int, tokens array<int>"
    )
    d = F.col("doc_id")
    return docs.select(
        d.cast("string").alias("doc_id"),
        "source",
        "n_tok",
        "tokens",
        F.expr(
            f"timestamp '{EPOCH_TS}' + make_interval(0, 0, 0, 0, 0, 0, doc_id % {TS_PERIOD_S})"
        ).alias("ts"),
        F.lit(ops).alias("ops"),
        (1 + d % 8).cast("int").alias("orientation"),
        F.when(d % 3 == 0, SRC_DTYPES[0])
        .when(d % 3 == 1, SRC_DTYPES[1])
        .otherwise(SRC_DTYPES[2])
        .alias("src_dtype"),
    )


def array_digest(col: str) -> Column:
    """md5 of an array column's elements joined with ',' — the scalar
    digest every gated query exposes in place of a token array (the
    driver's canonicalizer cannot hash array cells).  A NULL or empty
    array hashes the empty string.  DuckDB mirror:
    ``md5(coalesce(array_to_string(col, ','), ''))``."""
    return F.md5(F.concat_ws(",", F.col(col).cast("array<string>")))


# ---------------------------------------------------------------------------
# DuckDB oracle side — the same derivation as SQL text
# ---------------------------------------------------------------------------

SQL_N_TOK = (
    f"CAST(CASE doc_id % 4 WHEN 0 THEN {LEN_LADDER[0]} WHEN 1 THEN {LEN_LADDER[1]} "
    f"WHEN 2 THEN {LEN_LADDER[2]} ELSE {LEN_LADDER[3]} END AS INTEGER)"
)

SQL_TOKENS = (
    f"list_transform(range({SQL_N_TOK}), "
    f"i -> CAST((doc_id * {MUL_A} + i * {MUL_B}) % {VOCAB} AS INTEGER))"
)

SQL_ORIENTATION = "CAST(1 + doc_id % 8 AS INTEGER)"

SQL_SRC_DTYPE = (
    f"CASE doc_id % 3 WHEN 0 THEN '{SRC_DTYPES[0]}' WHEN 1 THEN '{SRC_DTYPES[1]}' "
    f"ELSE '{SRC_DTYPES[2]}' END"
)

SQL_TS = f"TIMESTAMP '{EPOCH_TS}' + (doc_id % {TS_PERIOD_S}) * INTERVAL 1 SECOND"


def sql_requests_cte() -> str:
    """`req` CTE over the pre-registered `documents` view: one row per doc
    with the same derived columns as :func:`requests_df`."""
    return f"""req AS (
  SELECT
    CAST(doc_id AS VARCHAR) AS doc_id,
    doc_id AS doc_num,
    source,
    {SQL_N_TOK} AS n_tok,
    {SQL_TOKENS} AS tokens,
    {SQL_TS} AS ts,
    {SQL_ORIENTATION} AS orientation,
    {SQL_SRC_DTYPE} AS src_dtype
  FROM documents
)"""
