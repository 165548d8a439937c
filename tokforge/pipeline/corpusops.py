"""Driver-gated faces of the round-6 tokenizer/corpus layer — intra-doc
repetition, the composed quality gate, the deterministic train/val hash
split, span corruption (T5 denoising objective), exact per-source length
quantiles, and BPE application — each already proven against an exact
DuckDB mirror in its own test file (tests/test_substr.py, test_gate.py,
test_split.py, test_corrupt.py, test_corpus_stats.py, test_bpe.py).
This module only adds the gate shape: scalar-only columns (token arrays
digest through md5(join)), identical column names on both engines, and
deterministic constants.

Rotation provenance (round 7): these rows take the slots freed from
redundant driver coverage (op_edge_effects / op_rotate_gif /
op_watermark_url / op_resize_auto_quality overlap other gated chains;
window_session / ratelimit_admission / admission_expires overlap gated
window/ratelimit/admission rows; multimodal_features overlaps
multimodal_frame_sample) — every rotated-out pair keeps full
Spark<->DuckDB equality in tests/test_rotated_out_oracles.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tokforge.constants import VOCAB
from tokforge.pipeline.bpe import apply_bpe, pair_counts
from tokforge.pipeline.corrupt import span_corrupt, sql_span_corrupt
from tokforge.pipeline.dedup import sql_kgram_fold
from tokforge.pipeline.gate import quality_gate, sql_quality_gate
from tokforge.pipeline.sample import hash_split, sql_hash_split
from tokforge.pipeline.stats import length_quantiles
from tokforge.pipeline.substr import repetition_stats
from tokforge.sources.requests import (
    array_digest,
    load_documents,
    requests_df,
    sql_requests_cte,
)

# ---------------------------------------------------------------------------
# repetition_stats — Gopher-style duplicate-n-gram filter (substr.py:203)
# ---------------------------------------------------------------------------

_REP_K = 3


def q_gate_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-only, zero-shuffle (plan-pinned in test_plan_quality.py)."""
    req = requests_df(spark, sf_dir, "substr")
    return repetition_stats(req, k=_REP_K)


def _sql_repetition_stats() -> str:
    fold = sql_kgram_fold(_REP_K)
    return f"""WITH {sql_requests_cte()},
g AS (
  SELECT doc_id,
         list_transform(range(0, n_tok - {_REP_K} + 1), s -> {fold}) AS gs
  FROM req
)
SELECT doc_id,
       CAST(len(gs) AS BIGINT) AS n_grams,
       CAST(len(list_distinct(gs)) AS BIGINT) AS n_distinct_grams,
       round(CAST(len(gs) - len(list_distinct(gs)) AS DOUBLE)
             / greatest(len(gs), 1), 6) AS rep_ratio
FROM g"""


# ---------------------------------------------------------------------------
# quality_gate — composed keep/drop decision with reason bitmask (gate.py)
# ---------------------------------------------------------------------------

# same thresholds the pytest fixture proves exercise several bits at once
_GATE_PARAMS = dict(
    min_tok=8, max_tok=200, min_quality=0.5, max_rep=0.2, max_oov=0.98,
    rep_k=3, vocab_v=1024,
)


def q_gate_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    return quality_gate(spark, sf_dir, **_GATE_PARAMS)


# ---------------------------------------------------------------------------
# hash_split — deterministic train/val split (sample.py:136)
# ---------------------------------------------------------------------------

_SPLIT_FRAC = 0.25


def q_gate_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One narrow projection, zero shuffle, no RNG state."""
    docs = load_documents(spark, sf_dir)
    return hash_split(docs, _SPLIT_FRAC).select("doc_id", "lang", "split")


def _sql_hash_split_gate() -> str:
    return f"""SELECT doc_id, lang, {sql_hash_split(_SPLIT_FRAC)} AS split
FROM documents"""


# ---------------------------------------------------------------------------
# span_corrupt — T5 denoising objective construction (corrupt.span_corrupt)
# ---------------------------------------------------------------------------


def q_gate_span_corrupt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-only (plan-pinned); inputs/targets digest to scalars for the
    driver canonicalizer."""
    req = requests_df(spark, sf_dir, "corrupt")
    out = span_corrupt(req)  # block=8, millis=250, seed=1 defaults
    return out.select(
        "doc_id",
        "n_tok",
        "n_masked",
        array_digest("inputs").alias("inputs_md5"),
        array_digest("targets").alias("targets_md5"),
    )


def _sql_span_corrupt_gate() -> str:
    # coalesce: DuckDB array_to_string([]) is NULL, Spark concat_ws is ''
    return f"""WITH {sql_requests_cte()},
{sql_span_corrupt()}
SELECT doc_id, n_tok, n_masked,
       md5(coalesce(array_to_string(inputs, ','), '')) AS inputs_md5,
       md5(coalesce(array_to_string(targets, ','), '')) AS targets_md5
FROM corrupted"""


# ---------------------------------------------------------------------------
# length_quantiles — exact per-source type-1 quantiles (stats.py:150)
# ---------------------------------------------------------------------------

_QS = (0.5, 0.9, 0.99, 1.0)


def q_gate_length_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative window over DISTINCT-value counts — the corpus is never
    sorted (volume-insensitive by design, BENCH.md)."""
    req = requests_df(spark, sf_dir, "stats")
    return length_quantiles(req, _QS)


def _sql_length_quantiles() -> str:
    qs = ", ".join(repr(q) for q in _QS)
    return f"""WITH {sql_requests_cte()},
c AS (SELECT source, n_tok, count(*) AS c FROM req GROUP BY 1, 2),
cum AS (
  SELECT source, n_tok,
         sum(c) OVER (PARTITION BY source ORDER BY n_tok) AS cum,
         sum(c) OVER (PARTITION BY source) AS total
  FROM c
),
qs AS (SELECT CAST(unnest([{qs}]) AS DOUBLE) AS q)
SELECT source, q, CAST(min(n_tok) AS BIGINT) AS value
FROM cum, qs
WHERE cum >= CAST(ceil(q * total) AS BIGINT)
GROUP BY source, q"""


# ---------------------------------------------------------------------------
# bpe_apply — encode the corpus with data-derived merges (bpe.py:326)
# ---------------------------------------------------------------------------
#
# The gated face picks the top-N_MERGES TOKEN-DISJOINT adjacent pairs
# (cnt desc, then (tok_a, tok_b) asc; a != b so each SQL rewrite pass is
# provably exhaustive — for a != b a merge can never create a new (a, b)
# adjacency because the replacement token sits where the pair was) from
# the INITIAL pair counts, then applies them with apply_bpe.  The table
# is causal by construction (all inputs are base tokens), so the
# vectorized rank-order path runs; the DuckDB mirror replays the same
# greedy selection with chained NOT-IN CTEs and one list-rewrite pass
# per merge.

_BPE_N = 4


def _greedy_disjoint_picks(ranked: DataFrame, n_picks: int) -> list[dict]:
    """Top-n token-disjoint pairs from a (cnt desc, tok_a, tok_b)-ranked
    candidate DataFrame WITHOUT an unbounded driver collect (round-7
    verdict scale-killer: pair-count cardinality is O(V^2)).  A fixed
    prefix is not provably sufficient — one hot token can force
    arbitrarily many skips — so the prefix grows geometrically until the
    greedy scan completes or the candidate list is exhausted; driver
    memory is bounded by the smallest prefix that decides the picks."""
    limit = 40 * n_picks
    while True:
        cand = ranked.limit(limit).collect()
        merges: list[dict] = []
        used: set[int] = set()
        for r in cand:
            a, b = int(r["tok_a"]), int(r["tok_b"])
            if a in used or b in used:
                continue
            merges.append(
                {"rank": len(merges), "tok_a": a, "tok_b": b,
                 "new_id": VOCAB + len(merges)}
            )
            used.update((a, b))
            if len(merges) == n_picks:
                break
        if len(merges) == n_picks or len(cand) < limit:
            return merges
        limit *= 8


def q_gate_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    req = requests_df(spark, sf_dir, "bpe").select("doc_id", "tokens")
    ranked = (
        pair_counts(req)
        .filter((F.col("cnt") >= 2) & (F.col("tok_a") != F.col("tok_b")))
        .orderBy(F.desc("cnt"), F.asc("tok_a"), F.asc("tok_b"))
    )
    merges = _greedy_disjoint_picks(ranked, _BPE_N)
    out = apply_bpe(req, merges)
    return out.select(
        "doc_id",
        F.size("tokens").cast("long").alias("n_out"),
        array_digest("tokens").alias("tokens_md5"),
    )


def _sql_bpe_apply() -> str:
    # greedy disjoint pick: p1..pN, each the first ranked candidate whose
    # tokens avoid every earlier pick
    picks = []
    for i in range(1, _BPE_N + 1):
        if i == 1:
            cond = ""
        else:
            prev = " UNION ".join(
                f"SELECT a FROM p{j} UNION SELECT b FROM p{j}"
                for j in range(1, i)
            )
            cond = f"WHERE a NOT IN ({prev}) AND b NOT IN ({prev})"
        picks.append(
            f"p{i} AS (SELECT a, b FROM ranked {cond} ORDER BY rn LIMIT 1)"
        )
    # one rewrite pass per pick, the pick's (a, b) riding in as columns
    # via LEFT JOIN ON TRUE (DuckDB lambdas reject subqueries but accept
    # outer columns; a NULL pick — fewer than N candidates — degrades
    # every CASE arm to the ELSE identity on both engines)
    passes = []
    prev_col = "tokens"
    for i in range(1, _BPE_N + 1):
        nid = VOCAB + i - 1
        a, b = f"a{i}", f"b{i}"
        expr = f"""list_filter(list_transform(range(1, len({prev_col}) + 1),
      j -> CASE
        WHEN {prev_col}[j] = {a} AND j < len({prev_col}) AND {prev_col}[j+1] = {b}
          THEN {nid}
        WHEN j > 1 AND {prev_col}[j-1] = {a} AND {prev_col}[j] = {b}
          THEN NULL
        ELSE {prev_col}[j] END),
    x -> x IS NOT NULL)"""
        passes.append(
            f"r{i} AS (SELECT doc_id, {expr} AS t{i} FROM r{i - 1} "
            f"LEFT JOIN (SELECT a AS a{i}, b AS b{i} FROM p{i}) ON TRUE)"
        )
        prev_col = f"t{i}"
    pick_sql = ",\n".join(picks)
    pass_sql = ",\n".join(passes)
    return f"""WITH {sql_requests_cte()},
pairs AS (
  SELECT unnest(tokens[1:len(tokens)-1]) AS a,
         unnest(tokens[2:len(tokens)]) AS b
  FROM req
),
counts AS (SELECT a, b, count(*) AS cnt FROM pairs WHERE a <> b GROUP BY 1, 2),
ranked AS (
  SELECT a, b, row_number() OVER (ORDER BY cnt DESC, a ASC, b ASC) AS rn
  FROM counts WHERE cnt >= 2
),
{pick_sql},
r0 AS (SELECT doc_id, tokens FROM req),
{pass_sql}
SELECT doc_id,
       CAST(len({prev_col}) AS BIGINT) AS n_out,
       md5(coalesce(array_to_string({prev_col}, ','), '')) AS tokens_md5
FROM r{_BPE_N}"""


CORPUSOPS_QUERIES = {
    "repetition_stats": (q_gate_repetition_stats, _sql_repetition_stats()),
    "quality_gate": (q_gate_quality_gate, sql_quality_gate(**_GATE_PARAMS)),
    "hash_split": (q_gate_hash_split, _sql_hash_split_gate()),
    "span_corrupt": (q_gate_span_corrupt, _sql_span_corrupt_gate()),
    "length_quantiles": (q_gate_length_quantiles, _sql_length_quantiles()),
    "bpe_apply": (q_gate_bpe_apply, _sql_bpe_apply()),
}
