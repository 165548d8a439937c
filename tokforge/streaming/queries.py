"""Streaming queries exposed through the driver's correctness gate: each
runs a REAL Structured Streaming job (availableNow trigger, checkpointed,
stateful) into a temp sink, then returns the committed sink contents as a
batch DataFrame so the DuckDB oracle can check it exactly.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from tokforge.engine.config import EngineConfig
from tokforge.pipeline.stage import make_scratch_dir
from tokforge.sources.requests import requests_df, sql_requests_cte

_CHAIN = "resize:fit:32/quality:80/format:int16"
_CFG = EngineConfig()


def _drain(query, timeout=300):
    query.awaitTermination(timeout)
    if query.isActive:
        query.stop()
        query.awaitTermination(60)


# One fixture tree (inputs + checkpoint + committed sink) per
# (application, sf_dir, query), memoized like engine/queries.q_path_parse
# and placed by pipeline/stage.make_scratch_dir.  A rerun
# in the same session re-reads the committed sink instead of writing and
# streaming a fresh tree into /tmp (round-5 review: the five mkdtemp
# call sites leaked one dataset + checkpoint per invocation).
_STREAM_FIXTURES: dict[tuple, str] = {}


def _fixture_out(spark, sf_dir: str, name: str, build) -> str:
    """``build(tmp)`` writes inputs under ``tmp`` and drains the stream
    into ``tmp``'s sink, returning the sink path; memoized per session."""
    key = (spark.sparkContext.applicationId, sf_dir, name)
    if key not in _STREAM_FIXTURES:
        _STREAM_FIXTURES[key] = build(make_scratch_dir(f"tokforge-q-{name}-"))
    return _STREAM_FIXTURES[key]


def q_stream_cache_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3 event-time replicas of every request flow through the stateful
    cache: exactly 1 MISS + 2 HITs per document, and the HITs serve the
    cached tokens (n_out identical).  The whole pipeline — file stream,
    watermark, applyInPandasWithState, idempotent foreachBatch sink — runs
    for real; the oracle checks the committed sink."""
    from tokforge.streaming.job import read_sink, transform_stream

    def build(tmp: str) -> str:
        req = requests_df(spark, sf_dir, _CHAIN)
        for i in range(3):
            req.withColumn(
                "ts", (F.unix_timestamp("ts") + i * 600).cast("timestamp")
            ).write.mode("append").parquet(f"{tmp}/in/drop={i}")
        query, _ = transform_stream(
            spark,
            f"{tmp}/in",
            f"{tmp}/out",
            f"{tmp}/ckpt",
            _CFG,
            verify=False,
            available_now=True,
        )
        _drain(query)
        return f"{tmp}/out"

    out = read_sink(spark, _fixture_out(spark, sf_dir, "stream-cache", build))
    return out.groupBy("doc_id").agg(
        F.sum(F.when(F.col("cache_status") == "MISS", 1).otherwise(0)).alias("n_miss"),
        F.sum(F.when(F.col("cache_status") == "HIT", 1).otherwise(0)).alias("n_hit"),
        F.count_distinct("n_out").alias("n_variants"),
        F.max("n_out").alias("n_out"),
    )


SQL_STREAM_CACHE_COUNTS = f"""WITH {sql_requests_cte()}
SELECT doc_id,
       CAST(1 AS BIGINT) AS n_miss,
       CAST(2 AS BIGINT) AS n_hit,
       CAST(1 AS BIGINT) AS n_variants,
       least(n_tok, 32) AS n_out
FROM req"""


def q_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming tumbling windows (append mode, watermark-finalized) must
    equal the batch GROUP BY — a future sentinel closes all real windows
    before the stream drains."""
    from tokforge.streaming.job import read_sink, tumbling_rate_query

    def build(tmp: str) -> str:
        req = requests_df(spark, sf_dir, _CHAIN)
        req.write.mode("append").parquet(f"{tmp}/in/drop=0")
        q1, _ = tumbling_rate_query(spark, f"{tmp}/in", f"{tmp}/out", f"{tmp}/ckpt")
        _drain(q1)
        sentinel = req.limit(1).withColumn(
            "ts", (F.unix_timestamp("ts") + 864000).cast("timestamp")
        ).withColumn("source", F.lit("__sentinel__"))
        sentinel.write.mode("append").parquet(f"{tmp}/in/drop=1")
        q2, _ = tumbling_rate_query(spark, f"{tmp}/in", f"{tmp}/out", f"{tmp}/ckpt")
        _drain(q2)
        return f"{tmp}/out"

    out = read_sink(spark, _fixture_out(spark, sf_dir, "stream-tumbling", build))
    out = out.filter(F.col("source") != "__sentinel__")
    return out.select(
        F.unix_timestamp("window_start").alias("window_start_s"),
        "source",
        "n_requests",
        "sum_tokens",
    )


SQL_STREAM_TUMBLING = f"""WITH {sql_requests_cte()}
SELECT CAST(epoch(time_bucket(INTERVAL 1 MINUTE, ts)) AS BIGINT) AS window_start_s,
       source,
       count(*) AS n_requests,
       CAST(sum(n_tok) AS BIGINT) AS sum_tokens
FROM req
GROUP BY 1, 2"""


_INFO_CHAIN = "crop:16:0:ce/format:int32"


def q_stream_info_cache(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2 event-time replicas of every request flow through the metadata
    cache (the SECOND keyed state namespace, keyed by doc_id — reference
    cache.rs:240-256): exactly 1 MISS + 1 HIT per document, and the HIT
    serves the stored info (single n_out/size variant)."""
    from tokforge.streaming.job import info_stream, read_sink

    def build(tmp: str) -> str:
        req = requests_df(spark, sf_dir, _INFO_CHAIN)
        for i in range(2):
            req.withColumn(
                "ts", (F.unix_timestamp("ts") + i * 600).cast("timestamp")
            ).write.mode("append").parquet(f"{tmp}/in/drop={i}")
        query, _ = info_stream(
            spark, f"{tmp}/in", f"{tmp}/out", f"{tmp}/ckpt", _CFG, available_now=True
        )
        _drain(query)
        return f"{tmp}/out"

    out = read_sink(spark, _fixture_out(spark, sf_dir, "stream-info", build))
    return out.groupBy("doc_id").agg(
        F.sum(F.when(F.col("info_status") == "MISS", 1).otherwise(0)).alias("n_miss"),
        F.sum(F.when(F.col("info_status") == "HIT", 1).otherwise(0)).alias("n_hit"),
        F.count_distinct("n_out").alias("n_variants"),
        F.max("n_out").alias("n_out"),
        F.max("dtype").alias("dtype"),
        F.max("size_bytes").alias("size_bytes"),
    )


# crop:16:ce of the derived token stream: adjacent tokens always differ
# (constant stride), so the RLE size is exactly n_out * 4 bytes.
SQL_STREAM_INFO_CACHE = f"""WITH {sql_requests_cte()}
SELECT doc_id,
       CAST(1 AS BIGINT) AS n_miss,
       CAST(1 AS BIGINT) AS n_hit,
       CAST(1 AS BIGINT) AS n_variants,
       least(n_tok, 16) AS n_out,
       'int32' AS dtype,
       CAST(least(n_tok, 16) * 4 AS BIGINT) AS size_bytes
FROM req"""


_RL_CAPACITY = 3.0
_RL_REFILL = 0.25  # tokens per EVENT-TIME second; dyadic so doubles stay exact


def q_stream_ratelimit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The stateful event-time token bucket (reference middleware.rs:38-51)
    run as a REAL stream: per source, the bucket starts at capacity 3,
    refills 0.25 tokens per event-time second, each admitted request takes
    one token.  All bucket arithmetic is dyadic-exact (whole-second
    timestamps x 0.25), so `tokens_after` is hash-comparable to the
    oracle's recursive simulation bit-for-bit.  One coalesced input drop ->
    one micro-batch, so processing order per source is the (ts, doc_id)
    event-time order the oracle replays."""
    from tokforge.streaming.job import ratelimit_stream, read_sink

    def build(tmp: str) -> str:
        req = requests_df(spark, sf_dir, _CHAIN)
        # GATE FIXTURE ONLY: coalesce(1) pins a global deterministic order
        # so the DuckDB oracle can replay it.  The production path
        # (ratelimit.with_rate_limit) orders within each source key and
        # needs no global order — do NOT copy this coalesce into a real
        # job; at scale it would serialize the whole scan through one task.
        req.coalesce(1).write.mode("append").parquet(f"{tmp}/in/drop=0")
        query, _ = ratelimit_stream(
            spark,
            f"{tmp}/in",
            f"{tmp}/out",
            f"{tmp}/ckpt",
            capacity=_RL_CAPACITY,
            refill_per_sec=_RL_REFILL,
            available_now=True,
        )
        _drain(query)
        return f"{tmp}/out"

    out = read_sink(spark, _fixture_out(spark, sf_dir, "stream-rl", build))
    return out.select("source", "doc_id", "admitted", "tokens_after")


# Exact replay of the bucket as a recursive CTE: rows per source advance in
# (ts, doc_id) order carrying (tokens_after) forward; refill is
# least(capacity, tokens + elapsed_s * refill).  Every quantity is an exact
# dyadic double, so this matches the kernel's float64 math bit-for-bit.
SQL_STREAM_RATELIMIT = f"""WITH RECURSIVE {sql_requests_cte()},
ordered AS (
  SELECT source, doc_id,
         CAST(doc_num % 7200 AS DOUBLE) AS t_s,
         row_number() OVER (PARTITION BY source ORDER BY ts, doc_id) AS rn
  FROM req
),
sim AS (
  SELECT source, doc_id, t_s, rn,
         TRUE AS admitted,
         CAST('{_RL_CAPACITY!r}' AS DOUBLE) - CAST('1.0' AS DOUBLE) AS tokens_after
  FROM ordered WHERE rn = 1
  UNION ALL
  SELECT o.source, o.doc_id, o.t_s, o.rn,
         least(CAST('{_RL_CAPACITY!r}' AS DOUBLE),
               s.tokens_after + (o.t_s - s.t_s) * CAST('{_RL_REFILL!r}' AS DOUBLE))
           >= CAST('1.0' AS DOUBLE) AS admitted,
         CASE WHEN least(CAST('{_RL_CAPACITY!r}' AS DOUBLE),
                         s.tokens_after + (o.t_s - s.t_s) * CAST('{_RL_REFILL!r}' AS DOUBLE))
                   >= CAST('1.0' AS DOUBLE)
              THEN least(CAST('{_RL_CAPACITY!r}' AS DOUBLE),
                         s.tokens_after + (o.t_s - s.t_s) * CAST('{_RL_REFILL!r}' AS DOUBLE))
                   - CAST('1.0' AS DOUBLE)
              ELSE least(CAST('{_RL_CAPACITY!r}' AS DOUBLE),
                         s.tokens_after + (o.t_s - s.t_s) * CAST('{_RL_REFILL!r}' AS DOUBLE))
         END AS tokens_after
  FROM sim s JOIN ordered o ON o.source = s.source AND o.rn = s.rn + 1
)
SELECT source, doc_id, admitted, tokens_after FROM sim"""


def q_stream_join_invalidation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The watermarked STREAM-STREAM JOIN (north rule 'stateful join'):
    request stream left-joins a purge-event stream on cache_key within a
    10-minute event-time band (streaming/join.py; reference cache purge
    surface, cache.rs insert/remove).  Deterministic purge layout:
    doc%3==0 gets TWO in-band purges (ts-300, ts-120 — multiplicity must
    collapse to the max), doc%3==1 one out-of-band purge (ts-1200),
    doc%3==2 none.  Future sentinels advance both watermarks so unmatched
    left rows finalize before the sink is read."""
    from tokforge.engine.transform import cache_key_col
    from tokforge.streaming.job import read_sink
    from tokforge.streaming.join import invalidation_stream

    def build(tmp: str) -> str:
        req = requests_df(spark, sf_dir, _CHAIN)
        req.coalesce(1).write.mode("append").parquet(f"{tmp}/in/drop=0")
        keyed = req.withColumn("cache_key", cache_key_col())
        d = F.col("doc_id").cast("long")
        purges = keyed.filter(d % 3 < 2).select(
            "cache_key",
            F.when(d % 3 == 0, F.unix_timestamp("ts") - 300)
            .otherwise(F.unix_timestamp("ts") - 1200)
            .cast("timestamp")
            .alias("purge_ts"),
        )
        dup = keyed.filter(d % 3 == 0).select(
            "cache_key",
            (F.unix_timestamp("ts") - 120).cast("timestamp").alias("purge_ts"),
        )
        purges.union(dup).coalesce(1).write.mode("append").parquet(
            f"{tmp}/purge/drop=0"
        )
        q1, _ = invalidation_stream(
            spark, f"{tmp}/in", f"{tmp}/purge", f"{tmp}/out", f"{tmp}/ckpt"
        )
        _drain(q1)
        sent = (
            req.limit(1)
            .withColumn("ts", (F.unix_timestamp("ts") + 864000).cast("timestamp"))
            .withColumn("doc_id", F.lit("__sentinel__"))
        )
        sent.write.mode("append").parquet(f"{tmp}/in/drop=1")
        purges.limit(1).withColumn(
            "purge_ts", (F.unix_timestamp("purge_ts") + 864000).cast("timestamp")
        ).write.mode("append").parquet(f"{tmp}/purge/drop=1")
        q2, _ = invalidation_stream(
            spark, f"{tmp}/in", f"{tmp}/purge", f"{tmp}/out", f"{tmp}/ckpt"
        )
        _drain(q2)
        return f"{tmp}/out"

    out = read_sink(spark, _fixture_out(spark, sf_dir, "stream-join", build))
    out = out.filter(F.col("doc_id") != "__sentinel__")
    return out.select(
        "doc_id",
        "cache_bypass",
        F.unix_timestamp("purge_ts").alias("purge_ts_s"),
    )


SQL_STREAM_JOIN_INVALIDATION = f"""WITH {sql_requests_cte()}
SELECT doc_id,
       (doc_num % 3 = 0) AS cache_bypass,
       CASE WHEN doc_num % 3 = 0 THEN CAST(epoch(ts) AS BIGINT) - 120
            ELSE NULL END AS purge_ts_s
FROM req"""


# ---------------------------------------------------------------------------
# Streaming near-dup (LSH) at ingest — the round-6 gated row.
# ---------------------------------------------------------------------------

# Fixture doc_id spaces: originals < _DUP_OFFSET <= exact-token replicas
# < _SHORT_OFFSET <= unshingleable stubs.  Far above any sf's doc_num.
_DUP_OFFSET = 10_000_000
_SHORT_OFFSET = 20_000_000
_SHORT_MOD = 50


def q_stream_lsh_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate detection AT INGEST as a real stream
    (streaming/lsh_dedup.py): Arrow MinHash signatures -> band-bucket keyed
    `applyInPandasWithState` LSH index -> per-doc verdicts through the
    exactly-once sink.  Fixture = originals + an exact-token replica of
    every doc 30 s later (different doc_id, so exact dedup would MISS it —
    the LSH stage must flag it) + an unshingleable 2-token stub for every
    50th doc (NULL signature: passes through unflagged).

    GATE FIXTURE ONLY: coalesce(1) pins one input file -> one micro-batch,
    so "seen earlier" is exactly the state stage's in-batch (ts, doc_id)
    order and the oracle can replay it as a SQL window.  The production
    path needs no global order (state persists across micro-batches and
    arrival order IS the semantics); do not copy the coalesce."""
    from tokforge.streaming.job import read_sink
    from tokforge.streaming.lsh_dedup import lsh_dedup_stream

    def build(tmp: str) -> str:
        req = requests_df(spark, sf_dir, _CHAIN)
        d = F.col("doc_id").cast("long")
        dup = req.withColumn(
            "doc_id", (d + _DUP_OFFSET).cast("string")
        ).withColumn("ts", (F.unix_timestamp("ts") + 30).cast("timestamp"))
        short = (
            req.filter(d % _SHORT_MOD == 0)
            .withColumn("doc_id", (d + _SHORT_OFFSET).cast("string"))
            .withColumn("ts", (F.unix_timestamp("ts") + 60).cast("timestamp"))
            .withColumn("tokens", F.slice("tokens", 1, 2))
            .withColumn("n_tok", F.lit(2).cast("int"))
        )
        req.unionByName(dup).unionByName(short).coalesce(1).write.mode(
            "append"
        ).parquet(f"{tmp}/in/drop=0")
        query, _ = lsh_dedup_stream(
            spark, f"{tmp}/in", f"{tmp}/out", f"{tmp}/ckpt", available_now=True
        )
        _drain(query)
        return f"{tmp}/out"

    out = read_sink(spark, _fixture_out(spark, sf_dir, "stream-lsh", build))
    return out.select(
        "doc_id",
        F.unix_timestamp("ts").alias("ts_s"),
        "matched_doc",
        "est_jaccard",
        "near_dup",
    )


def _sql_stream_lsh_dedup() -> str:
    """Exact replay of the streaming LSH verdicts: same shingle -> coarse
    feature -> MinHash -> band integer math as the batch LSH oracle
    (pipeline/dedup._lsh_ctes), with 'seen earlier' = the state stage's
    (ts, doc_id) processing order and the match-time event-horizon check.
    The hierarchical (per-bucket then per-doc) argmax in the kernel is a
    total order over (est DESC, matched_doc ASC), so one flat window
    reproduces it."""
    from tokforge.pipeline.dedup import _SQL_SHINGLES  # noqa: PLC2701
    from tokforge.pipeline.dedup import (
        A,
        B,
        FEATURE_SPACE,
        N_BANDS,
        N_HASHES,
        P,
        ROWS_PER_BAND,
    )
    from tokforge.streaming.lsh_dedup import (
        DEFAULT_HORIZON_MS,
        DEFAULT_THRESHOLD,
    )

    hashes = ", ".join(
        f"list_min(list_transform(feats, g -> (g * {A[j]} + {B[j]}) % {P})) AS h{j}"
        for j in range(N_HASHES)
    )

    def band_sql(i: int) -> str:
        v = f"h{ROWS_PER_BAND * i}"
        for j in range(1, ROWS_PER_BAND):
            v = f"(({v}) * 31 + h{ROWS_PER_BAND * i + j}) % {P}"
        return v

    band_structs = ", ".join(
        f"{{'bi': {i}, 'bv': {band_sql(i)}}}" for i in range(N_BANDS)
    )
    h_cols = ", ".join(f"h{j}" for j in range(N_HASHES))
    eq_sum = " + ".join(
        f"CASE WHEN l.h{j} = e.h{j} THEN 1 ELSE 0 END" for j in range(N_HASHES)
    )
    horizon_s = DEFAULT_HORIZON_MS // 1000
    return f"""WITH {sql_requests_cte()},
inp AS (
  SELECT doc_id, ts, tokens, n_tok FROM req
  UNION ALL
  SELECT CAST(doc_num + {_DUP_OFFSET} AS VARCHAR),
         ts + INTERVAL 30 SECOND, tokens, n_tok FROM req
  UNION ALL
  SELECT CAST(doc_num + {_SHORT_OFFSET} AS VARCHAR),
         ts + INTERVAL 60 SECOND, tokens[1:2], 2
  FROM req WHERE doc_num % {_SHORT_MOD} = 0
),
sh AS (
  SELECT doc_id, ts,
         list_transform({_SQL_SHINGLES}, g -> g % {FEATURE_SPACE}) AS feats
  FROM inp
),
sig AS (SELECT doc_id, ts, {hashes} FROM sh WHERE len(feats) > 0),
bands AS (
  SELECT doc_id, ts, {h_cols}, b.bi AS band_idx, b.bv AS band_val
  FROM sig, unnest([{band_structs}]) AS u(b)
),
cand AS (
  SELECT DISTINCT l.doc_id, l.ts, e.doc_id AS matched_doc,
         CAST({eq_sum} AS DOUBLE) / {N_HASHES} AS est
  FROM bands l JOIN bands e
    ON l.band_idx = e.band_idx AND l.band_val = e.band_val
   AND (e.ts < l.ts OR (e.ts = l.ts AND e.doc_id < l.doc_id))
   AND CAST(epoch(l.ts) AS BIGINT) - CAST(epoch(e.ts) AS BIGINT) <= {horizon_s}
),
win AS (
  SELECT doc_id, ts, matched_doc, est,
         row_number() OVER (
           PARTITION BY doc_id, ts ORDER BY est DESC, matched_doc ASC
         ) AS rn
  FROM cand WHERE est >= CAST('{DEFAULT_THRESHOLD!r}' AS DOUBLE)
)
SELECT i.doc_id,
       CAST(epoch(i.ts) AS BIGINT) AS ts_s,
       w.matched_doc,
       coalesce(w.est, CAST(0 AS DOUBLE)) AS est_jaccard,
       w.matched_doc IS NOT NULL AS near_dup
FROM inp i
LEFT JOIN win w ON w.doc_id = i.doc_id AND w.ts = i.ts AND w.rn = 1"""


SQL_STREAM_LSH_DEDUP = _sql_stream_lsh_dedup()


# ---------------------------------------------------------------------------
# CEP sequence pattern — the gated BATCH FACE of streaming/patterns.py
# (the streaming face is asserted equal to it, incl. cross-micro-batch
# matches and reordering, by tests/test_streaming_patterns.py).
# ---------------------------------------------------------------------------

_CEP_PATTERN = ("S", "*", "L")
_CEP_WITHIN_S = 600


def _cep_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Request stream classified into a content-keyed 3-symbol alphabet
    (tokens[0] % 3 — varies within every source, unlike n_tok, which the
    fixture aliases with source)."""
    req = requests_df(spark, sf_dir, _CHAIN)
    t0 = F.element_at("tokens", 1) % 3
    return req.withColumn(
        "event",
        F.when(t0 == 0, F.lit("S")).when(t0 == 1, F.lit("M")).otherwise(F.lit("L")),
    ).select("source", "doc_id", "event", "ts")


def q_cep_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE-style contiguous pattern S,*,L WITHIN 600 s per
    source over the (ts, doc_id) event order — overlapping matches, one
    row per match (streaming/patterns.py detect_pattern_batch: one hash
    exchange + ONE Window node carrying all the leads)."""
    from tokforge.streaming.patterns import detect_pattern_batch

    m = detect_pattern_batch(
        _cep_events(spark, sf_dir), list(_CEP_PATTERN), _CEP_WITHIN_S
    )
    return m.select(
        "key",
        F.unix_timestamp("start_ts").alias("start_ts_s"),
        F.unix_timestamp("end_ts").alias("end_ts_s"),
        "first_id",
        "last_id",
    )


def _sql_cep_pattern() -> str:
    from tokforge.streaming.patterns import sql_detect_pattern

    inner = sql_detect_pattern(list(_CEP_PATTERN), _CEP_WITHIN_S, "ev")
    return f"""WITH {sql_requests_cte()},
ev AS (
  SELECT source, doc_id, ts,
         CASE WHEN tokens[1] % 3 = 0 THEN 'S'
              WHEN tokens[1] % 3 = 1 THEN 'M'
              ELSE 'L' END AS event
  FROM req
),
m AS ({inner})
SELECT key,
       CAST(epoch(start_ts) AS BIGINT) AS start_ts_s,
       CAST(epoch(end_ts) AS BIGINT) AS end_ts_s,
       first_id, last_id
FROM m"""


SQL_CEP_PATTERN = _sql_cep_pattern()


# ---------------------------------------------------------------------------
# CEP absence detection — "an S with no L within T" — the gated BATCH FACE
# of streaming/patterns.py detect_absence_batch (the streaming face, fired
# by watermark passage via EventTimeTimeout, is asserted equal to it by
# tests/test_streaming_patterns.py test_absence_stream_equals_batch).
# ---------------------------------------------------------------------------

_ABS_A, _ABS_B = "S", "L"
_ABS_WITHIN_S = 120


def q_cep_absence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every S event with no following L of the same source inside 120 s
    (ts, doc_id order).  One per-key DESCENDING window carrying the
    running min of later-L timestamps — a scalar compare, never an
    O(nA*nB) range join."""
    from tokforge.streaming.patterns import detect_absence_batch

    m = detect_absence_batch(
        _cep_events(spark, sf_dir), _ABS_A, _ABS_B, _ABS_WITHIN_S
    )
    return m.select(
        "key",
        "doc_id",
        F.unix_timestamp("start_ts").alias("start_ts_s"),
        F.unix_timestamp("deadline_ts").alias("deadline_ts_s"),
    )


def _sql_cep_absence() -> str:
    from tokforge.streaming.patterns import sql_detect_absence

    inner = sql_detect_absence(_ABS_A, _ABS_B, _ABS_WITHIN_S, "ev")
    return f"""WITH {sql_requests_cte()},
ev AS (
  SELECT source, doc_id, ts,
         CASE WHEN tokens[1] % 3 = 0 THEN 'S'
              WHEN tokens[1] % 3 = 1 THEN 'M'
              ELSE 'L' END AS event
  FROM req
),
m AS ({inner})
SELECT key, doc_id,
       CAST(epoch(start_ts) AS BIGINT) AS start_ts_s,
       CAST(epoch(deadline_ts) AS BIGINT) AS deadline_ts_s
FROM m"""


SQL_CEP_ABSENCE = _sql_cep_absence()


STREAMING_QUERIES = {
    "stream_cache_counts": (q_stream_cache_counts, SQL_STREAM_CACHE_COUNTS),
    "cep_pattern": (q_cep_pattern, SQL_CEP_PATTERN),
    "cep_absence": (q_cep_absence, SQL_CEP_ABSENCE),
    "stream_lsh_dedup": (q_stream_lsh_dedup, SQL_STREAM_LSH_DEDUP),
    "stream_info_cache": (q_stream_info_cache, SQL_STREAM_INFO_CACHE),
    "stream_ratelimit": (q_stream_ratelimit, SQL_STREAM_RATELIMIT),
    "stream_join_invalidation": (
        q_stream_join_invalidation,
        SQL_STREAM_JOIN_INVALIDATION,
    ),
}

# Rotated out of the driver's 50-slot window in round 6 (its semantics —
# watermark-finalized tumbling counts == the batch GROUP BY — are a strict
# subset of the gated `window_tumbling_sliding`); full Spark↔DuckDB
# equality is kept by tests/test_rotated_out_oracles.py.
STREAMING_QUERIES_EXTRA = {
    "stream_window_tumbling": (q_stream_tumbling, SQL_STREAM_TUMBLING),
}
