"""Deduplication operators over the token/document tables: exact
(hash-groupBy), MinHash + LSH banding, SimHash, and n-gram Jaccard.

All hash arithmetic is integer-only and shared between the Spark column
expressions and the DuckDB oracle SQL, so results hash-match exactly.
At 100 TB the shapes matter: exact dedup is one shuffle on the content
hash; MinHash/LSH shuffles once on (band_idx, band_val) — never all-pairs;
the Jaccard verifier only runs inside candidate buckets.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tokforge.pipeline.stage import make_scratch_dir, stage_boundary
from tokforge.sources.requests import (
    load_documents,
    requests_df,
    sql_requests_cte,
)

# MinHash parameters: h_j(g) = (A[j] * g + B[j]) % P over 3-token shingles.
P = 2147483647  # 2^31 - 1 (Mersenne prime)
SHINGLE_K = 3
SHINGLE_MULT = 50261  # the rolling k-gram fold's multiplier (_kgram_flat)
N_HASHES = 8
# Banding: 2 bands x 4 hashes.  With coarse features the per-hash collision
# probability is ~= Jaccard J, so a band of r hashes collides at ~J^r —
# r=4 keeps candidate volume ~J^4 * n^2 (tiny) instead of the ~J * n^2
# blowup r=2 produced (measured: 83k pairs / 133s at sf0.1 with r=2 vs
# near-zero with r=4).  The r/b tradeoff is the recall knob at 100 TB.
N_BANDS = 2
ROWS_PER_BAND = 4
A = (1103515245, 1299709, 15485863, 32452843, 49979687, 67867967, 86028121, 104395301)
B = (12345, 524287, 6700417, 999331, 15487469, 2750159, 7368787, 9999889)

# Coarse feature space for LSH candidate generation: with fine 31-bit
# shingle ids the synthetic docs share nothing; g % FEATURE_SPACE gives the
# overlap structure LSH is meant to exploit.
FEATURE_SPACE = 4096

SIMHASH_BITS = 16
SIMHASH_MULT = 2654435761
SIMHASH_MOD = 2147483648


def _kgram_flat(values: "np.ndarray", rowmap: "np.ndarray", k: int):
    """Flat rolling k-gram hashes over the _flat_tokens layout:
    (g, gram_row, gram_pos_base_index) with g = fold(window, t0 % P,
    (h * SHINGLE_MULT + t) % P), windows never crossing a row boundary.
    The one gram identity of the dedup family: MinHash shingles are this
    fold at k = SHINGLE_K, the substring layer (substr.py) uses any k."""
    n = len(values)
    if n < k:
        e = np.empty(0, dtype=np.int64)
        return e, e.copy(), e.copy()
    m = n - k + 1
    valid = rowmap[:m] == rowmap[k - 1 :]
    h = values[:m] % P
    for j in range(1, k):
        h *= SHINGLE_MULT
        h += values[j : m + j]
        h %= P
    idx = np.flatnonzero(valid)
    return h[idx], rowmap[idx], idx


def sql_kgram_fold(k: int) -> str:
    """DuckDB twin of _kgram_flat for one gram starting at 0-based list
    offset ``s`` (DuckDB lists are 1-based)."""
    expr = f"CAST(tokens[s + 1] AS BIGINT) % {P}"
    for j in range(1, k):
        expr = f"(({expr}) * {SHINGLE_MULT} + tokens[s + {j + 1}]) % {P}"
    return expr


# The shingle list as the DuckDB oracles render it: the reference
# semantics the Arrow passes below reproduce (range() is empty for
# n_tok < SHINGLE_K).  Written as Spark HOF expressions instead, eight
# separate `array_min(transform(...))` columns make Catalyst inline the
# feature expression into every column and codegen blows up
# superlinearly (>390s vs ~5s at sf0.1, measured).
_SQL_SHINGLES = (
    f"list_transform(range(0, n_tok - {SHINGLE_K} + 1), "
    f"s -> {sql_kgram_fold(SHINGLE_K)})"
)


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: one shuffle on md5(text); keeper = min doc_id.
    At scale this is a straight hash aggregation with map-side combine."""
    docs = load_documents(spark, sf_dir)
    return docs.groupBy(F.md5("text").alias("content_hash")).agg(
        F.min("doc_id").alias("keeper_doc_id"),
        F.count("*").alias("n_copies"),
    )


SQL_DEDUP_EXACT = """SELECT md5(text) AS content_hash,
       min(doc_id) AS keeper_doc_id,
       count(*) AS n_copies
FROM documents
GROUP BY 1"""


# ---------------------------------------------------------------------------
# Arrow fast path for the hash lineage.  _SQL_SHINGLES (the DuckDB oracle)
# is the REFERENCE semantics; Catalyst would interpret the same higher-order
# functions per element (~0.5M tokens/s measured) while the engine's
# Arrow+numpy path does 30M+ — at 100 TB that constant is the difference
# between a day and a month.  The numpy code reproduces the exact integer
# arithmetic, so the driver gate pins equality against the oracles.
#
# One MinHash kernel and one SimHash kernel, both over the flat token
# layout (values, rowmap, lengths).  Two token sources feed them:
# _flat_tokens for frames that carry `tokens`, and _synth_tokens for the
# key-only request lineage below.
# ---------------------------------------------------------------------------


def _flat_tokens(batch):
    """(values int64, row-of-token map, per-row lengths) from an Arrow batch."""
    import pyarrow as pa

    toks = batch.column("tokens")
    if isinstance(toks, pa.ChunkedArray):
        toks = toks.combine_chunks()
    offsets = toks.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
    values = toks.values.to_numpy(zero_copy_only=False).astype(np.int64)
    # a sliced / non-zero-base ListArray carries ABSOLUTE offsets into the
    # full child buffer; window the values so rowmap stays aligned (Spark's
    # mapInArrow batches are base-0 today, but nothing guarantees it)
    values = values[offsets[0] : offsets[-1]]
    offsets = offsets - offsets[0]
    lengths = np.diff(offsets)
    rowmap = np.repeat(np.arange(len(lengths), dtype=np.int64), lengths)
    return values, rowmap, lengths


def _synth_tokens(doc_ids: "np.ndarray"):
    """The numpy twin of sources.requests.tokens_col / n_tok_col in the
    _flat_tokens layout: tokens[i] = (doc_id*MUL_A + i*MUL_B) % VOCAB,
    with the row length from the doc_id % 4 ladder."""
    from tokforge.constants import VOCAB
    from tokforge.sources.requests import LEN_LADDER, MUL_A, MUL_B

    lengths = np.asarray(LEN_LADDER, dtype=np.int64)[doc_ids % 4]
    rowmap = np.repeat(np.arange(len(doc_ids), dtype=np.int64), lengths)
    starts = np.repeat(np.cumsum(lengths) - lengths, lengths)
    pos = np.arange(len(rowmap), dtype=np.int64) - starts
    values = (np.repeat(doc_ids, lengths) * MUL_A + pos * MUL_B) % VOCAB
    return values, rowmap, lengths


def _minhash(values, rowmap, m: int, feature_space: int | None):
    """The MinHash kernel: an ``m``-row ListArray of N_HASHES-entry
    signatures over the SHINGLE_K-shingles.  ``feature_space`` folds
    shingles into the coarse LSH feature space first (min over the folded
    multiset == min over the distinct set, so no distinct is needed).
    Rows with no shingles (n < SHINGLE_K) get a NULL signature."""
    import pyarrow as pa

    g, g_rows, _ = _kgram_flat(values, rowmap, SHINGLE_K)
    if feature_space is not None:
        g = g % feature_space
    counts = np.bincount(g_rows, minlength=m)
    seg = np.zeros(m + 1, dtype=np.int64)
    np.cumsum(counts, out=seg[1:])
    has = counts > 0
    # reduceat over NON-EMPTY rows' start offsets only: each index pair
    # then spans exactly one row's shingles (empty rows contribute no
    # elements, so skipping their indices is exact), and the final
    # segment runs to len(hj).  The old clamp trick (min(seg, len-1) to
    # keep trailing-empty indices in bounds) fed len-1 as the END of the
    # last non-empty row's segment, silently dropping its final shingle —
    # a chimeric signature caught by the streaming LSH oracle (the only
    # gated fixture with unshingleable rows, which sort last in the batch).
    starts = seg[:-1][has]
    sig = np.zeros((m, N_HASHES), dtype=np.int64)
    if starts.size:
        for j in range(N_HASHES):
            hj = (g * A[j] + B[j]) % P
            sig[has, j] = np.minimum.reduceat(hj, starts)
    flat = sig[has].reshape(-1)
    offs = np.zeros(m + 1, dtype=np.int32)
    np.cumsum(np.where(has, N_HASHES, 0), out=offs[1:])
    arr = pa.ListArray.from_arrays(
        pa.array(offs, type=pa.int32()), pa.array(flat, type=pa.int64())
    )
    if not has.all():
        import pyarrow.compute as pc

        arr = pc.if_else(pa.array(has), arr, pa.nulls(m, type=arr.type))
    return arr


def _simhash(values, lengths):
    """The SimHash kernel: per-row 16-bit SimHash as an int64 Arrow array
    (h = (x*MULT) % MOD, +-1 per bit, majority > 0)."""
    import pyarrow as pa

    # only the low SIMHASH_BITS (16) bits vote: a uint16 h carries them at
    # a quarter of the int64 memory traffic (60 -> 35 ms per 10k
    # synthesized rows, one core of a 4-cpu box)
    h = ((values * SIMHASH_MULT) % SIMHASH_MOD).astype(np.uint16)
    seg = np.zeros(len(lengths) + 1, dtype=np.int64)
    np.cumsum(lengths, out=seg[1:])
    # non-empty rows' starts only — the same trailing-empty-row reduceat
    # fix as _minhash; empty rows keep simhash 0, which is the oracle's
    # NULL-list_sum semantics.
    nonzero = lengths > 0
    starts = seg[:-1][nonzero]
    simhash = np.zeros(len(lengths), dtype=np.int64)
    # one 1-D reduceat per bit (a 2-D axis-0 reduceat is ~100x slower);
    # vote_b = 2*ones_b - n  >  0  <=>  majority of 1s
    if starts.size:
        nz_lengths = lengths[nonzero]
        for bit in range(SIMHASH_BITS):
            ones = (h >> bit) & 1
            ones_per_row = np.add.reduceat(ones, starts, dtype=np.int64)
            votes = 2 * ones_per_row - nz_lengths
            simhash[nonzero] += (votes > 0) * (1 << bit)
    return pa.array(simhash, type=pa.int64())


def signatures_arrow(
    req: DataFrame,
    feature_space: int | None,
    passthrough: tuple[tuple[str, str], ...] = (),
) -> DataFrame:
    """doc_id + MinHash signature (array<long>, N_HASHES entries) via ONE
    mapInArrow pass of the _minhash kernel over the frame's ``tokens``.
    Rows with no shingles (n_tok < 3) emit a NULL signature — the callers
    filter them.

    ``passthrough`` = ((name, ddl_type), ...) extra input columns carried
    through the same Arrow batch unchanged (e.g. the event-time ``ts`` for
    the streaming LSH stage) — the stream side reuses THIS function, so
    batch and streaming signatures are the same integer math by
    construction, not by parallel maintenance."""
    import pyarrow as pa

    cols = ["doc_id"] + [n for n, _ in passthrough]

    def fn(batches):
        for batch in batches:
            values, rowmap, _ = _flat_tokens(batch)
            sig = _minhash(values, rowmap, batch.num_rows, feature_space)
            yield pa.RecordBatch.from_arrays(
                [batch.column(n) for n in cols] + [sig], names=cols + ["sig"]
            )

    extra_ddl = "".join(f"{n} {t}, " for n, t in passthrough)
    return req.select(*cols, "tokens").mapInArrow(
        fn, f"doc_id string, {extra_ddl}sig array<long>"
    )


def simhash_arrow(req: DataFrame) -> DataFrame:
    """doc_id + 16-bit SimHash via one mapInArrow pass of the _simhash
    kernel over the frame's ``tokens``."""
    import pyarrow as pa

    def fn(batches):
        for batch in batches:
            values, _, lengths = _flat_tokens(batch)
            yield pa.RecordBatch.from_arrays(
                [batch.column("doc_id"), _simhash(values, lengths)],
                names=["doc_id", "simhash16"],
            )

    return req.select("doc_id", "tokens").mapInArrow(
        fn, "doc_id string, simhash16 long"
    )


# ---------------------------------------------------------------------------
# Fused synthesis + hash (round-8 optimization).  The request stream is
# DERIVED data: tokens[i] = (doc_id*MUL_A + i*MUL_B) % VOCAB with n from
# the doc_id%4 ladder (sources/requests.py, mirrored by the oracle CTE).
# Materializing that array via interpreted HOF expressions on top of an
# unsplittable single-row-group scan made the dedup hash queries serial
# AND shipped the full token arrays through the exchange.  These paths
# shuffle ONLY doc_id (guide §2.3 "shuffle keys, not payloads"), then
# _synth_tokens rebuilds the exact same tokens inside the Arrow pass that
# runs the same kernels on them — oracles unchanged
# (tests/test_dedup_synth.py pins the synthesis to requests_df).
# ---------------------------------------------------------------------------


def _synth_request_ids(
    spark: SparkSession, sf_dir: str, replicas: int = 1
) -> DataFrame:
    """Replica-extended NUMERIC doc_ids of the synthesized request table,
    spread across the session's parallelism (the documents scan is a
    single unsplittable row group; the rows here are one int64 each, so
    the round-robin exchange is ~free)."""
    from tokforge.sources.requests import REPLICA_STRIDE

    docs = load_documents(spark, sf_dir).select("doc_id")
    if replicas > 1:
        reps = spark.range(replicas).select(F.col("id").alias("rep"))
        docs = docs.crossJoin(F.broadcast(reps)).select(
            (F.col("doc_id") + F.col("rep") * F.lit(REPLICA_STRIDE)).alias("doc_id")
        )
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    return docs.repartition(n_part)


def _synth_hashed(ids: DataFrame, out: tuple[str, str], kernel) -> DataFrame:
    """The fused mapInArrow shape: int64 doc_ids in, string doc_id plus
    the ``out`` = (name, ddl_type) column out, where ``kernel(values,
    rowmap, lengths)`` hashes the _synth_tokens of each batch — no token
    array ever crosses the JVM boundary."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def fn(batches):
        for batch in batches:
            d_arr = batch.column("doc_id")
            d = d_arr.to_numpy(zero_copy_only=False).astype(np.int64)
            yield pa.RecordBatch.from_arrays(
                [pc.cast(d_arr, pa.string()), kernel(*_synth_tokens(d))],
                names=["doc_id", out[0]],
            )

    return ids.mapInArrow(fn, f"doc_id string, {out[0]} {out[1]}")


def _materialized_requests(
    spark: SparkSession, sf_dir: str, label: str, replicas: int = 1
) -> DataFrame:
    """Request rows with the tokens ARRAY materialized behind an exchange.

    The documents scan is one unsplittable row group, so without the
    round-robin exchange everything above the token synthesis (the
    jaccard token sets' array_distinct) runs in that single scan task;
    behind it, it runs across the shuffle partitions.  Measured on
    q_ngram_jaccard at sf0.1, 4 cpus, 3 alternating fresh-JVM pairs:
    median 2.89 s with the exchange vs 3.13 s without it.
    """
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    return requests_df(spark, sf_dir, label, replicas=replicas).repartition(n_part)


def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc MinHash signature (8 hashes over 3-token shingles), computed
    on the fused synthesis+hash Arrow path (_synth_hashed + _minhash)."""
    df = _synth_hashed(
        _synth_request_ids(spark, sf_dir),
        ("sig", "array<long>"),
        lambda v, r, n: _minhash(v, r, len(n), None),
    )
    return df.select(
        "doc_id",
        *[F.element_at("sig", j + 1).alias(f"h{j}") for j in range(N_HASHES)],
    )


def _sql_minhash_signatures() -> str:
    hashes = ", ".join(
        f"list_min(list_transform(shingles, g -> (g * {A[j]} + {B[j]}) % {P})) AS h{j}"
        for j in range(N_HASHES)
    )
    return f"""WITH {sql_requests_cte()},
sh AS (SELECT doc_id, {_SQL_SHINGLES} AS shingles FROM req)
SELECT doc_id, {hashes} FROM sh"""


# One persisted signature table per (application, sf_dir, replicas) —
# bounded by distinct inputs, never one per CALL.  Values are the cached
# DataFrames so clear_sig_cache can unpersist them deterministically.
_SIG_CACHE: dict[tuple[str, str, int], DataFrame] = {}


def _sig_cached(spark: SparkSession, sf_dir: str, replicas: int) -> DataFrame:
    """Persisted LSH signature table, memoized per (application, sf_dir,
    replicas).  Derives its own request input so the memo key provably
    covers everything the cached value depends on — a caller-supplied
    DataFrame would be load-bearing only on a miss (round-4 review)."""
    key = (spark.sparkContext.applicationId, sf_dir, replicas)
    hit = _SIG_CACHE.get(key)
    if hit is not None:
        return hit
    # fused synthesis+hash: only int64 doc_ids cross the exchange (the
    # n_tok >= SHINGLE_K filter is a no-op on the length ladder, min 6);
    # _synth_request_ids already spreads rows across the session's
    # parallelism, so the Arrow pass is the materialization the persist
    # pins for both self-join sides
    sig = _synth_hashed(
        _synth_request_ids(spark, sf_dir, replicas),
        ("sig", "array<long>"),
        lambda v, r, n: _minhash(v, r, len(n), FEATURE_SPACE),
    ).persist()
    _SIG_CACHE[key] = sig
    return sig


def clear_sig_cache() -> None:
    """Unpersist every memoized signature table (call when a long-lived
    session is done with dedup work; tests assert this leaves zero
    persistent RDDs behind)."""
    for sig in _SIG_CACHE.values():
        try:
            sig.unpersist(blocking=True)
        except Exception:
            pass  # session already stopped
    _SIG_CACHE.clear()


def q_lsh_pairs(spark: SparkSession, sf_dir: str, replicas: int = 1) -> DataFrame:
    """LSH candidate pairs: coarse features -> minhash -> bands of 2 ->
    self-join on (band_idx, band_val).  The join key is the band bucket, so
    the shuffle is by bucket — all-pairs never materializes.

    ``replicas`` scales the corpus for the candidate-density property test
    (test_plan_quality.test_lsh_candidate_density_is_scale_free); the
    driver-gated query uses the default 1."""
    # Arrow fast path computes the signature.  Exchange REUSE does not fire
    # across Python map nodes (MapInArrow plans do not canonicalize equal,
    # unlike the old HOF expressions), so the self-join below would scan +
    # recompute the signatures twice; persist() pins the tiny sig table
    # (N_docs x 8 longs) so both sides read the one materialization —
    # plan-asserted by test_lsh_join_reuses_signature_exchange.
    # The persisted table is MEMOIZED per (session, sf_dir, replicas): a
    # long-lived driver invoking this repeatedly (q_ngram_jaccard also
    # calls it) reuses ONE cached table instead of leaking one per call;
    # `clear_sig_cache` releases them all (asserted leak-free by
    # test_plan_quality.test_lsh_sig_cache_bounded_and_clearable).
    sig = _sig_cached(spark, sf_dir, replicas)
    return band_pairs(sig)


def band_val_col(i: int):
    """Band ``i``'s bucket value: the fold v = (v*31 + h) % P over its
    ROWS_PER_BAND signature positions.  The batch band join and the
    streaming LSH state share it, so both bucket a doc identically."""
    v = F.element_at("sig", ROWS_PER_BAND * i + 1)
    for j in range(1, ROWS_PER_BAND):
        v = (v * 31 + F.element_at("sig", ROWS_PER_BAND * i + j + 1)) % P
    return v


def band_pairs(sig: DataFrame) -> DataFrame:
    """The band-bucket self-join over a signature table (doc_id,
    sig array<long>) — the LSH hot path, shared by q_lsh_pairs and the
    skew test (which feeds it a synthetic 30%-hot-band corpus).

    Skew note: a hot band_val makes BOTH join sides hot at once — a
    structural hotspot salting cannot fix (splitting a self-joined key
    still needs every (salt_a, salt_b) pair somewhere).  The mitigation
    is AQE's skew-join split (on by default in build_spark): the oversized
    shuffle partition is split into advisory-size chunks and the matching
    side's partition is replicated per chunk, so no single task owns the
    whole bucket.  tests/test_skew.py pins `skew=true` in the EXECUTED
    plan under a 30%-hot synthetic corpus."""

    bands = sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band_idx"),
                        band_val_col(i).alias("band_val"),
                    )
                    for i in range(N_BANDS)
                ]
            )
        ).alias("b"),
    ).select("doc_id", "b.band_idx", "b.band_val")
    a = bands.alias("a")
    b = bands.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id").cast("long") < F.col("b.doc_id").cast("long")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    return pairs


def _lsh_ctes() -> str:
    """The shared CTE chain (req -> shingles -> minhash sig -> bands ->
    candidate pairs), composable so the Jaccard verifier reuses it."""
    hashes = ", ".join(
        f"list_min(list_transform(feats, g -> (g * {A[j]} + {B[j]}) % {P})) AS h{j}"
        for j in range(N_HASHES)
    )
    def band_sql(i):
        v = f"h{ROWS_PER_BAND * i}"
        for j in range(1, ROWS_PER_BAND):
            v = f"(({v}) * 31 + h{ROWS_PER_BAND * i + j}) % {P}"
        return v

    band_structs = ", ".join(
        f"{{'bi': {i}, 'bv': {band_sql(i)}}}" for i in range(N_BANDS)
    )
    return f"""{sql_requests_cte()},
sh AS (SELECT doc_id,
              list_distinct(list_transform({_SQL_SHINGLES}, g -> g % {FEATURE_SPACE})) AS feats
       FROM req),
sig AS (SELECT doc_id, {hashes} FROM sh WHERE len(feats) > 0),
bands AS (
  SELECT doc_id, b.bi AS band_idx, b.bv AS band_val
  FROM sig, unnest([{band_structs}]) AS u(b)
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.band_val = b.band_val
   AND CAST(a.doc_id AS BIGINT) < CAST(b.doc_id AS BIGINT)
)"""


def _sql_lsh_pairs() -> str:
    return f"WITH {_lsh_ctes()}\nSELECT doc_a, doc_b FROM cand"


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash over token ids: per-bit majority vote of hashed
    features, computed on the fused synthesis+hash Arrow path (_synth_hashed
    + _simhash — the token arrays never leave the Python worker)."""
    return _synth_hashed(
        _synth_request_ids(spark, sf_dir),
        ("simhash16", "long"),
        lambda v, r, n: _simhash(v, n),
    )


def sql_simhash_expr(tokens: str = "tokens") -> str:
    """The 16-bit SimHash as a DuckDB scalar expression over a token-list
    column — shared by the gated dedup_simhash oracle and the composed
    corpus-product oracle (pipeline/product.py)."""
    h = f"(CAST(x AS BIGINT) * {SIMHASH_MULT}) % {SIMHASH_MOD}"
    bit_terms = []
    for bit in range(SIMHASH_BITS):
        vote = (
            f"list_sum(list_transform({tokens}, x -> "
            f"CASE WHEN ({h} // {2**bit}) % 2 = 1 THEN 1 ELSE -1 END))"
        )
        bit_terms.append(f"CASE WHEN {vote} > 0 THEN {2**bit} ELSE 0 END")
    return "CAST(" + " + ".join(bit_terms) + " AS BIGINT)"


def _sql_simhash() -> str:
    return f"""WITH {sql_requests_cte()}
SELECT doc_id, {sql_simhash_expr()} AS simhash16 FROM req"""


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Jaccard over distinct token sets — the verify stage AFTER LSH
    blocking: it consumes the `dedup_lsh_pairs` candidates (never a
    self-join), so cost is O(candidates), two hash joins keyed on doc id.
    At 100 TB the candidate set is LSH-bounded; the round-1 version's
    all-pairs-within-(lang, n_tok)-buckets shape is gone."""
    pairs = q_lsh_pairs(spark, sf_dir)
    req = _materialized_requests(spark, sf_dir, "jaccard")
    toks = req.select("doc_id", F.array_distinct("tokens").alias("tset"))
    a = toks.select(F.col("doc_id").alias("doc_a"), F.col("tset").alias("tset_a"))
    b = toks.select(F.col("doc_id").alias("doc_b"), F.col("tset").alias("tset_b"))
    joined = pairs.join(a, "doc_a").join(b, "doc_b")
    inter = F.size(F.array_intersect(F.col("tset_a"), F.col("tset_b")))
    union = F.size(F.array_union(F.col("tset_a"), F.col("tset_b")))
    return joined.select(
        "doc_a",
        "doc_b",
        F.round(inter.cast("double") / union, 4).alias("jaccard"),
    )


def _sql_ngram_jaccard() -> str:
    return f"""WITH {_lsh_ctes()},
toks AS (
  SELECT doc_id, list_distinct(tokens) AS tset FROM req
)
SELECT c.doc_a, c.doc_b,
       round(CAST(len(list_intersect(a.tset, b.tset)) AS DOUBLE)
             / len(list_distinct(list_concat(a.tset, b.tset))), 4) AS jaccard
FROM cand c
JOIN toks a ON a.doc_id = c.doc_a
JOIN toks b ON b.doc_id = c.doc_b"""


def connected_components(
    pairs: DataFrame,
    a: str = "doc_a",
    b: str = "doc_b",
    max_iterations: int = 25,
    doubling_jumps: int = 2,
) -> DataFrame:
    """Connected components over an undirected pair list -> one row per
    node: (doc_id, component), where component is the MINIMUM node id
    reachable (string ids compare lexicographically — any total order
    gives a deterministic canonical representative).

    This is the dedup capstone the pair queries feed: near-dup PAIRS
    become near-dup CLUSTERS, and a cluster keeps one canonical doc
    (keep_canonical below) — the keep/drop decision a training-data
    pipeline actually executes.

    Algorithm: min-label propagation with EDGE CONTRACTION and pointer
    jumps.  Each round works on the CONTRACTED graph whose nodes are
    the current component representatives: (1) every rep adopts the
    smallest rep among itself and its neighbours (one min-agg over the
    contracted edge list), (2) the rep->rep mapping is pointer-JUMPED
    ``doubling_jumps`` times (lazily-composed self-joins of the
    component-count-sized mapping — each application doubles the
    shortcut length), (3) the per-node labels fold the mapping in (one
    node-sized join), and (4) the edge list is REWRITTEN over the new
    reps, dropping intra-component edges and duplicates.  Contraction
    is the scale step: the full-size edge relation is joined once, in
    round 1, and every later round runs on the rapidly-shrinking
    component graph (x8 bench graph, 1.85M edges / 37k nodes: CC wall
    58.6 s -> 20.8 s, and the pre-contraction run was 2 docs short of
    convergence at the round cap — BENCH.md).  Termination is exact:
    the loop ends when the contracted graph has no edges, i.e. every
    original edge's endpoints share a rep.  Correctness: reps
    only decrease, are always member ids of the same original
    component, and the minimum member keeps itself as rep — so when
    all members of a component share one rep, that rep is the minimum.

    Each round MATERIALIZES through a parquet stage boundary, which
    does two jobs at once:

    * cuts lineage — persist()/localCheckpoint leave the logical tree
      embedding the previous round twice (join + agg side), growing it
      ~2^rounds (the measured 90 s-planning / driver-OOM pathology in
      pipeline/stage.py; GraphX solves the same thing with
      checkpointInterval);
    * RESETS CATALYST STATS — this one is sneaky and was found by
      jstack on a 27-second "tiny" round: ``localCheckpoint`` PRESERVES
      the plan's sizeInBytes into its LogicalRDD, and every self-join
      SQUARES it, so the BigInt's digit count doubles per round (12 ->
      2786 digits in 8 rounds, measured) until the driver burns minutes
      in Toom-Cook BigInteger multiplication inside
      SizeInBytesOnlyStatsPlanVisitor.  A parquet scan's stats come
      from real file sizes, so every round restarts from honest small
      numbers.  This is also the production shape at 100 TB: each
      round lands durably (shared storage via TOKFORGE_SCRATCH_DIR),
      making the iteration resumable and executor-loss-tolerant.

    The per-round liveness count (rows left in the contracted graph)
    rides on the graph write itself via ``Observation`` (no extra
    count job, no diff join).  The returned labels DataFrame is a plain
    parquet scan over the FINAL labels round; every other per-round
    intermediate (graph / mapping / jump / earlier labels) is deleted
    before returning, so a long-lived session running many clusterings
    holds one labels dataset per call, not the whole iteration history.
    The final dataset lives until interpreter exit (atexit-cleaned;
    TOKFORGE_SCRATCH_DIR overrides the root) — external cleanup of the
    scratch dir invalidates a result still in use."""
    import os
    import shutil

    from pyspark.sql import Observation

    scratch = make_scratch_dir("tokforge-cc-")

    graph = stage_boundary(
        pairs.select(F.col(a).alias("src"), F.col(b).alias("dst")).union(
            pairs.select(F.col(b).alias("src"), F.col(a).alias("dst"))
        ),
        f"{scratch}/g_0",
    )
    labels_dir = "labels_0"
    labels = stage_boundary(
        graph.select(F.col("src").alias("doc_id"))
        .distinct()
        .withColumn("component", F.col("doc_id")),
        f"{scratch}/{labels_dir}",
    )

    def jump(t: DataFrame) -> DataFrame:
        # m <- mapping[m]: mapping values are component ids, so the
        # lookup is a self-join; the adopted value is <= the current one.
        return t.join(
            t.select(F.col("c").alias("m"), F.col("m").alias("m2")),
            "m",
            "left",
        ).select(
            "c", F.least(F.col("m"), F.coalesce("m2", "m")).alias("m"), "__m0"
        )

    for r in range(max_iterations):
        # mapping over the CONTRACTED graph's nodes (current component
        # reps): every rep adopts the smallest rep among itself and its
        # neighbours; symmetric edges guarantee every live rep appears
        # as src.  The mapping table is component-count-sized and
        # shrinks every round.
        mapping = stage_boundary(
            graph.groupBy("src")
            .agg(F.min("dst").alias("m"))
            .select(F.col("src").alias("c"), F.least("src", "m").alias("m")),
            f"{scratch}/map_{r}",
        )
        # jump the mapping forest to IDEMPOTENCE (m points at its
        # root), doubling_jumps lazy self-joins per materialized pass:
        # each composed pass multiplies the shortcut length by
        # 2^doubling_jumps, so a depth-d forest flattens in
        # O(log d) passes.  Without this, reach per OUTER round is a
        # constant and an adversarial chain needs O(n) rounds (the
        # contraction resets the mapping, so nothing compounds across
        # rounds — measured before this loop existed: a 5k chain
        # stalled at the iteration cap).  Shallow dedup graphs exit
        # after one pass.
        for p in range(max_iterations):
            # __m0 snapshots m just before the LAST composed jump: if
            # that jump moved nothing, m∘m == m (idempotent) and the
            # pass count is exact — shallow rounds pay ONE pass, deep
            # forests keep doubling until flat.
            stepped = mapping.withColumn("__m0", F.col("m"))
            for i in range(doubling_jumps):
                if i == doubling_jumps - 1:
                    stepped = stepped.withColumn("__m0", F.col("m"))
                stepped = jump(stepped)
            jo = Observation()
            mapping = stage_boundary(
                stepped.observe(
                    jo, F.count_if(F.col("m") < F.col("__m0")).alias("chg")
                ).drop("__m0"),
                f"{scratch}/mapj_{r}_{p}",
            )
            if jo.get["chg"] == 0:
                break
        # fold the round's merges into the per-node labels (reps not in
        # the mapping — already-isolated components — keep their label)
        labels_dir = f"labels_{r + 1}"
        labels = stage_boundary(
            labels.join(
                mapping.select(F.col("c").alias("component"), "m"), "component", "left"
            ).select("doc_id", F.coalesce("m", "component").alias("component")),
            f"{scratch}/{labels_dir}",
        )
        # contract: rewrite edges over the new reps, drop intra-component
        # edges and duplicates.  THIS is what makes the iteration scale:
        # the big edge relation shrinks toward the component graph, so
        # the heavy join runs once at full size instead of every round.
        obs = Observation()
        graph = stage_boundary(
            graph.join(mapping.select(F.col("c").alias("src"), F.col("m").alias("sm")), "src", "left")
            .join(mapping.select(F.col("c").alias("dst"), F.col("m").alias("dm")), "dst", "left")
            .select(
                F.coalesce("sm", "src").alias("src"),
                F.coalesce("dm", "dst").alias("dst"),
            )
            .filter(F.col("src") != F.col("dst"))
            .distinct()
            .observe(obs, F.count(F.lit(1)).alias("live")),
            f"{scratch}/g_{r + 1}",
        )
        if obs.get["live"] == 0:
            break
    # the final labels dataset is the only intermediate still referenced;
    # everything else is dead the moment the next round materialized
    for name in os.listdir(scratch):
        if name != labels_dir:
            shutil.rmtree(os.path.join(scratch, name), ignore_errors=True)
    return labels


def keep_canonical(
    docs: DataFrame, pairs: DataFrame, id_col: str = "doc_id"
) -> tuple[DataFrame, DataFrame]:
    """The dedup DECISION over a corpus: every near-dup cluster keeps its
    canonical (minimum-id) member; documents in no cluster keep
    themselves.  Returns ``(decided, labels)``: ``decided`` is ``docs``
    plus `component` and a `keep` boolean — ``decided.filter('keep')`` is
    the deduplicated corpus — and ``labels`` is the clustering's
    (doc_id, component) table (a plain parquet scan over the
    connected_components scratch, valid until interpreter exit).  Cost:
    the clustering above + one left join on the doc id.

    (Round-5 API returned only ``decided`` with ``labels`` smuggled out
    as a dynamic ``cc_labels`` attribute; any select/filter on the result
    silently dropped it — round-6 ADVICE — so the pair is now explicit.)"""
    comp = connected_components(pairs)
    labeled = comp.withColumnRenamed("doc_id", "__cc_id")
    out = docs.join(labeled, docs[id_col] == F.col("__cc_id"), "left").drop("__cc_id")
    component = F.coalesce(F.col("component"), F.col(id_col))
    out = out.withColumn("component", component).withColumn(
        "keep", F.col(id_col) == F.col("component")
    )
    return out, comp


def q_dedup_clusters(spark: SparkSession, sf_dir: str, replicas: int = 1) -> DataFrame:
    """LSH pairs -> components (pytest-covered; the driver registry stays
    at the 50-query window)."""
    return connected_components(
        q_lsh_pairs(spark, sf_dir, replicas).select("doc_a", "doc_b")
    )


def sql_connected_components() -> str:
    """DuckDB mirror of q_dedup_clusters — connected components over the
    LSH candidate pairs as a RECURSIVE min-label reachability CTE (the
    stream_ratelimit oracle pattern): ``reach`` accumulates every
    (node, reachable-id) fact to fixpoint and the component label is the
    minimum.  Exact for any graph; the row count is bounded by
    sum(|component|^2), fine at oracle SFs — the ENGINE keeps the
    contraction algorithm, this is the independent semantic rendering
    (upgrades the clustering from union-find-pytest-only to fully
    SQL-mirrored).  If oracle SFs ever grow a large LSH component, switch
    the CTE to min-label PROPAGATION — carry only the per-node minimum
    label per round (GROUP BY n, min(lbl) against the frontier) — which
    bounds working rows at |V| per round instead of pairwise
    reachability (r7 advisor note)."""
    return f"""WITH RECURSIVE {_lsh_ctes()},
und AS (
  SELECT doc_a AS a, doc_b AS b FROM cand
  UNION
  SELECT doc_b AS a, doc_a AS b FROM cand
),
nodes AS (SELECT DISTINCT a AS n FROM und),
reach(n, lbl) AS (
  SELECT n, n FROM nodes
  UNION
  SELECT u.a, r.lbl FROM und u JOIN reach r ON r.n = u.b
)
SELECT n AS doc_id, min(lbl) AS component FROM reach GROUP BY n"""


def cross_split_leakage(
    d: DataFrame,
    split_col: str = "split",
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
    train_val: tuple = ("train", "val"),
) -> DataFrame:
    """Train/val contamination check — the eval-hygiene op a pipeline
    runs AFTER hash_split and BEFORE trusting a validation loss: for
    every val document, does any train document duplicate it exactly
    (token-stream digest) or near-exactly (identical 16-bit SimHash —
    the Hamming-0 collapse rule shared with pipeline.product)?

    Returns the val rows + (leak_exact, leak_near, leaked).  Shape at
    100 TB: one narrow SimHash pass over the corpus, then two
    semi-join-style aggregations keyed on digest / signature — the val
    side is the small fraction, and neither join ever expands pairs
    (EXISTS via groupBy on the key, never doc x doc).  DuckDB mirror in
    tests/test_split.py composes the SAME renderings: md5 digest,
    sql_simhash_expr, sql_hash_split.
    """
    train_name, val_name = train_val
    base = d.select(
        F.col(id_col).cast("string").alias("doc_id"),
        F.col(split_col).alias("__split"),
        F.col(tokens_col).alias("tokens"),
    )
    sig = simhash_arrow(base.select("doc_id", "tokens"))
    keyed = base.join(sig, "doc_id").withColumn(
        "__dig", F.md5(F.concat_ws(",", F.col("tokens").cast("array<string>")))
    )
    is_train = F.col("__split") == train_name
    by_dig = keyed.groupBy("__dig").agg(
        F.max(F.when(is_train, True).otherwise(False)).alias("__train_dig")
    )
    by_sh = keyed.groupBy("simhash16").agg(
        F.max(F.when(is_train, True).otherwise(False)).alias("__train_sh")
    )
    val = keyed.filter(F.col("__split") == val_name)
    out = (
        val.join(by_dig, "__dig")
        .join(by_sh, "simhash16")
        .select(
            "doc_id",
            F.col("__train_dig").alias("leak_exact"),
            F.col("__train_sh").alias("leak_near"),
            (F.col("__train_dig") | F.col("__train_sh")).alias("leaked"),
        )
    )
    return out


DEDUP_QUERIES = {
    "dedup_exact": (q_dedup_exact, SQL_DEDUP_EXACT),
    "dedup_lsh_pairs": (q_lsh_pairs, _sql_lsh_pairs()),
    "dedup_simhash": (q_simhash, _sql_simhash()),
    "dedup_ngram_jaccard": (q_ngram_jaccard, _sql_ngram_jaccard()),
}

# Rotated out of the driver window in round 6 (its slot gates a corpus-
# assembly op): the signature lineage is still driver-hash-checked inside
# dedup_lsh_pairs, and this exact (query, oracle) pair stays asserted by
# tests/test_rotated_out_oracles.py.
DEDUP_QUERIES_EXTRA = {
    "dedup_minhash_signatures": (q_minhash_signatures, _sql_minhash_signatures()),
}
