"""Similarity search over the `embeddings` table (array<float>, dim 64):
brute-force cosine top-k as the exactness baseline, IVF coarse assignment
plus a cell-pruned probe query as the scale path, and LSH sign-bucketed
near-duplicate pairs.

100 TB shapes:
- brute-force: the tiny query set broadcasts; the corpus never shuffles;
  top-k is two-phase (local per-partition top-k, then a final rank over
  <= k * n_partitions survivors) so no reducer ever sees the whole corpus.
- IVF: the centroid codebook is collected driver-side (it is the small dim
  table — standard KMeans/IVF practice), assignment is a pure column
  expression (zero shuffle), and the probe joins only the query's cell.
- near-dup: sign-LSH over NEAR_DUP_BITS hyperplanes (bucket count 2^bits
  grows with the corpus via the constant) with 1-bit multi-probe for
  recall; candidate pairs stay within (bucket, probe) keys — all-pairs
  never materializes.

Cosine math is done in DOUBLE with identical accumulation order on both
engines and rounded to 4 decimals so Spark and DuckDB hash-match.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from tokforge.sources.requests import load_embeddings

N_QUERIES = 4  # vec_id < 4 act as the query set for brute-force knn
TOP_K = 10
N_CELLS = 4  # IVF coarse cells = the first N_CELLS vectors as centroids
# IVF probe queries: a disjoint slice so the probe is a real search, not a
# self-lookup of the centroids.
PROBE_LO, PROBE_HI = N_CELLS, N_CELLS + 4


def _dot_spark(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm_spark(a):
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


_SQL_DOT = (
    "list_sum(list_transform(range(len({a})), "
    "i -> CAST({a}[i + 1] AS DOUBLE) * CAST({b}[i + 1] AS DOUBLE)))"
)
_SQL_NORM = (
    "sqrt(list_sum(list_transform({a}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
)


def topk_per_key(
    df: DataFrame,
    key: str,
    order_cols: list[Column],
    k: int,
    rank_name: str = "rank",
) -> DataFrame:
    """Scalable per-key top-k: a window over partitionBy(key) alone funnels
    every key's full row set through one reducer (the round-1 scale-killer
    with 4 query ids).  Instead: local top-k inside each input partition
    (keyed by (key, spark_partition_id)), then the final rank only sees
    <= k * n_partitions survivors per key — the partial-agg shape of a
    distributed heap merge."""
    w_local = Window.partitionBy(key, "_pid").orderBy(*order_cols)
    w_final = Window.partitionBy(key).orderBy(*order_cols)
    return (
        df.withColumn("_pid", F.spark_partition_id())
        .withColumn("_lrk", F.row_number().over(w_local))
        .filter(F.col("_lrk") <= k)
        .drop("_pid", "_lrk")
        .withColumn(rank_name, F.row_number().over(w_final))
        .filter(F.col(rank_name) <= k)
    )


# Derive-from-data collect cap (capped-with-error, the adjudicated
# pattern): the query set is the broadcast-sized dim table by design.
KNN_QUERY_CAP = 8192

# Rounding-bucket slack for the local prefilter: keep any row whose
# UNROUNDED cosine is within this of the k-th local best — a strict
# superset of every row that can still tie/beat rank k after round(.,4)
# (bucket width 1e-4; 2e-4 leaves >50x margin over double representation
# fuzz of the thresholds).
_KNN_PREFILTER_SLACK = 2e-4


def knn_bruteforce(emb: DataFrame, queries: DataFrame, k_top: int = TOP_K) -> DataFrame:
    """Exact cosine top-k of ``queries`` (qid, qvec) against a corpus
    (vec_id, embedding) on the Arrow fast path.

    The HOF-expression cosine (the broadcast cross-join reference in
    tests/test_knn_arrow.py) is interpreted by Catalyst at ~0.5M
    element-ops/s; this path moves the identical IEEE arithmetic into
    numpy inside ONE mapInArrow pass over the corpus:

    - the bounded query set is collected (it is the broadcast dim table;
      KNN_QUERY_CAP raises past the cap rather than collect unbounded),
    - per corpus batch the dot/norm folds run as 64 vectorized adds in
      EXACTLY the left-to-right IEEE order of F.aggregate's fold, so the
      unrounded double is bit-identical to the expression result,
    - a conservative local top-k prefilter (threshold = k-th local best
      minus _KNN_PREFILTER_SLACK, NaNs kept — Spark sorts NaN above all
      doubles) bounds the Arrow stage's output at ~k rows per (query,
      batch): the corpus never leaves its scan task,
    - round(.,4) then happens JVM-SIDE on the bit-identical double (same
      BigDecimal HALF_UP as before), and the existing two-phase rank
      (topk_per_key) assigns final ranks over the tiny survivor set.

    Rows whose embedding length differs from the query's produce NULL
    cosine (zip_with's null-padding semantics); they rank below every
    number and are emitted only when a batch has fewer than k_top
    length-matched candidates, preserving exact parity on degenerate
    inputs.  tests/test_knn_arrow.py pins row-identity to the reference
    on every fixture SF plus ragged/NaN edge corpora."""
    from typing import Iterator

    import pyarrow as pa

    qrows = queries.select("qid", "qvec").collect()
    if len(qrows) > KNN_QUERY_CAP:
        raise ValueError(
            f"knn_bruteforce query set has {len(qrows)} rows, above the "
            f"broadcast-shaped cap {KNN_QUERY_CAP}; shard the query set"
        )
    q_ids = [r["qid"] for r in qrows]
    # None qvec => every cosine for that query is NULL (zip_with/aggregate
    # null semantics); kept as None so the batch fn routes it to the
    # null-cosine path.
    q_vecs = [
        [float(x) for x in r["qvec"]] if r["qvec"] is not None else None
        for r in qrows
    ]
    q_norms = [0.0 if v is None else _py_norm(v) for v in q_vecs]

    from pyspark.sql.pandas.types import to_arrow_type

    qid_pa = to_arrow_type(queries.schema["qid"].dataType)
    vid_pa = to_arrow_type(emb.schema["vec_id"].dataType)
    qid_ddl = queries.schema["qid"].dataType.simpleString()
    vid_ddl = emb.schema["vec_id"].dataType.simpleString()
    spark = emb.sparkSession
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))

    def fn(batches: "Iterator[pa.RecordBatch]") -> "Iterator[pa.RecordBatch]":
        for batch in batches:
            m = batch.num_rows
            if m == 0:
                continue
            col = batch.column("embedding")
            if isinstance(col, pa.ChunkedArray):
                col = col.combine_chunks()
            offsets = col.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
            flat = col.values.to_numpy(zero_copy_only=False)
            flat = flat[offsets[0] : offsets[-1]]
            offsets = offsets - offsets[0]
            lens = np.diff(offsets)
            null_rows = np.asarray(col.is_null().to_numpy(zero_copy_only=False))
            vec_ids = batch.column("vec_id").to_pylist()
            vec_np = np.asarray(vec_ids, dtype=object)

            out_qid: list = []
            out_vid: list = []
            out_cos: list = []

            for j, qid in enumerate(q_ids):
                elig = np.asarray([v != qid for v in vec_ids], dtype=bool)
                if q_vecs[j] is None:
                    matched = np.zeros(m, dtype=bool)
                else:
                    dq = len(q_vecs[j])
                    matched = elig & (lens == dq) & ~null_rows
                idx = np.nonzero(matched)[0]
                if idx.size:
                    # gather the length-dq rows into an (r, dq) float64 matrix
                    gat = offsets[idx][:, None] + np.arange(dq, dtype=np.int64)
                    mat = flat[gat].astype(np.float64)
                    qv = np.asarray(q_vecs[j], dtype=np.float64)
                    dot = np.zeros(idx.size, dtype=np.float64)
                    nrm = np.zeros(idx.size, dtype=np.float64)
                    for i in range(dq):
                        ci = mat[:, i]
                        np.add(dot, qv[i] * ci, out=dot)
                        np.add(nrm, ci * ci, out=nrm)
                    with np.errstate(invalid="ignore", divide="ignore"):
                        cos = dot / (q_norms[j] * np.sqrt(nrm))
                    nan_mask = np.isnan(cos)
                    finite = cos[~nan_mask]
                    if finite.size > k_top:
                        kth = np.partition(finite, finite.size - k_top)[
                            finite.size - k_top
                        ]
                        keep = (cos >= kth - _KNN_PREFILTER_SLACK) | nan_mask
                    else:
                        keep = np.ones(idx.size, dtype=bool)
                    for p in np.nonzero(keep)[0]:
                        out_qid.append(qid)
                        out_vid.append(vec_ids[idx[p]])
                        out_cos.append(float(cos[p]))
                if idx.size < k_top:
                    # fewer than k length-matched candidates IN THIS BATCH:
                    # NULL-cosine rows could still enter the top-k, emit them
                    for p in np.nonzero(elig & ~matched)[0]:
                        out_qid.append(qid)
                        out_vid.append(vec_np[p])
                        out_cos.append(None)

            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(out_qid, type=qid_pa),
                    pa.array(out_vid, type=vid_pa),
                    pa.array(out_cos, type=pa.float64()),
                ],
                names=["qid", "vec_id", "cos_un"],
            )

    # the corpus scan may be a single unsplittable parquet row group; the
    # rows are narrow (id + dim floats), so a round-robin exchange is the
    # cheap way to spread the numpy scoring across the session's
    # parallelism (scale-adaptive: follows spark.sql.shuffle.partitions)
    pre = (
        emb.select("vec_id", "embedding")
        .repartition(n_part)
        .mapInArrow(fn, f"qid {qid_ddl}, vec_id {vid_ddl}, cos_un double")
    )
    scored = pre.select(
        "qid", "vec_id", F.round(F.col("cos_un"), 4).alias("cos_sim")
    )
    return topk_per_key(
        scored, "qid", [F.desc("cos_sim"), F.col("vec_id")], k_top
    ).select("qid", "vec_id", "cos_sim", "rank")


def q_knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_embeddings(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    return knn_bruteforce(emb, queries, TOP_K)


def _sql_knn_bruteforce() -> str:
    dot = _SQL_DOT.format(a="q.embedding", b="c.embedding")
    nq = _SQL_NORM.format(a="q.embedding")
    nc = _SQL_NORM.format(a="c.embedding")
    return f"""WITH scored AS (
  SELECT q.vec_id AS qid, c.vec_id AS vec_id,
         round(({dot}) / (({nq}) * ({nc})), 4) AS cos_sim
  FROM embeddings q JOIN embeddings c ON c.vec_id != q.vec_id
  WHERE q.vec_id < {N_QUERIES}
)
SELECT qid, vec_id, cos_sim, rank FROM (
  SELECT qid, vec_id, cos_sim,
         CAST(row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, vec_id) AS INTEGER) AS rank
  FROM scored
) WHERE rank <= {TOP_K}"""


def q_ivf_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF coarse assignment: each vector goes to the cell of its most
    similar centroid (centroids = the first N_CELLS vectors, broadcast).
    Downstream ANN probes only the query's cell (q_ivf_search)."""
    emb = load_embeddings(spark, sf_dir)
    cents = emb.filter(F.col("vec_id") < N_CELLS).select(
        F.col("vec_id").alias("cell"), F.col("embedding").alias("cvec")
    )
    scored = emb.select("vec_id", "embedding").crossJoin(F.broadcast(cents))
    cos = F.round(
        _dot_spark(F.col("cvec"), F.col("embedding"))
        / (_norm_spark(F.col("cvec")) * _norm_spark(F.col("embedding"))),
        4,
    )
    # per-vector argmax as a map-side-combinable agg (max of (cos, -cell)
    # picks highest cos, tie -> lowest cell) — no per-vector window.
    agg = (
        scored.select(
            "vec_id",
            F.struct(
                cos.alias("cos"), (-F.col("cell")).cast("int").alias("negcell")
            ).alias("sc"),
        )
        .groupBy("vec_id")
        .agg(F.max("sc").alias("m"))
        .select("vec_id", (-F.col("m.negcell")).alias("cell"), F.col("m.cos").alias("cos"))
    )
    return agg.groupBy("cell").agg(
        F.count("*").alias("n_vectors"),
        F.round(F.avg("cos"), 4).alias("avg_cos_to_centroid"),
    )


def _sql_ivf_assign() -> str:
    dot = _SQL_DOT.format(a="q.embedding", b="c.embedding")
    nq = _SQL_NORM.format(a="q.embedding")
    nc = _SQL_NORM.format(a="c.embedding")
    return f"""WITH scored AS (
  SELECT c.vec_id AS vec_id, q.vec_id AS cell,
         round(({dot}) / (({nq}) * ({nc})), 4) AS cos
  FROM embeddings q JOIN embeddings c ON true
  WHERE q.vec_id < {N_CELLS}
), assigned AS (
  SELECT vec_id, cell, cos,
         row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cell) AS rk
  FROM scored
)
SELECT cell, count(*) AS n_vectors, round(avg(cos), 4) AS avg_cos_to_centroid
FROM assigned WHERE rk = 1
GROUP BY cell"""


def _cell_expr(cos_cols: list[Column]) -> Column:
    """argmax over the per-centroid cosine columns; ties -> lowest cell
    (mirrors the `ORDER BY cos DESC, cell` rank rule)."""
    cell = F.lit(len(cos_cols) - 1)
    for i in range(len(cos_cols) - 2, -1, -1):
        cond = F.lit(True)
        for j in range(i + 1, len(cos_cols)):
            cond = cond & (cos_cols[i] >= cos_cols[j])
        cell = F.when(cond, i).otherwise(cell)
    return cell.cast("int")


def _sql_cell_case(names: list[str]) -> str:
    arms = []
    for i in range(len(names) - 1):
        cond = " AND ".join(f"{names[i]} >= {names[j]}" for j in range(i + 1, len(names)))
        arms.append(f"WHEN {cond} THEN {i}")
    return "CAST(CASE " + " ".join(arms) + f" ELSE {len(names) - 1} END AS INTEGER)"


def _probe_topk(corpus: DataFrame, probes: DataFrame, k_top: int) -> DataFrame:
    """The IVF scoring tail: broadcast the (qid, qvec, cell) probes into an
    equi-join on the corpus's (vec_id, embedding, cell), score the rounded
    cosine over the ORIGINAL float embeddings (the knn expression), rank
    via two-phase top-k."""
    joined = corpus.join(F.broadcast(probes), "cell").filter(
        F.col("vec_id") != F.col("qid")
    )
    cos = F.round(
        _dot_spark(F.col("qvec"), F.col("embedding"))
        / (_norm_spark(F.col("qvec")) * _norm_spark(F.col("embedding"))),
        4,
    )
    scored = joined.select("qid", "vec_id", cos.alias("cos_sim"))
    return topk_per_key(
        scored, "qid", [F.desc("cos_sim"), F.col("vec_id")], k_top
    ).select("qid", "vec_id", "cos_sim", "rank")


def q_ivf_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF probe: assign queries AND corpus to cells, search top-k only
    within the query's cell (reference analog: the cache probe
    short-circuit, service.rs:241-250 — check the narrow namespace before
    touching the full corpus).

    The centroid codebook is collected (N_CELLS rows — the broadcast dim
    table), so cell assignment is a pure column expression over literal
    arrays: zero shuffle for the corpus scan, one bounded shuffle for the
    cell join, two-phase top-k for the rank."""
    emb = load_embeddings(spark, sf_dir)
    cent_rows = (
        emb.filter(F.col("vec_id") < N_CELLS)
        .select("vec_id", "embedding")
        .collect()
    )
    cents = {int(r["vec_id"]): [float(x) for x in r["embedding"]] for r in cent_rows}

    def cos_to_cent(vec_col: Column, cvec: list[float]) -> Column:
        lit = F.array(*[F.lit(x) for x in cvec])
        return F.round(
            _dot_spark(lit, vec_col) / (_norm_spark(lit) * _norm_spark(vec_col)), 4
        )

    def with_cell(df: DataFrame) -> DataFrame:
        cos_cols = [cos_to_cent(F.col("embedding"), cents[i]) for i in range(N_CELLS)]
        return df.withColumn("cell", _cell_expr(cos_cols))

    corpus = with_cell(emb.select("vec_id", "embedding"))
    probes = with_cell(
        emb.filter(
            (F.col("vec_id") >= PROBE_LO) & (F.col("vec_id") < PROBE_HI)
        ).select("vec_id", "embedding")
    ).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec"), "cell"
    )

    return _probe_topk(corpus, probes, TOP_K)


def _sql_ivf_search() -> str:
    dot = _SQL_DOT.format(a="q.embedding", b="c.embedding")
    nq = _SQL_NORM.format(a="q.embedding")
    nc = _SQL_NORM.format(a="c.embedding")
    cos_cases = ", ".join(
        f"max(CASE WHEN cell = {i} THEN cos END) AS cos{i}" for i in range(N_CELLS)
    )
    cell_case = _sql_cell_case([f"cos{i}" for i in range(N_CELLS)])
    qdot = _SQL_DOT.format(a="q.embedding", b="c.embedding")
    return f"""WITH scored AS (
  SELECT c.vec_id AS vec_id, c.embedding AS embedding, q.vec_id AS cell,
         round(({dot}) / (({nq}) * ({nc})), 4) AS cos
  FROM embeddings q JOIN embeddings c ON true
  WHERE q.vec_id < {N_CELLS}
), piv AS (
  SELECT vec_id, embedding, {cos_cases}
  FROM scored GROUP BY vec_id, embedding
), assigned AS (
  SELECT vec_id, embedding, {cell_case} AS cell FROM piv
), hits AS (
  SELECT q.vec_id AS qid, c.vec_id AS vec_id,
         round(({qdot}) / (({nq}) * ({nc})), 4) AS cos_sim
  FROM assigned q JOIN assigned c
    ON c.cell = q.cell AND c.vec_id != q.vec_id
  WHERE q.vec_id >= {PROBE_LO} AND q.vec_id < {PROBE_HI}
)
SELECT qid, vec_id, cos_sim, rank FROM (
  SELECT qid, vec_id, cos_sim,
         CAST(row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, vec_id) AS INTEGER) AS rank
  FROM hits
) WHERE rank <= {TOP_K}"""


NEAR_DUP_THRESHOLD = 0.35  # synthetic 64-d corpus: top ~0.1% of pairs
# Sign-LSH hyperplane count: bucket space = 2^bits.  This is the knob that
# grows with corpus size (8 static buckets was the round-1 scale-killer:
# O(n^2/8) pairs).  12 bits -> 4096 buckets; 1-bit multi-probe keeps recall
# for vectors straddling a hyperplane.
NEAR_DUP_BITS = 12


def _bucket_spark(vec) -> "F.Column":
    """Blocking key: sign pattern of the first NEAR_DUP_BITS dims."""
    b = F.lit(0)
    for i in range(NEAR_DUP_BITS):
        b = b * 2 + F.when(F.element_at(vec, i + 1) >= 0, 1).otherwise(0)
    return b.cast("long")


def _sql_bucket(col: str = "embedding") -> str:
    terms = [
        f"(CASE WHEN {col}[{i + 1}] >= 0 THEN 1 ELSE 0 END) * {2 ** (NEAR_DUP_BITS - 1 - i)}"
        for i in range(NEAR_DUP_BITS)
    ]
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"


def _near_dup_join(
    emb: DataFrame,
    bits: int = NEAR_DUP_BITS,
    threshold: float = NEAR_DUP_THRESHOLD,
) -> DataFrame:
    """Shared candidate join for sign-LSH near-dup: ``emb`` carries
    (vec_id, embedding, bucket); side B explodes each vector into its
    bucket plus the `bits` Hamming-1 neighbours (1-bit multi-probe), exact
    cosine runs on candidates only, pairs above threshold survive.
    Candidate volume is O(n^2 / 2^bits * (bits+1)) — bounded by the bits
    knob, never all-pairs."""
    probes = F.array(
        F.col("bucket"),
        *[
            F.col("bucket").bitwiseXOR(F.lit(1 << i)).cast("long")
            for i in range(bits)
        ],
    )
    b = emb.select(
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("emb_b"),
        F.explode(probes).alias("probe"),
    )
    a = emb.select(
        F.col("vec_id").alias("vec_a"), F.col("embedding").alias("emb_a"), "bucket"
    )
    cos = F.round(
        _dot_spark(F.col("emb_a"), F.col("emb_b"))
        / (_norm_spark(F.col("emb_a")) * _norm_spark(F.col("emb_b"))),
        4,
    )
    return (
        a.join(b, (F.col("bucket") == F.col("probe")) & (F.col("vec_a") < F.col("vec_b")))
        .select("vec_a", "vec_b", cos.alias("cos_sim"))
        .distinct()
        .filter(F.col("cos_sim") >= threshold)
    )


def q_embed_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, axis-aligned sign-LSH
    blocking (sign pattern of the first NEAR_DUP_BITS dims — the
    deterministic default that keeps the DuckDB oracle expressible; fine
    for the roughly centered synthetic corpus).  For real, shifted /
    correlated embedding distributions use q_embed_near_dup_random."""
    emb = load_embeddings(spark, sf_dir).select(
        "vec_id", "embedding", _bucket_spark(F.col("embedding")).alias("bucket")
    )
    return _near_dup_join(emb)


# --- random-hyperplane sign-LSH (round 5) ----------------------------------

EMBED_DIM = 64  # the testdata embeddings table's fixed dimension
NEAR_DUP_SEED = 20240817


def _random_hyperplanes(dim: int, bits: int = NEAR_DUP_BITS, seed: int = NEAR_DUP_SEED):
    """Seeded standard-normal hyperplane normals (bits x dim) — the
    classic random-projection sign-LSH construction (Charikar STOC'02).
    Deterministic for (dim, bits, seed): every executor regenerates the
    identical matrix from the closure; nothing to ship or checkpoint."""
    import numpy as np

    return np.random.default_rng(seed).standard_normal((bits, dim))


def buckets_random_arrow(
    emb: DataFrame,
    dim: int = EMBED_DIM,
    bits: int = NEAR_DUP_BITS,
    seed: int = NEAR_DUP_SEED,
    center: bool = True,
    mean=None,
) -> DataFrame:
    """`bucket` from seeded RANDOM hyperplanes over (optionally) mean-
    centered embeddings — one Arrow-batched pass, (X - mean) @ planes.T
    in numpy, no per-row Python.

    Why this exists: the axis-aligned bucketing (sign of the first `bits`
    dims) assumes roughly centered, axis-spread embeddings.  Real
    embedding distributions are shifted and correlated; axis signs can
    then collapse into a handful of buckets — recall survives but
    pruning dies (candidates degrade toward all-pairs).  Random
    hyperplanes spread whatever direction structure exists across every
    bit, and mean-centering removes the common offset that would
    otherwise freeze a bit entirely (sign(w.(c+e)) == sign(w.c) whenever
    |w.c| >> |w.e|).  The mean is one map-side-combinable agg (`dim`
    doubles — broadcast-size); tests/test_similarity_random_lsh.py shows
    recall AND pruning holding on a shifted corpus where axis bucketing
    collapses to one bucket.

    Determinism: the HYPERPLANES regenerate bit-identically from (dim,
    bits, seed).  The computed MEAN is float-sum-order dependent
    (F.avg), so a re-run under a different partitioning can shift it by
    ULPs and flip the bucket of a vector sitting exactly on a
    hyperplane; for strict cross-run replay (checkpoint recovery), pass
    the recorded ``mean`` explicitly — it is part of the model state,
    like IVF centroids."""
    import numpy as np
    import pyarrow as pa

    planes = _random_hyperplanes(dim, bits, seed)
    if mean is not None:
        mean = np.asarray(mean, dtype=np.float64)
    elif center:
        row = emb.agg(
            *[
                F.avg(F.element_at("embedding", i + 1)).alias(f"m{i}")
                for i in range(dim)
            ]
        ).collect()[0]
        mean = np.array([float(row[f"m{i}"] or 0.0) for i in range(dim)])
    else:
        mean = np.zeros(dim, dtype=np.float64)
    weights = (1 << np.arange(bits - 1, -1, -1)).astype(np.int64)

    def fn(batches):
        for batch in batches:
            col = batch.column("embedding")
            if isinstance(col, pa.ChunkedArray):
                col = col.combine_chunks()
            offsets = col.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
            values = col.values.to_numpy(zero_copy_only=False).astype(np.float64)
            values = values[offsets[0] : offsets[-1]]
            x = values.reshape(-1, dim)  # fixed-dim corpus (load invariant)
            sign_bits = ((x - mean) @ planes.T) >= 0.0
            bucket = sign_bits.astype(np.int64) @ weights
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column("vec_id"),
                    batch.column("embedding"),
                    pa.array(bucket, type=pa.int64()),
                ],
                names=["vec_id", "embedding", "bucket"],
            )

    return emb.select("vec_id", "embedding").mapInArrow(
        fn, "vec_id bigint, embedding array<float>, bucket bigint"
    )


def q_embed_near_dup_random(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = NEAR_DUP_THRESHOLD,
) -> DataFrame:
    """Near-dup pairs with the random-hyperplane bucketing — the
    distribution-robust variant (pytest-covered; the driver-gated row
    keeps the axis default so the DuckDB oracle stays exact)."""
    emb = load_embeddings(spark, sf_dir)
    return _near_dup_join(buckets_random_arrow(emb), threshold=threshold)


def _sql_embed_near_dup() -> str:
    dot = _SQL_DOT.format(a="a.emb_a", b="b.emb_b")
    na = _SQL_NORM.format(a="a.emb_a")
    nb = _SQL_NORM.format(a="b.emb_b")
    probe_masks = ", ".join(["0"] + [str(1 << i) for i in range(NEAR_DUP_BITS)])
    return f"""WITH bucketed AS (
  SELECT vec_id, embedding, {_sql_bucket()} AS bucket FROM embeddings
), a AS (
  SELECT vec_id AS vec_a, embedding AS emb_a, bucket FROM bucketed
), b AS (
  SELECT vec_id AS vec_b, embedding AS emb_b, xor(bucket, m) AS probe
  FROM bucketed, unnest([{probe_masks}]) AS u(m)
)
SELECT DISTINCT vec_a, vec_b,
       round(({dot}) / (({na}) * ({nb})), 4) AS cos_sim
FROM a JOIN b ON a.bucket = b.probe AND a.vec_a < b.vec_b
WHERE round(({dot}) / (({na}) * ({nb})), 4) >= {NEAR_DUP_THRESHOLD}"""


# ---------------------------------------------------------------------------
# Trained IVF codebook: spherical k-means whose ENTIRE training run is
# engine-reproducible, so the driver-gated ivf_search_trained row's DuckDB
# oracle (_sql_ivf_trained) replays it bit for bit.
#
# A float Lloyd update (avg over doubles) is order-dependent across rows,
# so no SQL oracle could replay it.  Instead embeddings quantize once to
# int64 (floor(x * 2^20 + 0.5) — the house floor(x+0.5) rule), and each
# Lloyd round keeps only the per-cell INTEGER VECTOR SUM — integer
# addition commutes, so the state is independent of row order,
# partitioning and engine.  Cosine is scale-invariant, so the un-normalized
# sum IS the centroid for assignment purposes (no count, no division — the
# mean never needs to exist).  Assignment compares round(cos, 4) with ties
# to the lowest cell; every scalar is a fixed-order fold over the dim axis,
# the same idiom the gated knn row already proves bit-identical across
# engines.  Quantization at 2^-20 is far below the 1e-4 cosine rounding.
#
# Scale shape: per round ONE scan + ONE map-side-combinable agg collecting
# k x dim int64s (a small dim table, like any collected codebook);
# assignment is a pure column expression (array_max over k structs), so
# the corpus never shuffles; each round rebuilds its plan from the base
# scan with fresh literals, so lineage depth is constant (unlike
# connected_components, where the round output feeds the next round's
# join).  Recall bounds: tests/test_similarity_trained_ivf.py.
# ---------------------------------------------------------------------------

IVF_SEED = 20240817
IVF_K = 8
IVF_ITERS = 5
IVF_NPROBE = 2
IVF_SCALE = 1 << 20


def _quant_expr(col: Column) -> Column:
    return F.transform(
        col, lambda x: F.floor(x.cast("double") * IVF_SCALE + F.lit(0.5)).cast("long")
    )


def _py_norm(s) -> float:
    # left-to-right fold, the same order Spark's aggregate and DuckDB's
    # list_sum use — the literal must equal what the oracle computes
    acc = 0.0
    for v in s:
        acc += float(v) * float(v)
    return math.sqrt(acc)


def _cos_to_sum(eq_col: Column, s) -> Column:
    lit = F.array(*[F.lit(float(v)) for v in s])
    return F.round(
        _dot_spark(lit, eq_col) / (F.lit(_py_norm(s)) * _norm_spark(eq_col)), 4
    )


def _argmax_cell_int(eq_col: Column, sums) -> Column:
    """argmax-rounded-cosine cell over the integer-sum centroids; ties ->
    lowest cell (struct max of (cos, -cell) == ORDER BY cos DESC, cell)."""
    scs = [
        F.struct(
            _cos_to_sum(eq_col, s).alias("cos"),
            F.lit(-i).cast("int").alias("negcell"),
        )
        for i, s in enumerate(sums)
    ]
    return (-F.array_max(F.array(*scs))["negcell"]).cast("int")


def train_ivf(
    emb: DataFrame,
    k: int = IVF_K,
    iters: int = IVF_ITERS,
    seed: int = IVF_SEED,
    dim: int = EMBED_DIM,
):
    """Engine-reproducible spherical k-means: returns the k per-cell int64
    vector sums after ``iters`` Lloyd rounds as plain nested lists — the
    model state a checkpoint would record.  Init is the quantized vectors
    of the k lowest md5(seed:vec_id) rows (a TakeOrdered top-k, no global
    sort); empty cells keep their previous sum."""
    # the quantized projection is scanned once per round (+ init): persist
    # it for the loop — at 100 TB the same role is played by writing the
    # projection once as a stage table and training against that
    base = emb.select("vec_id", _quant_expr(F.col("embedding")).alias("eq")).persist()
    try:
        init = (
            base.withColumn(
                "__r", F.md5(F.concat_ws(":", F.lit(str(seed)), F.col("vec_id")))
            )
            .orderBy("__r", "vec_id")
            .limit(k)
            .select("eq")
            .collect()
        )
        sums = [[int(x) for x in r["eq"]] for r in init]
        for _ in range(iters):
            cell = _argmax_cell_int(F.col("eq"), sums)
            agg = (
                base.select(cell.alias("cell"), "eq")
                .groupBy("cell")
                .agg(
                    *[
                        F.sum(F.element_at("eq", i + 1)).alias(f"s{i}")
                        for i in range(dim)
                    ]
                )
                .collect()
            )
            new = [list(s) for s in sums]
            for r in agg:
                new[int(r["cell"])] = [int(r[f"s{i}"]) for i in range(dim)]
            sums = new
    finally:
        base.unpersist()
    return sums


def ivf_search_trained(
    emb: DataFrame,
    queries: DataFrame,
    sums,
    nprobe: int = IVF_NPROBE,
    k_top: int = TOP_K,
) -> DataFrame:
    """ANN top-k of ``queries`` (qid, qvec) against the trained codebook
    ``sums``, probing each query's ``nprobe`` best cells (multi-cell probe
    — the recall lever IVF actually ships with).  Corpus assignment is a
    pure column expression (the corpus never shuffles); each query
    explodes into its nprobe best cells (array_sort over k (-cos, cell)
    structs, ties to the lowest cell), and the exploded probes are the
    broadcast side of the cell join."""
    # quantize in a projection of its own: the cell expressions read it 2k
    # times per row
    corpus = emb.select(
        "vec_id", "embedding", _quant_expr(F.col("embedding")).alias("eq")
    ).select("vec_id", "embedding", _argmax_cell_int(F.col("eq"), sums).alias("cell"))
    scs = [
        F.struct(
            (-_cos_to_sum(F.col("qeq"), s)).alias("negcos"),
            F.lit(i).cast("int").alias("cell"),
        )
        for i, s in enumerate(sums)
    ]
    probe_cells = F.transform(
        F.slice(F.array_sort(F.array(*scs)), 1, nprobe), lambda s: s["cell"]
    )
    probes = queries.select(
        "qid", "qvec", _quant_expr(F.col("qvec")).alias("qeq")
    ).select("qid", "qvec", F.explode(probe_cells).alias("cell"))
    return _probe_topk(corpus, probes, k_top)


def q_ivf_search_trained(
    spark: SparkSession, sf_dir: str, nprobe: int = IVF_NPROBE
) -> DataFrame:
    """The driver-gated trained-IVF row: train on the embeddings table,
    then search the brute-force query set (vec_id < N_QUERIES).
    _sql_ivf_trained replays training, assignment, probe and rank."""
    emb = load_embeddings(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    return ivf_search_trained(emb, queries, train_ivf(emb), nprobe=nprobe)


def _sql_ivf_trained(
    k: int = IVF_K,
    iters: int = IVF_ITERS,
    seed: int = IVF_SEED,
    dim: int = EMBED_DIM,
    nprobe: int = IVF_NPROBE,
    k_top: int = TOP_K,
) -> str:
    """DuckDB replay of the ENTIRE trained-IVF pipeline: quantize -> seeded
    init -> ``iters`` Lloyd rounds (integer sums, empty cells carried) ->
    corpus assignment -> nprobe probe -> cosine top-k."""
    dot_eq_s = (
        f"list_sum(list_transform(range({dim}), "
        "i -> CAST(qq.eq[i + 1] AS DOUBLE) * CAST(c.s[i + 1] AS DOUBLE)))"
    )
    norm_s = "sqrt(list_sum(list_transform(c.s, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
    norm_eq = "sqrt(list_sum(list_transform(qq.eq, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
    cos_assign = f"round(({dot_eq_s}) / (({norm_s}) * ({norm_eq})), 4)"
    rounds = []
    for t in range(1, iters + 1):
        rounds.append(
            f"""a{t} AS (
  SELECT vec_id, eq, cell FROM (
    SELECT qq.vec_id, qq.eq, c.cell,
           row_number() OVER (PARTITION BY qq.vec_id
                              ORDER BY {cos_assign} DESC, c.cell ASC) AS rk
    FROM q qq JOIN c{t - 1} c ON TRUE
  ) WHERE rk = 1
),
u{t} AS (
  SELECT cell, i, CAST(sum(eq[i + 1]) AS BIGINT) AS si
  FROM a{t}, UNNEST(range({dim})) AS ti(i)
  GROUP BY cell, i
),
c{t} AS (
  SELECT c.cell, COALESCE(s2.s, c.s) AS s
  FROM c{t - 1} c
  LEFT JOIN (SELECT cell, list(si ORDER BY i) AS s FROM u{t} GROUP BY cell) s2
    USING (cell)
)"""
        )
    rounds_sql = ",\n".join(rounds)
    dot_f = _SQL_DOT.format(a="p.qvec", b="cc.embedding")
    nq = _SQL_NORM.format(a="p.qvec")
    nc = _SQL_NORM.format(a="cc.embedding")
    return f"""WITH q AS (
  SELECT vec_id, embedding,
         list_transform(embedding,
           x -> CAST(floor(CAST(x AS DOUBLE) * {IVF_SCALE} + 0.5) AS BIGINT)) AS eq
  FROM embeddings
),
c0 AS (
  SELECT CAST(rn - 1 AS INTEGER) AS cell, eq AS s FROM (
    SELECT eq, row_number() OVER (
      ORDER BY md5('{seed}:' || CAST(vec_id AS VARCHAR)), vec_id) AS rn
    FROM q
  ) WHERE rn <= {k}
),
{rounds_sql},
corpus AS (
  SELECT vec_id, embedding, cell FROM (
    SELECT qq.vec_id, qq.embedding, c.cell,
           row_number() OVER (PARTITION BY qq.vec_id
                              ORDER BY {cos_assign} DESC, c.cell ASC) AS rk
    FROM q qq JOIN c{iters} c ON TRUE
  ) WHERE rk = 1
),
probes AS (
  SELECT qid, qvec, cell FROM (
    SELECT qq.vec_id AS qid, qq.embedding AS qvec, c.cell,
           row_number() OVER (PARTITION BY qq.vec_id
                              ORDER BY {cos_assign} DESC, c.cell ASC) AS rk
    FROM q qq JOIN c{iters} c ON TRUE
    WHERE qq.vec_id < {N_QUERIES}
  ) WHERE rk <= {nprobe}
),
scored AS (
  SELECT p.qid, cc.vec_id,
         round(({dot_f}) / (({nq}) * ({nc})), 4) AS cos_sim
  FROM probes p JOIN corpus cc USING (cell)
  WHERE cc.vec_id != p.qid
)
SELECT qid, vec_id, cos_sim, rank FROM (
  SELECT qid, vec_id, cos_sim,
         CAST(row_number() OVER (PARTITION BY qid
                                 ORDER BY cos_sim DESC, vec_id) AS INTEGER) AS rank
  FROM scored
) WHERE rank <= {k_top}"""


SIMILARITY_QUERIES = {
    "knn_bruteforce": (q_knn_bruteforce, _sql_knn_bruteforce()),
    "ivf_search_trained": (q_ivf_search_trained, _sql_ivf_trained()),
    "embed_near_dup": (q_embed_near_dup, _sql_embed_near_dup()),
}

# Rotated out of the driver window in round 6 (its slot gates a corpus-
# assembly op): the assignment lineage is still driver-hash-checked inside
# ann_ivf_search's probe, and this exact (query, oracle) pair stays
# asserted by tests/test_rotated_out_oracles.py.
SIMILARITY_QUERIES_EXTRA = {
    "ann_ivf_assign": (q_ivf_assign, _sql_ivf_assign()),
    # r7: the fixed-first-4-codebook probe gave its slot to the TRAINED
    # IVF row above (strictly more of the ANN path under the hash
    # check: training + multi-cell probe, not just assignment+probe).
    "ann_ivf_search": (q_ivf_search, _sql_ivf_search()),
}
