"""Similarity search over the `embeddings` table (array<float>, dim 64):
brute-force cosine top-k as the exactness baseline, IVF coarse assignment
plus a cell-pruned probe query as the scale path, and LSH sign-bucketed
near-duplicate pairs.

Every cosine comes from one numpy fold (``_cos``) inside a mapInArrow
pass, in the accumulation order of DuckDB's list_sum, so the unrounded
double is bit-identical on both engines; round(., 4), the cell argmax and
the ranks stay JVM-side so Spark and DuckDB hash-match.  A zero
denominator gives a NULL cosine, as in the oracle.

100 TB shapes:
- brute-force: the tiny query set is collected (capped) and closed over
  by one scoring pass; the corpus never joins; top-k is two-phase (local
  per-partition top-k, then a final rank over <= k * n_partitions
  survivors) so no reducer ever sees the whole corpus.
- IVF: the centroid codebook is collected driver-side (it is the small dim
  table — standard KMeans/IVF practice), assignment is one scoring pass
  over the scan (zero shuffle), and each probe scores only its cells'
  rows in the brute-force pass.
- near-dup: sign-LSH over NEAR_DUP_BITS hyperplanes (bucket count 2^bits
  grows with the corpus via the constant) with 1-bit multi-probe for
  recall; candidate pairs stay within (bucket, probe) keys — all-pairs
  never materializes.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from tokforge.sources.requests import load_embeddings

N_QUERIES = 4  # vec_id < 4 act as the query set for brute-force knn
TOP_K = 10
N_CELLS = 4  # IVF coarse cells = the first N_CELLS vectors as centroids
# IVF probe queries: a disjoint slice so the probe is a real search, not a
# self-lookup of the centroids.
PROBE_LO, PROBE_HI = N_CELLS, N_CELLS + 4


_SQL_DOT = (
    "list_sum(list_transform(range(len({a})), "
    "i -> CAST({a}[i + 1] AS DOUBLE) * CAST({b}[i + 1] AS DOUBLE)))"
)
_SQL_NORM = (
    "sqrt(list_sum(list_transform({a}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
)


def _cos(a: np.ndarray, b: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """The one cosine fold: last axis of float64 ``a`` against ``b`` (the
    leading axes broadcast — a batch block against a reference set, or
    row against row).  Returns (cos, null).

    Dot and norms add left to right over the dim axis with a separate
    multiply and add — the order of Spark's interpreted array fold (the
    reference in tests/test_knn_arrow.py) and of DuckDB's list_sum — so
    the unrounded double is bit-identical to both; each norm is computed
    once per row, not once per pair.  A zero denominator is NULL, as
    DuckDB's division gives (docs/SEMANTICS.md)."""
    a = np.ascontiguousarray(np.moveaxis(a, -1, 0))
    b = np.ascontiguousarray(np.moveaxis(b, -1, 0))
    dot = np.zeros(np.broadcast_shapes(a.shape[1:], b.shape[1:]))
    na, nb = np.zeros(a.shape[1:]), np.zeros(b.shape[1:])
    for x, y in zip(a, b):
        dot += x * y
        na += x * x
        nb += y * y
    den = np.sqrt(na) * np.sqrt(nb)
    with np.errstate(divide="ignore", invalid="ignore"):
        return dot / den, np.broadcast_to(den == 0, dot.shape)


def _vectors(col) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """An Arrow list<number> column as (flat float64 values, row starts,
    row lengths).  A NULL row, or one holding a NULL element, has length
    -1: its cosine is NULL against everything, as Spark's array fold is."""
    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    off = col.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
    vals = col.values.slice(off[0], off[-1] - off[0])
    off = off - off[0]
    lens = np.diff(off)
    lens[col.is_null().to_numpy(zero_copy_only=False)] = -1
    if vals.null_count:
        holes = np.nonzero(vals.is_null().to_numpy(zero_copy_only=False))[0]
        lens[np.searchsorted(off, holes, side="right") - 1] = -1
    flat = vals.to_numpy(zero_copy_only=False).astype(np.float64)
    return flat, off[:-1], lens


def _gather(flat: np.ndarray, starts: np.ndarray, rows: np.ndarray, d: int) -> np.ndarray:
    return flat[starts[rows][:, None] + np.arange(d)]


def _cos_to(vecs, refs: list, rows: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(rows x refs) fold of the ``rows`` of a parsed batch (``_vectors``)
    against a collected reference set; NULL where the lengths differ or
    either side is NULL."""
    flat, starts, lens = vecs
    cos = np.zeros((rows.size, len(refs)))
    null = np.ones(cos.shape, dtype=bool)
    for d in {len(r) for r in refs if r is not None}:
        i = np.nonzero(lens[rows] == d)[0]
        cols = [j for j, r in enumerate(refs) if r is not None and len(r) == d]
        if i.size:
            ref = np.asarray([refs[j] for j in cols], dtype=np.float64)
            c, z = _cos(_gather(flat, starts, rows[i], d)[:, None, :], ref[None])
            cos[np.ix_(i, cols)], null[np.ix_(i, cols)] = c, z
    return cos, null


def _cos_pairs(va, vb) -> tuple[np.ndarray, np.ndarray]:
    """Row-against-row fold of two parsed batches of equal row count."""
    (fa, sa, la), (fb, sb, lb) = va, vb
    cos = np.zeros(la.size)
    null = np.ones(la.size, dtype=bool)
    for d in np.unique(la[(la == lb) & (la >= 0)]):
        rows = np.nonzero((la == d) & (lb == d))[0]
        cos[rows], null[rows] = _cos(_gather(fa, sa, rows, d), _gather(fb, sb, rows, d))
    return cos, null


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
# pattern): every collected reference set — knn queries, IVF centroids
# and probes, the trained codebook — is a broadcast-sized dim table.
KNN_QUERY_CAP = 8192


def _collect_capped(df: DataFrame, what: str) -> list:
    rows = df.limit(KNN_QUERY_CAP + 1).collect()
    if len(rows) > KNN_QUERY_CAP:
        raise ValueError(
            f"{what} has more than the broadcast-shaped cap of "
            f"{KNN_QUERY_CAP} rows; shard it"
        )
    return rows


# Rounding-bucket slack for the Arrow prefilters: keep any row whose
# UNROUNDED cosine is within this of the cut (the k-th local best, or the
# near-dup threshold) — a strict superset of every row that can still
# reach it after round(.,4) (bucket width 1e-4; 2e-4 leaves >50x margin
# over double representation fuzz of the thresholds).
_KNN_PREFILTER_SLACK = 2e-4

# Scores per (batch rows x queries) block: bounds the fold's working
# set at a few MB whatever the query count.
_BLOCK_SCORES = 1 << 20


def knn_bruteforce(emb: DataFrame, queries: DataFrame, k_top: int = TOP_K) -> DataFrame:
    """Exact cosine top-k of ``queries`` (qid, qvec) against a corpus
    (vec_id, embedding): ONE mapInArrow pass over the corpus.

    - the bounded query set is collected (``_collect_capped``),
    - per corpus batch ``_cos`` scores the (rows x queries) block in the
      exact IEEE order of the HOF reference (tests/test_knn_arrow.py),
    - a conservative local top-k prefilter per query (threshold = k-th
      local best minus _KNN_PREFILTER_SLACK) bounds the stage's output at
      ~k rows per (query, batch); NaN is kept above every number and
      NULL below, as Spark sorts them,
    - round(.,4) runs JVM-side on the bit-identical double (BigDecimal
      HALF_UP) and topk_per_key assigns the final ranks.

    NULL cosines (length mismatch, NULL vector, zero norm) are emitted
    only when a batch has fewer than k_top scored candidates for the
    query, which keeps the NULLS-LAST tail exact on degenerate inputs.

    The IVF probes are this same pass: given a corpus carrying ``cell``
    and queries carrying ``cells`` (array<int>), each cell's rows are
    scored only against the queries that probe it."""
    from pyspark.sql.pandas.types import to_arrow_type

    probed = "cells" in queries.columns
    qrows = _collect_capped(
        queries.select("qid", "qvec", *(["cells"] if probed else [])),
        "knn query set",
    )
    refs = [r["qvec"] for r in qrows]
    qid_type = queries.schema["qid"].dataType
    q_ids = pa.array([r["qid"] for r in qrows], type=to_arrow_type(qid_type))
    q_key = q_ids.to_numpy(zero_copy_only=False)
    q_ok = ~q_ids.is_null().to_numpy(zero_copy_only=False)
    probing: dict = {}  # cell -> the queries that probe it
    for j, r in enumerate(qrows if probed else ()):
        for c in r["cells"] or ():
            probing.setdefault(c, []).append(j)

    def score(batches):
        for batch in batches:
            vid = batch.column("vec_id")
            v_key = vid.to_numpy(zero_copy_only=False)
            v_ok = ~vid.is_null().to_numpy(zero_copy_only=False)
            vecs = _vectors(batch.column("embedding"))
            if probed:
                cell = batch.column("cell").to_numpy(zero_copy_only=False)
                groups = [(np.nonzero(cell == c)[0], np.array(q)) for c, q in probing.items()]
            else:
                groups = [(np.arange(batch.num_rows), np.arange(len(refs)))]
            hits = []
            for rows, qs in groups:
                step = max(1, _BLOCK_SCORES // max(rows.size, 1))
                for q in (qs[lo : lo + step] for lo in range(0, qs.size, step)):
                    cos, null = _cos_to(vecs, [refs[j] for j in q], rows)
                    e = (v_key[rows, None] != q_key[q]) & v_ok[rows, None] & q_ok[q]
                    matched = e & ~null
                    nan = np.isnan(cos)
                    kth = np.full(q.size, -np.inf)
                    if rows.size > k_top:
                        s = np.where(matched & ~nan, cos, -np.inf)
                        kth = np.partition(s, rows.size - k_top, axis=0)[rows.size - k_top]
                    with np.errstate(invalid="ignore"):
                        keep = matched & ((cos >= kth - _KNN_PREFILTER_SLACK) | nan)
                    keep |= e & null & (matched.sum(axis=0) < k_top)
                    r, c = np.nonzero(keep)
                    hits.append((rows[r], q[c], cos[r, c], null[r, c]))
            if hits:
                r, c, cos, null = (np.concatenate(x) for x in zip(*hits))
                yield pa.RecordBatch.from_arrays(
                    [q_ids.take(c), vid.take(r), pa.array(cos, mask=null)],
                    names=["qid", "vec_id", "cos_un"],
                )

    spark = emb.sparkSession
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    qid_ddl = qid_type.simpleString()
    vid_ddl = emb.schema["vec_id"].dataType.simpleString()
    # the corpus scan may be a single unsplittable parquet row group; the
    # rows are narrow (id + dim floats), so a round-robin exchange is the
    # cheap way to spread the numpy scoring across the session's
    # parallelism (scale-adaptive: follows spark.sql.shuffle.partitions)
    pre = (
        emb.select("vec_id", "embedding", *(["cell"] if probed else []))
        .repartition(n_part)
        .mapInArrow(score, f"qid {qid_ddl}, vec_id {vid_ddl}, cos_un double")
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


def _with_cos(df: DataFrame, vec: str, refs: list) -> DataFrame:
    """``df`` plus ``cos array<double>``: the fold of column ``vec``
    against every vector of the collected reference set ``refs`` (one
    mapInArrow; entry i is NULL where the fold is).  The cell choice
    stays JVM-side (``_ranked_cells``) so round(.,4) is Spark's own."""
    from pyspark.sql.types import ArrayType, DoubleType, StructField, StructType

    k = len(refs)

    def score(batches):
        for batch in batches:
            cos, null = _cos_to(_vectors(batch.column(vec)), refs, np.arange(batch.num_rows))
            starts = pa.array(np.arange(0, cos.size + 1, k, dtype=np.int32))
            lists = pa.ListArray.from_arrays(
                starts, pa.array(cos.ravel(), mask=null.ravel())
            )
            yield pa.RecordBatch.from_arrays(
                [*batch.columns, lists], names=[*batch.schema.names, "cos"]
            )

    out = StructType([*df.schema.fields, StructField("cos", ArrayType(DoubleType()))])
    return df.mapInArrow(score, out)


def _ranked_cells(cos: Column) -> Column:
    """The k (round(cos, 4), -cell) structs, best first: struct order is
    ``ORDER BY cos DESC, cell`` — ties to the lowest cell, NaN first,
    NULL last (a row NULL against every cell lands in cell 0)."""
    return F.sort_array(
        F.transform(
            cos,
            lambda c, i: F.struct(F.round(c, 4).alias("cos"), (-i).alias("negcell")),
        ),
        asc=False,
    )


def _best_cells(cos: Column, n: int) -> Column:
    return F.transform(F.slice(_ranked_cells(cos), 1, n), lambda s: -s["negcell"])


def _case_cell(cos: Column) -> Column:
    """ann_ivf_search's cell rule, as its oracle's CASE chain
    (``_sql_cell_case``) states it: the first cell whose rounded cosine is
    >= every later cell's, else the last.  Equal to ``_ranked_cells``'s
    choice on numbers; a NULL comparison is never true, so a row holding
    any NULL cosine falls through to the last cell there."""
    r = F.transform(cos, lambda c: F.round(c, 4))
    unbeaten = F.transform(
        r, lambda c, i: F.forall(F.slice(r, i + 2, F.size(r)), lambda d: c >= d)
    )
    return (F.array_position(unbeaten, True) - 1).cast("int")


def _centroids(emb: DataFrame) -> list:
    """The fixed codebook: the first N_CELLS vectors, cell = vec_id."""
    rows = _collect_capped(
        emb.filter(F.col("vec_id") < N_CELLS).select("vec_id", "embedding"),
        "IVF centroid set",
    )
    cents = {r["vec_id"]: r["embedding"] for r in rows}
    return [cents[i] for i in range(N_CELLS)]


def q_ivf_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF coarse assignment: each vector goes to the cell of its most
    similar centroid (centroids = the first N_CELLS vectors, collected).
    One scoring pass, then one aggregate keyed by cell — no per-vector
    shuffle.  Downstream ANN probes only the query's cell (q_ivf_search)."""
    emb = load_embeddings(spark, sf_dir)
    best = _ranked_cells(F.col("cos"))[0]
    return (
        _with_cos(emb.select("embedding"), "embedding", _centroids(emb))
        .select((-best["negcell"]).alias("cell"), best["cos"].alias("cos"))
        .groupBy("cell")
        .agg(
            F.count("*").alias("n_vectors"),
            F.round(F.avg("cos"), 4).alias("avg_cos_to_centroid"),
        )
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


def _sql_cell_case(names: list[str]) -> str:
    arms = []
    for i in range(len(names) - 1):
        cond = " AND ".join(f"{names[i]} >= {names[j]}" for j in range(i + 1, len(names)))
        arms.append(f"WHEN {cond} THEN {i}")
    return "CAST(CASE " + " ".join(arms) + f" ELSE {len(names) - 1} END AS INTEGER)"


def q_ivf_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF probe: assign queries AND corpus to cells, search top-k only
    within the query's cell (reference analog: the cache probe
    short-circuit, service.rs:241-250 — check the narrow namespace before
    touching the full corpus).

    The centroid codebook is collected (N_CELLS rows — the broadcast dim
    table); the corpus takes its cell in one scoring pass over the scan
    (zero shuffle), the probes take theirs the same way and are collected,
    and knn's pass scores each probe against its cell's rows only."""
    emb = load_embeddings(spark, sf_dir)
    cents = _centroids(emb)
    corpus = _with_cos(emb.select("vec_id", "embedding"), "embedding", cents).select(
        "vec_id", "embedding", _case_cell(F.col("cos")).alias("cell")
    )
    probes = _with_cos(
        emb.filter((F.col("vec_id") >= PROBE_LO) & (F.col("vec_id") < PROBE_HI)).select(
            F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
        ),
        "qvec",
        cents,
    ).select("qid", "qvec", F.array(_case_cell(F.col("cos"))).alias("cells"))
    return knn_bruteforce(corpus, probes, TOP_K)


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
    bucket plus the `bits` Hamming-1 neighbours (1-bit multi-probe), and
    one Arrow pass scores the candidate pairs row against row with the
    cosine fold, keeping only pairs within _KNN_PREFILTER_SLACK of the
    threshold; the JVM rounds and applies the exact threshold.
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
    vid_ddl = emb.schema["vec_id"].dataType.simpleString()

    def score(batches):
        for batch in batches:
            cos, null = _cos_pairs(
                _vectors(batch.column("emb_a")), _vectors(batch.column("emb_b"))
            )
            with np.errstate(invalid="ignore"):
                keep = ~null & ((cos >= threshold - _KNN_PREFILTER_SLACK) | np.isnan(cos))
            idx = pa.array(np.nonzero(keep)[0])
            yield pa.RecordBatch.from_arrays(
                [batch.column(c).take(idx) for c in ("vec_a", "vec_b")] + [pa.array(cos[keep])],
                names=["vec_a", "vec_b", "cos_un"],
            )

    return (
        a.join(b, (F.col("bucket") == F.col("probe")) & (F.col("vec_a") < F.col("vec_b")))
        .select("vec_a", "vec_b", "emb_a", "emb_b")
        .mapInArrow(score, f"vec_a {vid_ddl}, vec_b {vid_ddl}, cos_un double")
        .select("vec_a", "vec_b", F.round(F.col("cos_un"), 4).alias("cos_sim"))
        .filter(F.col("cos_sim") >= threshold)
        .distinct()
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
            flat, _, _ = _vectors(batch.column("embedding"))
            x = flat.reshape(-1, dim)  # fixed-dim corpus (load invariant)
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
# to the lowest cell; every cosine is the module's one fold (``_cos``), the
# same fold the gated knn row proves bit-identical across engines.
# Quantization at 2^-20 is far below the 1e-4 cosine rounding.
#
# Scale shape: per round ONE pass over the persisted quantized scan + ONE
# map-side-combinable agg collecting k x dim int64s (a small dim table,
# like any collected codebook); assignment is one scoring pass closed
# over the k sums plus a JVM struct max, so the corpus never shuffles;
# each round rebuilds its plan from the base scan, so lineage depth is
# constant (unlike connected_components, where the round output feeds the
# next round's join).  Recall bounds: tests/test_similarity_trained_ivf.py.
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
        init = _collect_capped(
            base.withColumn(
                "__r", F.md5(F.concat_ws(":", F.lit(str(seed)), F.col("vec_id")))
            )
            .orderBy("__r", "vec_id")
            .limit(k)
            .select("eq"),
            "IVF init codebook",
        )
        sums = [[int(x) for x in r["eq"]] for r in init]
        for _ in range(iters):
            agg = _collect_capped(
                _with_cos(base.select("eq"), "eq", sums)
                .select(_best_cells(F.col("cos"), 1)[0].alias("cell"), "eq")
                .groupBy("cell")
                .agg(
                    *[
                        F.sum(F.element_at("eq", i + 1)).alias(f"s{i}")
                        for i in range(dim)
                    ]
                ),
                "IVF codebook",
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
    — the recall lever IVF actually ships with).  The corpus takes its
    cell in one scoring pass over its quantized vectors (the corpus never
    shuffles for it); each query takes its nprobe best cells the same way
    (ties to the lowest cell), and knn's pass scores each query against
    the rows of its probed cells only."""
    corpus = _with_cos(
        emb.select("vec_id", "embedding", _quant_expr(F.col("embedding")).alias("eq")),
        "eq",
        sums,
    ).select("vec_id", "embedding", _best_cells(F.col("cos"), 1)[0].alias("cell"))
    probes = _with_cos(
        queries.select("qid", "qvec", _quant_expr(F.col("qvec")).alias("qeq")),
        "qeq",
        sums,
    ).select("qid", "qvec", _best_cells(F.col("cos"), nprobe).alias("cells"))
    return knn_bruteforce(corpus, probes, k_top)


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
