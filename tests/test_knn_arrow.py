"""Row-identity of the Arrow knn pass (and of the IVF probe, which is the
same pass) vs the HOF-expression reference: the interpreted
`aggregate`/`zip_with` cosine below is what the numpy fold reproduces in
the identical IEEE fold order; round(.,4) stays JVM-side on the
bit-identical double."""

import pyspark.sql.functions as F
import pytest

from tokforge.pipeline.similarity import (
    IVF_K,
    N_QUERIES,
    TOP_K,
    ivf_search_trained,
    knn_bruteforce,
    topk_per_key,
)
from tokforge.sources.requests import load_embeddings

SF_SMALL = "/root/testdata/sf0.001"
SF_MED = "/root/testdata/sf0.01"


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


def knn_bruteforce_reference(emb, queries, k_top=TOP_K):
    """The original HOF-expression scoring (broadcast cross-join +
    interpreted `aggregate`/`zip_with` cosine): the semantic reference the
    Arrow fast path must stay row-identical to."""
    corpus = emb.select("vec_id", "embedding")
    joined = corpus.crossJoin(F.broadcast(queries)).filter(
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


def _rows(df):
    return sorted(map(tuple, df.collect()))


@pytest.mark.parametrize("sf", [SF_SMALL, SF_MED])
def test_arrow_knn_matches_reference_on_fixtures(spark, sf):
    emb = load_embeddings(spark, sf)
    queries = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    assert _rows(knn_bruteforce(emb, queries, TOP_K)) == _rows(
        knn_bruteforce_reference(emb, queries, TOP_K)
    )


def _edge_corpus(spark):
    """Ragged lengths, a null embedding, exact ties, and a corpus smaller
    than k for one length class.  (No zero vector: under Spark 4 ANSI
    mode the HOF reference RAISES on the 0/0 division, so zero-norm
    robustness is pinned separately below.)"""
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [1.0, 0.0, 0.0]),          # exact tie with vec 2
        (2, [1.0, 0.0, 0.0]),
        (4, [0.5, 0.5]),               # length mismatch -> NULL cosine
        (5, None),                     # null embedding -> NULL cosine
        (6, [-1.0, 2.0, 0.25]),
        (7, [0.25, -0.125, 3.0]),
        (8, [1.0, 1.0, 1.0, 1.0]),     # another length class
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_arrow_knn_survives_zero_norm(spark):
    """Deliberate difference vs the HOF reference, which raises ANSI
    DIVIDE_BY_ZERO: a zero-norm vector's cosine is NULL, as DuckDB's
    division gives, so it ranks below every number (NULLS LAST) and is
    still emitted when the corpus has fewer than k numeric candidates."""
    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 0.0]), (2, [0.5, 0.5])],
        "vec_id long, embedding array<float>",
    )
    queries = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    rows = knn_bruteforce(emb, queries, 2).collect()
    assert {(r["vec_id"], r["cos_sim"], r["rank"]) for r in rows} == {
        (2, 0.7071, 1),
        (1, None, 2),
    }


def test_arrow_knn_matches_reference_on_edge_corpus(spark):
    emb = _edge_corpus(spark)
    queries = emb.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    for k in (1, 3, 20):
        assert _rows(knn_bruteforce(emb, queries, k)) == _rows(
            knn_bruteforce_reference(emb, queries, k)
        ), f"k={k}"


def test_arrow_knn_null_query_vector(spark):
    emb = _edge_corpus(spark)
    queries = spark.createDataFrame(
        [(99, None)], "qid long, qvec array<float>"
    )
    assert _rows(knn_bruteforce(emb, queries, 3)) == _rows(
        knn_bruteforce_reference(emb, queries, 3)
    )


def test_arrow_knn_query_cap(spark):
    from tokforge.pipeline.similarity import KNN_QUERY_CAP

    emb = _edge_corpus(spark)
    queries = (
        spark.range(KNN_QUERY_CAP + 1)
        .select(F.col("id").alias("qid"))
        .withColumn("qvec", F.array(F.lit(1.0), F.lit(0.0), F.lit(0.0)))
    )
    with pytest.raises(ValueError, match="cap"):
        knn_bruteforce(emb, queries, 1)


def test_ivf_probe_of_every_cell_matches_reference_on_edge_corpus(spark):
    """The IVF probe is knn's pass restricted to the probed cells, so
    probing all IVF_K cells must give the reference knn rows exactly —
    ragged lengths, the NULL embedding (both NULL against every cell,
    hence cell 0) and the exact ties included."""
    emb = _edge_corpus(spark)
    queries = emb.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    sums = [[i + 1, 3 - 2 * i, (i * i) % 5 - 2] for i in range(IVF_K)]
    for k in (1, 3, 20):
        got = ivf_search_trained(emb, queries, sums, nprobe=IVF_K, k_top=k)
        assert _rows(got) == _rows(knn_bruteforce_reference(emb, queries, k)), f"k={k}"
