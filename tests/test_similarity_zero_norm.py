"""One zero-norm rule: a zero vector's cosine is NULL on both engines.

DuckDB's division by zero gives NULL; the numpy fold returns NULL for a
zero denominator too (Spark's own ANSI division would raise).  A NULL
cosine ranks below every number in knn (NULLS LAST), and a vector NULL
against every centroid takes the cell its oracle's argmax rule gives it.
Each query is compared with its DuckDB mirror on a small embeddings
table with one zero vector, placed as a plain corpus row, as a knn query
and IVF centroid, and as an IVF probe.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from tokforge.pipeline.similarity import (
    SIMILARITY_QUERIES,
    SIMILARITY_QUERIES_EXTRA,
)

N_VECS, DIM = 30, 8
_QUERIES = {**SIMILARITY_QUERIES, **SIMILARITY_QUERIES_EXTRA}


def _zero_vector_table(path, zero_id: int) -> str:
    vecs = np.random.default_rng(7).standard_normal((N_VECS, DIM)).astype(np.float32)
    vecs[zero_id] = 0.0
    table = pa.table(
        {
            "vec_id": pa.array(range(N_VECS), pa.int64()),
            "embedding": pa.array(vecs.tolist(), pa.list_(pa.float32())),
            "label": pa.array([0] * N_VECS, pa.int32()),
        }
    )
    pq.write_table(table, path / "embeddings.parquet")
    return str(path)


@pytest.mark.parametrize("zero_id", [12, 2, 5], ids=["corpus", "query_centroid", "probe"])
@pytest.mark.parametrize("name", ["knn_bruteforce", "ann_ivf_assign", "ann_ivf_search"])
def test_zero_vector_matches_duckdb_mirror(spark, tmp_path, name, zero_id):
    sf_dir = _zero_vector_table(tmp_path, zero_id)
    fn, sql = _QUERIES[name]
    got = sorted(tuple(r) for r in fn(spark, sf_dir).collect())
    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM '{sf_dir}/embeddings.parquet'")
    want = sorted(tuple(r) for r in con.execute(sql).fetchall())
    assert got and got == want
