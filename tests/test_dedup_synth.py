"""The one request synthesizer (sources.requests._synth_tokens) and the
key-only token source of the dedup hash lineage.  requests_df builds its
n_tok / tokens with it in one mapInArrow pass; q_simhash, the MinHash
signatures and the LSH signature table shuffle only int64 doc_ids and run
it inside the same Arrow pass as the one MinHash / SimHash kernel
(_synth_hashed).  These tests pin the SYNTHESIS: requests_df equals its
DuckDB mirror sql_requests_cte on every column (replicated, negative and
overflowing ids included), the fused hashes equal the kernels run on
requests_df, and the gated dedup rows equal their DuckDB oracles."""

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pyspark.sql.functions as F
import pytest
from pyspark.errors import PythonException

from tokforge.pipeline.dedup import (
    DEDUP_QUERIES,
    FEATURE_SPACE,
    SHINGLE_K,
    _materialized_requests,
    _minhash,
    _synth_hashed,
    _synth_request_ids,
    q_simhash,
    signatures_arrow,
    simhash_arrow,
)
from tokforge.sources.requests import REPLICA_STRIDE, requests_df, sql_requests_cte

SF_SMALL = "/root/testdata/sf0.001"
SF_MED = "/root/testdata/sf0.01"


def _spark_requests(spark, sf_dir, replicas=1):
    df = requests_df(spark, sf_dir, "synth", replicas=replicas)
    return sorted(
        (r[0], r[1], r[2], list(r[3]), r[4], r[5], r[6], r[7])
        for r in df.select(
            "doc_id", "source", "n_tok", "tokens",
            F.unix_timestamp("ts"), "ops", "orientation", "src_dtype",
        ).collect()
    )


def _sql_requests(docs_parquet, replicas=1):
    """sql_requests_cte over ``documents`` replicated the way requests_df
    replicates it (copy r's ids shifted by r * REPLICA_STRIDE)."""
    con = duckdb.connect()
    con.execute(
        f"""CREATE VIEW documents AS
SELECT doc_id + rep * {REPLICA_STRIDE} AS doc_id, source
FROM '{docs_parquet}', range({replicas}) AS r(rep)"""
    )
    rows = con.execute(
        f"""WITH {sql_requests_cte()}
SELECT doc_id, source, n_tok, tokens, CAST(epoch(ts) AS BIGINT), 'synth',
       orientation, src_dtype
FROM req"""
    ).fetchall()
    return sorted((*r[:3], list(r[3]), *r[4:]) for r in rows)


@pytest.mark.parametrize("replicas", [1, 3])
@pytest.mark.parametrize("sf", [SF_SMALL, SF_MED])
def test_requests_df_matches_sql_cte(spark, sf, replicas):
    got = _spark_requests(spark, sf, replicas)
    assert got == _sql_requests(f"{sf}/documents.parquet", replicas)
    assert len(got) == replicas * len(_spark_requests(spark, sf))


def _write_documents(tmp_path, ids):
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(ids, pa.int64()),
                "source": pa.array([f"src{i % 3}" for i in range(len(ids))]),
            }
        ),
        tmp_path / "documents.parquet",
    )
    return str(tmp_path)


def test_requests_df_matches_sql_cte_negative_ids(spark, tmp_path):
    """Negative ids: the remainder truncates (Spark / DuckDB), so a
    residue below 0 takes the last ladder step and tokens can be negative."""
    sf = _write_documents(tmp_path, range(-40, 41))
    got = _spark_requests(spark, sf)
    assert got == _sql_requests(f"{sf}/documents.parquet")
    assert {r[2] for r in got if int(r[0]) < 0 and int(r[0]) % 4} == {256}
    assert any(t < 0 for r in got for t in r[3])
    # the fused dedup lineage synthesizes the same tokens
    fused = sorted(map(tuple, q_simhash(spark, sf).collect()))
    unfused = simhash_arrow(requests_df(spark, sf, "simhash")).collect()
    assert fused == sorted(map(tuple, unfused))


def test_overflowing_id_raises_on_both_sides(spark, tmp_path):
    sf = _write_documents(tmp_path, [1, 1 << 62])
    with pytest.raises(PythonException, match="OverflowError"):
        requests_df(spark, sf, "synth").collect()
    with pytest.raises(duckdb.OutOfRangeException):
        _sql_requests(f"{sf}/documents.parquet")


@pytest.mark.parametrize("sf", [SF_SMALL, SF_MED])
def test_fused_simhash_matches_unfused(spark, sf):
    fused = sorted(map(tuple, q_simhash(spark, sf).collect()))
    unfused = sorted(
        map(tuple, simhash_arrow(requests_df(spark, sf, "simhash")).collect())
    )
    assert fused == unfused


@pytest.mark.parametrize("feature_space", [FEATURE_SPACE, None])
@pytest.mark.parametrize("replicas", [1, 3])
def test_fused_signatures_match_unfused(spark, feature_space, replicas):
    fused = sorted(
        (r["doc_id"], tuple(r["sig"]))
        for r in _synth_hashed(
            _synth_request_ids(spark, SF_SMALL, replicas),
            ("sig", "array<long>"),
            lambda v, r, n: _minhash(v, r, len(n), feature_space),
        ).collect()
    )
    req = _materialized_requests(spark, SF_SMALL, "minhash", replicas).filter(
        F.col("n_tok") >= SHINGLE_K
    )
    unfused = sorted(
        (r["doc_id"], tuple(r["sig"]))
        for r in signatures_arrow(req, feature_space).collect()
    )
    assert fused == unfused


# gated rows and their row counts at sf0.001
_ORACLED = {"dedup_simhash": 500, "dedup_lsh_pairs": 96, "dedup_ngram_jaccard": 96}


@pytest.mark.parametrize("name", sorted(_ORACLED))
def test_dedup_row_matches_oracle(spark, name):
    fn, sql = DEDUP_QUERIES[name]
    got = sorted(tuple(r) for r in fn(spark, SF_SMALL).collect())
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF_SMALL}/documents.parquet'"
    )
    want = sorted(tuple(r) for r in con.execute(sql).fetchall())
    assert len(got) == len(want) == _ORACLED[name], name
    assert got == want, name
