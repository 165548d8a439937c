"""The key-only token source of the dedup hash lineage.  q_simhash, the
MinHash signatures and the LSH signature table shuffle only int64
doc_ids and rebuild each request's tokens in numpy (_synth_tokens)
inside the same Arrow pass that runs the one MinHash / SimHash kernel
(_synth_hashed).  The kernels are shared with the token-carrying frames
(_flat_tokens), so these tests pin the SYNTHESIS: its tokens equal
requests_df's, the fused hashes equal the kernels run on requests_df,
and the gated dedup rows equal their DuckDB oracles."""

import duckdb
import numpy as np
import pyspark.sql.functions as F
import pytest

from tokforge.pipeline.dedup import (
    DEDUP_QUERIES,
    FEATURE_SPACE,
    SHINGLE_K,
    _materialized_requests,
    _minhash,
    _synth_hashed,
    _synth_request_ids,
    _synth_tokens,
    q_simhash,
    signatures_arrow,
    simhash_arrow,
)
from tokforge.sources.requests import requests_df

SF_SMALL = "/root/testdata/sf0.001"
SF_MED = "/root/testdata/sf0.01"


@pytest.mark.parametrize("replicas", [1, 3])
@pytest.mark.parametrize("sf", [SF_SMALL, SF_MED])
def test_synth_tokens_match_requests_df(spark, sf, replicas):
    ids = np.array(
        [r["doc_id"] for r in _synth_request_ids(spark, sf, replicas).collect()],
        dtype=np.int64,
    )
    values, rowmap, lengths = _synth_tokens(ids)
    assert len(values) == len(rowmap) == lengths.sum()
    ends = np.cumsum(lengths)
    synth = sorted(
        (str(d), values[e - n : e].tolist()) for d, n, e in zip(ids, lengths, ends)
    )
    want = sorted(
        (r["doc_id"], list(r["tokens"]))
        for r in requests_df(spark, sf, "synth", replicas=replicas)
        .select("doc_id", "tokens")
        .collect()
    )
    assert synth == want


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
