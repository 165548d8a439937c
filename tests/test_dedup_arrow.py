"""Edge-case coverage for the one MinHash kernel (_minhash) and the one
SimHash kernel (_simhash), driven through their token-carrying frames
(signatures_arrow / simhash_arrow): rows the gated fixture never
produces — empty token lists, n < SHINGLE_K, single-row batches — plus
value equality against the straightforward per-row Python formulas.
The fused key-only paths run the same kernels (tests/test_dedup_synth.py
pins their token synthesis)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from tokforge.pipeline.dedup import (
    A,
    B,
    FEATURE_SPACE,
    N_HASHES,
    P,
    SHINGLE_K,
    SIMHASH_BITS,
    SIMHASH_MOD,
    SIMHASH_MULT,
    signatures_arrow,
    simhash_arrow,
)

ROWS = [
    ("empty", []),
    ("one", [7]),
    ("two", [7, 8]),
    ("three", [10, 20, 30]),
    ("longer", [5, 1, 4, 1, 5, 9, 2, 6, 5, 3, 5]),
    ("repeat", [42] * 8),
]


@pytest.fixture(scope="module")
def tok_df(spark):
    return spark.createDataFrame(
        [(d, t) for d, t in ROWS], "doc_id string, tokens array<int>"
    )


def _shingles(t):
    return [
        ((t[s] * 50261 + t[s + 1]) % P * 50261 + t[s + 2]) % P
        for s in range(len(t) - SHINGLE_K + 1)
    ]


def test_signatures_arrow_matches_reference_formula(tok_df):
    rows = {r["doc_id"]: r["sig"] for r in signatures_arrow(tok_df, None).collect()}
    for doc, toks in ROWS:
        sh = _shingles(toks)
        if not sh:
            assert rows[doc] is None, doc
            continue
        expect = [min((g * A[j] + B[j]) % P for g in sh) for j in range(N_HASHES)]
        assert list(rows[doc]) == expect, doc


def test_signatures_arrow_feature_space_fold(tok_df):
    rows = {
        r["doc_id"]: r["sig"]
        for r in signatures_arrow(tok_df, FEATURE_SPACE).collect()
    }
    for doc, toks in ROWS:
        sh = [g % FEATURE_SPACE for g in _shingles(toks)]
        if not sh:
            assert rows[doc] is None, doc
            continue
        expect = [min((g * A[j] + B[j]) % P for g in sh) for j in range(N_HASHES)]
        assert list(rows[doc]) == expect, doc


def test_simhash_arrow_matches_reference_formula(tok_df):
    rows = {r["doc_id"]: r["simhash16"] for r in simhash_arrow(tok_df).collect()}
    for doc, toks in ROWS:
        expect = 0
        for bit in range(SIMHASH_BITS):
            vote = sum(
                1 if ((x * SIMHASH_MULT) % SIMHASH_MOD >> bit) & 1 else -1
                for x in toks
            )
            if vote > 0:
                expect += 1 << bit
        assert rows[doc] == expect, doc


def test_trailing_unshingleable_rows_do_not_truncate_previous_row(spark):
    """Regression (round 6): a batch ENDING in shingle-less/empty rows used
    to clamp the reduceat end index to len-1, silently dropping the final
    shingle (minhash) / final token's vote (simhash) of the LAST non-empty
    row — a chimeric signature first caught by the streaming-LSH DuckDB
    oracle.  The fixture tokens are chosen so that the dropped element
    changes the result (asserted below), and coalesce(1) pins one batch
    with the short rows last."""
    toks = [5, 1, 4, 1, 5, 9, 2, 6, 5, 3, 5]
    sh = _shingles(toks)
    full_sig = [min((g * A[j] + B[j]) % P for g in sh) for j in range(N_HASHES)]
    trunc_sig = [
        min((g * A[j] + B[j]) % P for g in sh[:-1]) for j in range(N_HASHES)
    ]
    assert full_sig != trunc_sig, "fixture: last shingle must matter"

    df = spark.createDataFrame(
        [("a", toks), ("b", [7, 8]), ("c", [])],
        "doc_id string, tokens array<int>",
    ).coalesce(1)
    got = {r["doc_id"]: r["sig"] for r in signatures_arrow(df, None).collect()}
    assert got["a"] == full_sig
    assert got["b"] is None and got["c"] is None

    def ref_simhash(t):
        out = 0
        for bit in range(SIMHASH_BITS):
            vote = sum(
                1 if ((x * SIMHASH_MULT) % SIMHASH_MOD >> bit) & 1 else -1
                for x in t
            )
            if vote > 0:
                out += 1 << bit
        return out

    assert ref_simhash(toks) != ref_simhash(toks[:-1]), (
        "fixture: last token's vote must matter"
    )
    sim = {r["doc_id"]: r["simhash16"] for r in simhash_arrow(df).collect()}
    assert sim["a"] == ref_simhash(toks)
    assert sim["b"] == ref_simhash([7, 8]) and sim["c"] == 0


def test_single_row_batches(spark):
    one = spark.createDataFrame([("x", [1, 2, 3, 4])], "doc_id string, tokens array<int>")
    assert signatures_arrow(one, None).count() == 1
    assert simhash_arrow(one).count() == 1
