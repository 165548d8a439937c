"""Span corruption (tokforge/pipeline/corrupt.py): the one Arrow kernel
against a pure-Python reference (requests fixture, edge rows, a parameter
fuzz) and against the DuckDB mirror, plus the lossless-reconstruction
invariant (inputs + targets rebuild the original sequence exactly).
"""

from __future__ import annotations

import math

import duckdb
import pytest

from tests.conftest import SF_SMALL
from tokforge.pipeline.corrupt import (
    CORRUPT_SENT_BASE,
    CORRUPT_SENT_RANGE,
    span_corrupt,
    sql_span_corrupt,
)
from tokforge.sources.requests import requests_df, sql_requests_cte

BLOCK = 8
MILLIS = 250
SEED = 1


def py_corrupt(doc_num, tokens, block=BLOCK, millis=MILLIS, seed=SEED):
    n = len(tokens)
    nb = (n + block - 1) // block
    # C-style remainder (Spark / DuckDB): a negative residue masks
    mask = [
        math.fmod(doc_num * 104651 + (k + seed) * 95231, 1000) < millis
        for k in range(nb)
    ]
    inputs, targets, j = [], [], 0
    for k in range(nb):
        blk = list(tokens[k * block : (k + 1) * block])
        if mask[k]:
            s = CORRUPT_SENT_BASE + j % CORRUPT_SENT_RANGE
            inputs.append(s)
            targets.append(s)
            targets.extend(blk)
            j += 1
        else:
            inputs.extend(blk)
    return sum(mask), inputs, targets


def py_reconstruct(inputs, targets):
    spans, cur = [], None
    for t in targets:
        if t >= CORRUPT_SENT_BASE:
            cur = []
            spans.append(cur)
        else:
            cur.append(t)
    out, j = [], 0
    for t in inputs:
        if t >= CORRUPT_SENT_BASE:
            out.extend(spans[j])
            j += 1
        else:
            out.append(t)
    return out


def _rows(df):
    return sorted(
        (r["doc_id"], r["n_tok"], r["n_masked"], list(r["inputs"]), list(r["targets"]))
        for r in df.collect()
    )


def test_column_face_matches_python(spark):
    req = requests_df(spark, SF_SMALL, "corrupt")
    got = _rows(span_corrupt(req))
    toks = {r["doc_id"]: list(r["tokens"]) for r in req.collect()}
    want = sorted(
        (d, len(t), *py_corrupt(int(d), t)) for d, t in toks.items()
    )
    assert got == want
    assert any(nm > 0 for _, _, nm, _, _ in got), "mask density actually fires"


def test_matches_duckdb_mirror(spark):
    req = requests_df(spark, SF_SMALL, "corrupt")
    got = _rows(span_corrupt(req))
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF_SMALL}/documents.parquet'"
    )
    want = sorted(
        (str(d), int(n), int(nm), list(map(int, i)), list(map(int, t)))
        for d, n, nm, i, t in con.execute(
            f"""WITH {sql_requests_cte()},
{sql_span_corrupt(BLOCK, MILLIS, SEED)}
SELECT doc_id, n_tok, n_masked, inputs, targets FROM corrupted"""
        ).fetchall()
    )
    assert got == want


def test_reconstruction_is_lossless(spark):
    req = requests_df(spark, SF_SMALL, "corrupt")
    toks = {r["doc_id"]: list(r["tokens"]) for r in req.collect()}
    for d, n, nm, inputs, targets in _rows(span_corrupt(req)):
        assert py_reconstruct(inputs, targets) == toks[d]
        assert len(inputs) + len(targets) == n + 2 * nm  # sentinel twice


def test_edge_rows_and_density_bounds(spark):
    rows = [
        ("0", []),  # empty
        ("1", [5]),  # single token, one partial block
        ("2", list(range(17))),  # 2 full blocks + remainder
        ("-3", list(range(9))),  # negative id: truncated remainder
    ]
    df = spark.createDataFrame(rows, "doc_id string, tokens array<int>")
    got = _rows(span_corrupt(df, block=BLOCK, millis=MILLIS, seed=SEED))
    want = sorted((d, len(t), *py_corrupt(int(d), t)) for d, t in rows)
    assert got == want
    # millis=0 masks only negative residues; the non-negative ids keep
    # inputs == tokens, targets empty
    for d, n, nm, i, t in _rows(span_corrupt(df, block=BLOCK, millis=0)):
        if int(d) >= 0:
            assert nm == 0 and t == [] and i == dict(rows)[d]
    # millis=1000: every block masked, inputs are all sentinels
    for d, n, nm, i, t in _rows(span_corrupt(df, block=BLOCK, millis=1000)):
        assert nm == (n + BLOCK - 1) // BLOCK
        assert all(x >= CORRUPT_SENT_BASE for x in i)


def test_seed_changes_mask(spark):
    req = requests_df(spark, SF_SMALL, "corrupt")
    a = {r[0]: r[2] for r in _rows(span_corrupt(req, seed=1))}
    b = {r[0]: r[2] for r in _rows(span_corrupt(req, seed=2))}
    assert a != b, "a new seed gives a new epoch mask"


def test_param_fuzz_both_faces(spark):
    """Random corpora under a parameter grid (block=1 token-level masking,
    odd block sizes, near-0/near-1 densities, different seeds): the kernel
    matches the pure-Python reference exactly."""
    import random

    rng = random.Random(60606)
    rows = [
        (str(i), [rng.randrange(50257) for _ in range(rng.randrange(0, 30))])
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "doc_id string, tokens array<int>")
    for block, millis, seed in [(1, 500, 9), (3, 137, 5), (16, 999, 0), (5, 1, 2)]:
        want = sorted(
            (d, len(t), *py_corrupt(int(d), t, block=block, millis=millis, seed=seed))
            for d, t in rows
        )
        got = _rows(span_corrupt(df, block=block, millis=millis, seed=seed))
        assert got == want, (block, millis, seed)


def test_rejects_bad_params(spark):
    req = requests_df(spark, SF_SMALL, "corrupt")
    with pytest.raises(ValueError):
        span_corrupt(req, millis=1001)
    with pytest.raises(ValueError):
        span_corrupt(req, block=0)
