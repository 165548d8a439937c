"""Weighted deterministic interleave (tokforge/pipeline/interleave.py):
stride-scheduling proportionality, determinism, and a DuckDB mirror at
PREFIX_LEN 1 and 2.
"""

from __future__ import annotations

import math

import duckdb

from tests.conftest import SF_SMALL
from tokforge.pipeline.interleave import weighted_interleave
from tokforge.sources.requests import load_documents

WEIGHTS = {"src0": 4.0, "src1": 2.0, "src2": 1.0}
N_PER_SRC = 25  # sf0.001 documents: 20 sources x 25 docs


def _rows(df):
    return sorted(
        (r["doc_id"], r["source"], r["rank_in_stratum"], round(r["pos"], 9))
        for r in df.select("doc_id", "source", "rank_in_stratum", "pos").collect()
    )


def _ordered(df):
    return [
        (r["source"], r["pos"])
        for r in df.orderBy("pos", "__key", "doc_id").collect()
    ]


def test_only_listed_strata_and_full_ranks(spark):
    docs = load_documents(spark, SF_SMALL)
    out = weighted_interleave(docs, WEIGHTS)
    rows = _rows(out)
    assert {s for _, s, _, _ in rows} == set(WEIGHTS)
    for s in WEIGHTS:
        ranks = sorted(k for _, src, k, _ in rows if src == s)
        assert ranks == list(range(1, N_PER_SRC + 1))


def test_stride_proportionality_exact(spark):
    """Any prefix ending at position P holds min(floor(P*w_s), n_s) docs
    of stratum s — the stride-scheduling invariant, checked exactly."""
    docs = load_documents(spark, SF_SMALL)
    order = _ordered(weighted_interleave(docs, WEIGHTS))
    for P in (0.9, 1.0, 2.5, 5.0, 7.75, 12.5, 25.0):
        got = {s: 0 for s in WEIGHTS}
        for s, pos in order:
            if pos <= P + 1e-12:
                got[s] += 1
        for s, w in WEIGHTS.items():
            expect = min(math.floor(P * w + 1e-9), N_PER_SRC)
            assert got[s] == expect, (s, P, got[s], expect)


def test_deterministic_under_repartitioning(spark):
    docs = load_documents(spark, SF_SMALL)
    a = _rows(weighted_interleave(docs, WEIGHTS))
    b = _rows(weighted_interleave(docs.repartition(7, "doc_id"), WEIGHTS))
    assert a == b


def test_matches_duckdb_oracle(spark, monkeypatch):
    docs = load_documents(spark, SF_SMALL)
    con = duckdb.connect()
    cases = " ".join(
        f"WHEN source = '{s}' THEN {w}" for s, w in WEIGHTS.items()
    )
    want = sorted(
        (int(d), s, int(k), round(p, 9))
        for d, s, k, p in con.execute(
            f"""
        WITH d AS (
          SELECT doc_id, source,
                 md5(CAST(doc_id AS VARCHAR)) AS k,
                 CASE {cases} END AS w
          FROM '{SF_SMALL}/documents.parquet'
        )
        SELECT doc_id, source,
               row_number() OVER (PARTITION BY source ORDER BY k, doc_id) AS rnk,
               CAST(row_number() OVER (PARTITION BY source ORDER BY k, doc_id)
                    AS DOUBLE) / w AS pos
        FROM d WHERE w IS NOT NULL
        """
        ).fetchall()
    )
    for prefix_len in (1, 2):
        monkeypatch.setattr("tokforge.pipeline.sample.PREFIX_LEN", prefix_len)
        got = _rows(weighted_interleave(docs, WEIGHTS))
        assert got == want, f"PREFIX_LEN={prefix_len} diverges"


def test_temperature_weights_match_duckdb_and_compose(spark):
    """mT5-style temperature mixing (round 7): weights (n_s/n)^alpha are
    bit-identical to the DuckDB rendering (same integer counts, same
    IEEE pow), obey the alpha edges, and feed weighted_interleave
    directly."""
    import duckdb

    from tokforge.pipeline.interleave import temperature_weights, weighted_interleave
    from tokforge.sources.requests import load_documents

    docs = load_documents(spark, SF_SMALL)
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF_SMALL}/documents.parquet'"
    )
    for alpha in (0.0, 0.3, 1.0):
        got = temperature_weights(docs, alpha)
        want = dict(
            con.execute(
                f"""WITH c AS (
  SELECT source, CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n
  FROM documents GROUP BY 1
)
SELECT source,
       pow(CAST(n AS DOUBLE) / (SELECT CAST(sum(n) AS DOUBLE) FROM c), {alpha})
FROM c"""
            ).fetchall()
        )
        assert got == want, alpha
    uniform = temperature_weights(docs, 0.0)
    assert set(uniform.values()) == {1.0}
    natural = temperature_weights(docs, 1.0)
    # alpha=1 reproduces natural proportions (weights sum to 1)
    assert abs(sum(natural.values()) - 1.0) < 1e-12
    # temperature flattens: the head/tail ratio shrinks monotonically
    t03 = temperature_weights(docs, 0.3)
    spread = lambda w: max(w.values()) / min(w.values())
    assert spread(t03) < spread(natural)
    # and the derived weights drive the interleave deterministically
    a = weighted_interleave(docs, t03).select("doc_id", "pos").collect()
    b = weighted_interleave(docs.repartition(7), t03).select("doc_id", "pos").collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))

    import pytest

    with pytest.raises(ValueError):
        temperature_weights(docs, 1.5)
    with pytest.raises(ValueError):
        temperature_weights(docs, 0.3, max_strata=2)
