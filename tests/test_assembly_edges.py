"""Edge-case grid for the corpus-assembly ops on a hostile synthetic
corpus (empty text, single-word docs, a one-doc stratum, huge ids,
extreme budgets / sequence lengths), each point checked against the
DuckDB mirror so the Spark and SQL renderings cannot drift at the
boundaries the sf-data tests never hit.
"""

from __future__ import annotations

import duckdb
import pytest

from tokforge.pipeline.pack import pack_sequences
from tokforge.pipeline.sample import budget_sample

ROWS = [
    # (doc_id, lang, text)
    (1, "aa", ""),                      # empty text -> w=1 (one empty token)
    (2, "aa", "x"),                     # single word
    (3, "aa", "a b c d e f g h"),
    (4, "aa", "lorem ipsum dolor sit amet"),
    (8589934592, "aa", "big id doc"),   # > 2^32
    (5, "bb", "only doc in stratum"),
    (6, "cc", "t1 t2"),
    (7, "cc", "u1 u2 u3 u4 u5 u6 u7 u8 u9 u10 u11 u12"),
    (9, "cc", "v1"),
]


@pytest.fixture(scope="module")
def corpus(spark):
    return spark.createDataFrame(ROWS, ["doc_id", "lang", "text"])


def _con():
    con = duckdb.connect()
    con.execute("CREATE TABLE docs (doc_id BIGINT, lang VARCHAR, text VARCHAR)")
    con.executemany("INSERT INTO docs VALUES (?, ?, ?)", ROWS)
    return con


@pytest.mark.parametrize("budget", [0, 1, 3, 7, 26, 10**6])
@pytest.mark.parametrize("prefix_len", [1, 2])
def test_sampler_edges_vs_duckdb(corpus, budget, prefix_len, monkeypatch):
    monkeypatch.setattr("tokforge.pipeline.sample.PREFIX_LEN", prefix_len)
    got = sorted(
        (r["doc_id"], r["lang"], r["w"], r["cum"])
        for r in budget_sample(corpus, budget)
        .select("doc_id", "lang", "w", "cum")
        .collect()
    )
    want = sorted(
        (int(d), l, int(w), int(c))
        for d, l, w, c in _con().execute(
            f"""
        WITH d AS (
          SELECT doc_id, lang, len(string_split(text, ' ')) AS w,
                 md5(CAST(doc_id AS VARCHAR)) AS k
          FROM docs
        ), c AS (
          SELECT doc_id, lang, w,
                 sum(w) OVER (PARTITION BY lang ORDER BY k, doc_id
                              ROWS UNBOUNDED PRECEDING) AS cum
          FROM d
        )
        SELECT doc_id, lang, w, cum FROM c WHERE cum - w < {budget}
        """
        ).fetchall()
    )
    assert got == want
    if budget == 0:
        assert got == []  # budget 0 admits nothing, identically on both sides


@pytest.mark.parametrize("seq_len", [1, 4, 128, 10**6])
def test_pack_edges_vs_duckdb(corpus, seq_len):
    got = sorted(
        (r["doc_id"], r["cum_before"], r["chunk_first"], r["chunk_last"], r["offset"])
        for r in pack_sequences(corpus, seq_len)
        .select("doc_id", "cum_before", "chunk_first", "chunk_last", "offset")
        .collect()
    )
    want = sorted(
        (int(d), int(cb), int(cf), int(cl), int(o))
        for d, cb, cf, cl, o in _con().execute(
            f"""
        WITH d AS (
          SELECT doc_id, lang, len(string_split(text, ' ')) AS w,
                 md5(CAST(doc_id AS VARCHAR)) AS k
          FROM docs
        ), c AS (
          SELECT doc_id, w,
                 COALESCE(sum(w) OVER (PARTITION BY lang ORDER BY k, doc_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                          0) AS cum_before
          FROM d
        )
        SELECT doc_id, cum_before,
               cum_before // {seq_len} AS chunk_first,
               (cum_before + w - 1) // {seq_len} AS chunk_last,
               cum_before % {seq_len} AS "offset"
        FROM c
        """
        ).fetchall()
    )
    assert got == want
    # seq_len=1: every token is its own chunk -> chunk_last - chunk_first = w-1
    if seq_len == 1:
        by_id = {d: (cb, cf, cl) for d, cb, cf, cl, _ in got}
        w_of = {r[0]: len(r[2].split(" ")) for r in ROWS}
        for d, (cb, cf, cl) in by_id.items():
            assert cl - cf == w_of[d] - 1
