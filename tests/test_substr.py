"""Substring-level duplicate analysis (tokforge/pipeline/substr.py):
crafted shared-passage / intra-doc-repeat / overlap-merge cases, a
hash-faithful pure-Python reference on random corpora, DuckDB mirrors
on the requests fixture, and the stride sampling knob.
"""

from __future__ import annotations

import random
from collections import Counter

import duckdb
import pytest

from tests.conftest import SF_SMALL
from tokforge.pipeline.dedup import P, SHINGLE_MULT, sql_kgram_fold
from tokforge.pipeline.substr import (
    dup_coverage,
    duplicate_spans,
    kgram_counts,
    repetition_stats,
)
from tokforge.sources.requests import requests_df, sql_requests_cte

# ---------------------------------------------------------------------------
# Pure-Python reference (same rolling hash as the engine, so gram identity
# matches bit-for-bit; tuple-vs-hash semantic equivalence is pinned by the
# crafted small cases where a 31-bit collision is impossible)
# ---------------------------------------------------------------------------


def py_gram(t, i, k):
    h = t[i] % P
    for j in range(1, k):
        h = (h * SHINGLE_MULT + t[i + j]) % P
    return h


def py_grams(t, k):
    return [py_gram(t, i, k) for i in range(len(t) - k + 1)]


def py_spans(corpus, k, min_count, stride=1):
    c = Counter(g for t in corpus.values() for g in py_grams(t, k))
    out = {}
    for d, t in corpus.items():
        marked = [
            i
            for i, g in enumerate(py_grams(t, k))
            if c[g] >= min_count and i % stride == 0
        ]
        runs = []
        for p in marked:
            if runs and p == runs[-1][1] + stride:
                runs[-1][1] = p
            else:
                runs.append([p, p])
        out[d] = sorted(
            (a, (b - a) // stride + 1, b - a + k) for a, b in runs
        )
    return out


def py_coverage_intervals(corpus, k, min_count, stride=1):
    spans = py_spans(corpus, k, min_count, stride)
    out = {}
    for d in corpus:
        ivs = sorted((s, s + ln - 1) for s, _, ln in spans[d])
        merged = []
        for a, b in ivs:
            if merged and a <= merged[-1][1]:
                merged[-1][1] = max(merged[-1][1], b)
            else:
                merged.append([a, b])
        out[d] = merged
    return out


def py_coverage(corpus, k, min_count, stride=1):
    spans = py_spans(corpus, k, min_count, stride)
    out = {}
    for d, t in corpus.items():
        ivs = sorted((s, s + ln - 1) for s, _, ln in spans[d])
        merged = []
        for a, b in ivs:
            if merged and a <= merged[-1][1]:
                merged[-1][1] = max(merged[-1][1], b)
            else:
                merged.append([a, b])
        dup = sum(b - a + 1 for a, b in merged)
        out[d] = (len(t), dup, round(dup / max(len(t), 1), 6))
    return out


def _df(spark, corpus):
    return spark.createDataFrame(
        [(k, v) for k, v in sorted(corpus.items())], "doc_id string, tokens array<int>"
    ).repartition(3)


def _spans_rows(df):
    return {
        d: sorted((int(s), int(n), int(ln)) for _, s, n, ln in rows)
        for d, rows in _group(df.collect(), lambda r: r["doc_id"]).items()
    }


def _group(rows, key):
    out = {}
    for r in rows:
        out.setdefault(key(r), []).append(
            tuple(r[f] for f in r.__fields__)
        )
    return out


K = 4
MC = 2


def test_shared_passage_detected(spark):
    passage = [100, 101, 102, 103, 104, 105, 106, 107]
    corpus = {
        "a": [1, 2, 3] + passage + [4, 5],
        "b": [9, 8] + passage + [7],
        "c": [20, 21, 22, 23, 24, 25, 26, 27, 28, 29],  # unique content
    }
    got = _spans_rows(duplicate_spans(_df(spark, corpus), k=K, min_count=MC))
    # the 8-token passage has 5 gram starts -> one maximal span of 8 tokens
    assert got.get("a") == [(3, 5, 8)]
    assert got.get("b") == [(2, 5, 8)]
    assert "c" not in got


def test_intra_doc_repeat_counts_as_duplicate(spark):
    chunk = [40, 41, 42, 43]
    corpus = {"a": chunk + [9, 9, 9] + chunk, "b": list(range(100, 120))}
    got = _spans_rows(duplicate_spans(_df(spark, corpus), k=K, min_count=MC))
    assert got.get("a") == [(0, 1, 4), (7, 1, 4)]
    assert "b" not in got


def test_coverage_merges_overlapping_spans(spark):
    # doc a's marked gram starts are {0, 2} (position 1's gram is unique),
    # so its two spans [0..3] and [2..5] OVERLAP: coverage must
    # union-merge to 6 tokens, not double count to 8
    corpus = {
        "a": [1, 2, 3, 4, 9, 5, 70, 71, 72, 73],
        "b": [1, 2, 3, 4, 50, 3, 4, 9, 5, 60],
    }
    want = py_coverage(corpus, K, MC)
    got = {
        r["doc_id"]: (r["n_tok"], r["dup_tokens"], r["dup_ratio"])
        for r in dup_coverage(_df(spark, corpus), k=K, min_count=MC).collect()
    }
    assert got == want
    assert got["a"] == (10, 6, 0.6)


def test_matches_python_reference_random(spark):
    rng = random.Random(4242)
    corpus = {
        str(i): [rng.randrange(6) for _ in range(rng.randrange(0, 40))]
        for i in range(30)
    }
    df = _df(spark, corpus)
    want = {d: s for d, s in py_spans(corpus, K, 3).items() if s}
    assert _spans_rows(duplicate_spans(df, k=K, min_count=3)) == want
    got_cov = {
        r["doc_id"]: (r["n_tok"], r["dup_tokens"], r["dup_ratio"])
        for r in dup_coverage(df, k=K, min_count=3).collect()
    }
    assert got_cov == py_coverage(corpus, K, 3)
    # repetition: engine vs python multiset counting
    got_rep = {
        r["doc_id"]: (r["n_grams"], r["n_distinct_grams"], r["rep_ratio"])
        for r in repetition_stats(df, k=K).collect()
    }
    for d, t in corpus.items():
        gs = py_grams(t, K)
        assert got_rep[d] == (
            len(gs),
            len(set(gs)),
            round((len(gs) - len(set(gs))) / max(len(gs), 1), 6),
        )


def test_stride_sampling(spark):
    rng = random.Random(77)
    corpus = {
        str(i): [rng.randrange(5) for _ in range(30)] for i in range(10)
    }
    got = _spans_rows(duplicate_spans(_df(spark, corpus), k=K, min_count=2, stride=3))
    assert got == {d: s for d, s in py_spans(corpus, K, 2, stride=3).items() if s}
    # Sampled runs MERGE (the round-7 fix): with a long duplicated block,
    # stride=3 must report one span, not per-position k-length singletons.
    block = [1, 2, 3, 4] * 6
    two = {"x": block + [0] + block, "y": block}
    spans3 = _spans_rows(duplicate_spans(_df(spark, two), k=K, min_count=2, stride=3))
    # y = 24 tokens, grams 0..20 all duplicated, sampled 0,3,..,18:
    # ONE merged span of 7 samples covering 18 + K tokens.
    assert spans3["y"] == [(0, 7, 18 + K)]
    assert len(spans3["x"]) == 2  # the '0' separator splits the runs


def test_stride_span_containment(spark):
    # stride <= k => every stride>1 span lies inside a stride=1 merged
    # coverage interval (each sampled gram is genuinely duplicated and
    # adjacent sampled grams abut/overlap in token space).
    rng = random.Random(99)
    corpus = {
        str(i): [rng.randrange(4) for _ in range(50)] for i in range(12)
    }
    df = _df(spark, corpus)
    base = py_coverage_intervals(corpus, K, 2)
    for d, spans in _spans_rows(
        duplicate_spans(df, k=K, min_count=2, stride=3)
    ).items():
        for s, _, ln in spans:
            assert any(a <= s and s + ln - 1 <= b for a, b in base[d]), (
                d, s, ln, base[d],
            )


def test_matches_duckdb_mirror_fixture(spark):
    req = requests_df(spark, SF_SMALL, "substr")
    k, mc = 3, 2
    fold = sql_kgram_fold(k)
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF_SMALL}/documents.parquet'"
    )
    base = f"""WITH {sql_requests_cte()},
gpos AS (
  SELECT doc_id,
         unnest(range(0, n_tok - {k} + 1)) AS pos,
         unnest(list_transform(range(0, n_tok - {k} + 1), s -> {fold})) AS g
  FROM req
),
c AS (SELECT g FROM (SELECT g, count(*) AS cnt FROM gpos GROUP BY 1) WHERE cnt >= {mc}),
m AS (SELECT doc_id, pos FROM gpos JOIN c USING (g)),
r AS (SELECT doc_id, pos,
             pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS rid
      FROM m),
s AS (SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
             CAST(count(*) AS BIGINT) AS n_pos,
             CAST(count(*) + {k - 1} AS BIGINT) AS span_len
      FROM r GROUP BY doc_id, rid)"""
    got = sorted(
        (r["doc_id"], r["span_start"], r["n_pos"], r["span_len"])
        for r in duplicate_spans(req, k=k, min_count=mc).collect()
    )
    want = sorted(
        (str(d), int(s), int(n), int(ln))
        for d, s, n, ln in con.execute(
            base + "\nSELECT doc_id, span_start, n_pos, span_len FROM s"
        ).fetchall()
    )
    assert got == want and len(got) > 0
    # coverage mirror (gaps-and-islands union merge)
    cov_sql = (
        base
        + f""",
i AS (SELECT doc_id, span_start, span_start + span_len - 1 AS span_end FROM s),
j AS (SELECT *, CASE WHEN span_start > coalesce(
        max(span_end) OVER (PARTITION BY doc_id ORDER BY span_start
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
      THEN 1 ELSE 0 END AS ni FROM i),
l AS (SELECT *, sum(ni) OVER (PARTITION BY doc_id ORDER BY span_start) AS island FROM j),
mg AS (SELECT doc_id, island, max(span_end) - min(span_start) + 1 AS ilen
       FROM l GROUP BY 1, 2),
pd AS (SELECT doc_id, sum(ilen) AS dup_tokens FROM mg GROUP BY 1)
SELECT q.doc_id, CAST(q.n_tok AS BIGINT) AS n_tok,
       CAST(coalesce(pd.dup_tokens, 0) AS BIGINT) AS dup_tokens,
       round(CAST(coalesce(pd.dup_tokens, 0) AS DOUBLE) / greatest(q.n_tok, 1), 6) AS dup_ratio
FROM req q LEFT JOIN pd USING (doc_id)"""
    )
    got_cov = sorted(map(tuple, dup_coverage(req, k=k, min_count=mc).collect()))
    want_cov = sorted(
        (str(d), int(n), int(t), float(rt))
        for d, n, t, rt in con.execute(cov_sql).fetchall()
    )
    assert got_cov == want_cov
    # repetition mirror
    rep_sql = f"""WITH {sql_requests_cte()},
g AS (SELECT doc_id,
             list_transform(range(0, n_tok - {k} + 1), s -> {fold}) AS gs
      FROM req)
SELECT doc_id, CAST(len(gs) AS BIGINT) AS n_grams,
       CAST(len(list_distinct(gs)) AS BIGINT) AS n_distinct_grams,
       round(CAST(len(gs) - len(list_distinct(gs)) AS DOUBLE) / greatest(len(gs), 1), 6) AS rep_ratio
FROM g"""
    got_rep = sorted(map(tuple, repetition_stats(req, k=k).collect()))
    want_rep = sorted(
        (str(d), int(n), int(dn), float(rt))
        for d, n, dn, rt in con.execute(rep_sql).fetchall()
    )
    assert got_rep == want_rep


def py_remove(t, spans):
    covered = set()
    for s, ln in spans:
        covered.update(range(max(s, 0), min(s + ln, len(t))))
    return [x for i, x in enumerate(t) if i not in covered]


def test_remove_spans_python_parity(spark):
    from tokforge.pipeline.substr import remove_spans

    corpus = {
        "a": list(range(100, 120)),
        "b": list(range(200, 210)),
        "c": list(range(300, 315)),  # no spans: must pass through
    }
    span_rows = [
        ("a", 2, 5),
        ("a", 4, 6),  # overlaps the first
        ("a", 18, 10),  # runs past the end: clamped
        ("b", 0, 10),  # removes the whole doc
    ]
    spans = spark.createDataFrame(
        span_rows, "doc_id string, span_start long, span_len long"
    )
    got = {
        r["doc_id"]: list(r["tokens"])
        for r in remove_spans(_df(spark, corpus), spans).collect()
    }
    want = {
        d: py_remove(t, [(s, ln) for dd, s, ln in span_rows if dd == d])
        for d, t in corpus.items()
    }
    assert got == want
    assert got["c"] == corpus["c"]
    assert got["b"] == []


def test_remove_detected_spans_composition(spark):
    """Detection feeds removal: cutting every detected span from the
    crafted shared-passage corpus removes exactly the flagged tokens."""
    from tokforge.pipeline.substr import remove_spans

    passage = [100, 101, 102, 103, 104, 105, 106, 107]
    corpus = {
        "a": [1, 2, 3] + passage + [4, 5],
        "b": [9, 8] + passage + [7],
        "c": [20, 21, 22, 23, 24, 25, 26, 27, 28, 29],
    }
    df = _df(spark, corpus)
    spans = duplicate_spans(df, k=K, min_count=MC)
    got = {
        r["doc_id"]: list(r["tokens"])
        for r in remove_spans(df, spans).collect()
    }
    want = {
        d: py_remove(t, [(s, ln) for s, _, ln in py_spans(corpus, K, MC)[d]])
        for d, t in corpus.items()
    }
    assert got == want
    assert got["a"] == [1, 2, 3, 4, 5] and got["b"] == [9, 8, 7]
    assert got["c"] == corpus["c"]


def test_rejects_bad_params(spark):
    req = requests_df(spark, SF_SMALL, "substr")
    with pytest.raises(ValueError):
        duplicate_spans(req, k=4, min_count=1)
    with pytest.raises(ValueError):
        duplicate_spans(req, k=4, min_count=2, stride=0)


def test_kgram_counts_total(spark):
    # sum of counts == total gram positions == sum(max(n_tok - k + 1, 0))
    req = requests_df(spark, SF_SMALL, "substr")
    import pyspark.sql.functions as F

    total = kgram_counts(req, 3).agg(F.sum("cnt")).first()[0]
    want = req.select(
        F.sum(F.greatest(F.size("tokens") - 2, F.lit(0)))
    ).first()[0]
    assert total == want