"""Sequence packing (tokforge/pipeline/pack.py): no-gap/no-overlap chunk
coverage, boundary spans, determinism, and DuckDB mirrors of the map and
the emitted chunks at PREFIX_LEN 1 and 2.
"""

from __future__ import annotations

import duckdb
import pyspark.sql.functions as F

from tests.conftest import SF_SMALL
from tokforge.pipeline.pack import pack_sequences, q_pack
from tokforge.sources.requests import load_documents

L = 256


def _rows(df):
    return sorted(
        (
            r["doc_id"],
            r["lang"],
            r["w"],
            r["cum_before"],
            r["chunk_first"],
            r["chunk_last"],
            r["offset"],
        )
        for r in df.collect()
    )


def test_packing_covers_stratum_without_gaps(spark):
    """Per stratum, docs in order tile the token line exactly: each doc
    starts where the previous ended, chunk ids follow floor arithmetic,
    and chunks 0..last are all used."""
    out = q_pack(spark, SF_SMALL, L).collect()
    by_lang = {}
    for r in out:
        by_lang.setdefault(r["lang"], []).append(r)
    assert len(by_lang) == 5
    for lang, rows in by_lang.items():
        rows.sort(key=lambda r: r["cum_before"])
        expect_start = 0
        for r in rows:
            assert r["cum_before"] == expect_start, (lang, r)
            assert r["chunk_first"] == r["cum_before"] // L
            assert r["chunk_last"] == (r["cum_before"] + r["w"] - 1) // L
            assert r["offset"] == r["cum_before"] % L
            assert r["chunk_last"] >= r["chunk_first"]
            expect_start += r["w"]
        used = set()
        for r in rows:
            used.update(range(r["chunk_first"], r["chunk_last"] + 1))
        assert used == set(range(max(used) + 1)), f"{lang}: chunk gaps"


def test_boundary_spans_exist_and_are_consistent(spark):
    """The fixture must exercise boundary-crossing docs, and a doc spans
    iff offset + w > L."""
    rows = q_pack(spark, SF_SMALL, L).collect()
    spans = [r for r in rows if r["chunk_last"] > r["chunk_first"]]
    assert spans, "fixture must produce boundary-crossing docs"
    for r in rows:
        assert (r["chunk_last"] > r["chunk_first"]) == (r["offset"] + r["w"] > L)


def test_deterministic_under_repartitioning(spark):
    docs = load_documents(spark, SF_SMALL)
    cols = ["doc_id", "lang", "w", "cum_before", "chunk_first", "chunk_last", "offset"]
    a = _rows(pack_sequences(docs, L).select(*cols))
    b = _rows(pack_sequences(docs.repartition(7, "doc_id"), L).select(*cols))
    assert a == b


def test_matches_duckdb_oracle(spark, monkeypatch):
    con = duckdb.connect()
    want = sorted(
        (int(d), lang, int(w), int(cb), int(cf), int(cl), int(o))
        for d, lang, w, cb, cf, cl, o in con.execute(
            f"""
        WITH d AS (
          SELECT doc_id, lang,
                 len(string_split(text, ' ')) AS w,
                 md5(CAST(doc_id AS VARCHAR)) AS k
          FROM '{SF_SMALL}/documents.parquet'
        ), c AS (
          SELECT doc_id, lang, w,
                 COALESCE(sum(w) OVER (PARTITION BY lang ORDER BY k, doc_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                          0) AS cum_before
          FROM d
        )
        SELECT doc_id, lang, w, cum_before,
               cum_before // {L} AS chunk_first,
               (cum_before + w - 1) // {L} AS chunk_last,
               cum_before % {L} AS "offset"
        FROM c
        """
        ).fetchall()
    )
    for prefix_len in (1, 2):
        monkeypatch.setattr("tokforge.pipeline.sample.PREFIX_LEN", prefix_len)
        got = _rows(q_pack(spark, SF_SMALL, L))
        assert got == want, f"PREFIX_LEN={prefix_len} diverges"


def test_emit_chunks_materializes_gapfree_sequences(spark):
    """The materialized chunks tile each stratum exactly: chunk ids are
    contiguous from 0, every chunk holds seq_len tokens except the final
    one, and re-concatenating chunks in order reproduces the md5-ordered
    document token stream (the emitter agrees with the map it emits from)."""
    from tokforge.pipeline.pack import emit_chunks

    docs = load_documents(spark, SF_SMALL)
    chunks = emit_chunks(docs, L).collect()
    mapped = q_pack(spark, SF_SMALL, L).collect()

    by_lang = {}
    for r in chunks:
        by_lang.setdefault(r["lang"], []).append(r)
    tot_by_lang = {}
    for r in mapped:
        tot_by_lang[r["lang"]] = tot_by_lang.get(r["lang"], 0) + r["w"]
    assert set(by_lang) == set(tot_by_lang)

    for lang, rows in by_lang.items():
        rows.sort(key=lambda r: r["chunk_id"])
        ids = [r["chunk_id"] for r in rows]
        assert ids == list(range(len(rows))), f"{lang}: chunk-id gaps"
        for r in rows[:-1]:
            assert r["n_fill"] == L and len(r["tokens"]) == L, (lang, r["chunk_id"])
        last = rows[-1]
        assert 1 <= last["n_fill"] == len(last["tokens"]) <= L
        assert sum(r["n_fill"] for r in rows) == tot_by_lang[lang]

    # token-level agreement with the map: each doc's slice of the
    # reassembled stream equals its own split text
    stream = {
        lang: [t for r in rows for t in r["tokens"]] for lang, rows in by_lang.items()
    }
    texts = {r["doc_id"]: r["text"] for r in docs.select("doc_id", "text").collect()}
    for m in mapped:
        seg = stream[m["lang"]][m["cum_before"] : m["cum_before"] + m["w"]]
        assert seg == texts[m["doc_id"]].split(" "), m["doc_id"]


def test_emit_chunks_bucketed_equals_reference_and_oracle(spark, monkeypatch):
    """The emitted chunks match the DuckDB mirror digest (the gated
    q_pack_chunks face) at PREFIX_LEN 1 and 2."""
    from tokforge.pipeline.pack import SQL_PACK_CHUNKS, q_pack_chunks

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF_SMALL}/documents.parquet'"
    )
    want = sorted(tuple(r) for r in con.execute(SQL_PACK_CHUNKS).fetchall())
    for prefix_len in (1, 2):
        monkeypatch.setattr("tokforge.pipeline.sample.PREFIX_LEN", prefix_len)
        got = sorted(tuple(r) for r in q_pack_chunks(spark, SF_SMALL).collect())
        assert got == want, f"PREFIX_LEN={prefix_len} diverges"


def test_emit_chunks_zero_weight_docs_emit_nothing(spark):
    """Round-7 guard: an empty tokens array whose cum_before is an exact
    seq_len multiple must NOT mint a spurious empty chunk (F.sequence
    would step DOWN from chunk_first to chunk_first-1).  A stratum of
    only empty docs emits zero chunks; mixed strata equal the result of
    pre-filtering the empties."""
    from tokforge.pipeline.pack import emit_chunks

    rows = [
        ("z1", "zz", []),
        ("z2", "zz", []),
        ("a1", "aa", [1, 2, 3, 4, 5]),
        ("a2", "aa", []),
        ("a3", "aa", [6, 7, 8]),
    ]
    docs = spark.createDataFrame(rows, "doc_id string, lang string, tokens array<int>")
    got = emit_chunks(docs, 4, tokens_col="tokens").collect()
    assert not [r for r in got if r["lang"] == "zz"]
    want = emit_chunks(docs.filter(F.size("tokens") > 0), 4, tokens_col="tokens").collect()
    key = lambda r: (r["lang"], r["chunk_id"])
    assert sorted((r["lang"], r["chunk_id"], r["tokens"], r["n_fill"]) for r in got) == sorted(
        (r["lang"], r["chunk_id"], r["tokens"], r["n_fill"]) for r in want
    )
    # total tokens preserved
    assert sum(r["n_fill"] for r in got) == 8


def test_chunk_boundaries_match_emitted_tiling(spark):
    """Round 7: the attention-boundary map agrees with the materialized
    chunks — every chunk's boundary offsets are exactly where a new doc's
    tokens begin in the emitted sequence, boundary 0 appears iff the
    chunk starts a document, and a missing map entry means the chunk is
    fully covered by a continuing doc."""
    from tokforge.pipeline.pack import chunk_boundaries, emit_chunks, pack_sequences

    docs = load_documents(spark, SF_SMALL)
    bounds = {
        (r["lang"], r["chunk_id"]): (r["n_starts"], list(r["boundaries"]))
        for r in chunk_boundaries(docs, L).collect()
    }
    assert bounds

    # rebuild expected boundaries from the packing map itself
    mapped = pack_sequences(docs, L).collect()
    expect = {}
    for m in mapped:
        if m["w"] <= 0:
            continue
        key = (m["lang"], m["chunk_first"])
        expect.setdefault(key, []).append(m["offset"])
    expect = {k: (len(v), sorted(v)) for k, v in expect.items()}
    assert bounds == expect

    # chunks missing from the map are mid-document continuations
    chunks = emit_chunks(docs, L).collect()
    all_chunks = {(r["lang"], r["chunk_id"]) for r in chunks}
    covered = set(bounds)
    assert covered <= all_chunks
    for key in all_chunks - covered:
        lang, cid = key
        assert cid > 0, "chunk 0 always starts a document"
    # every offset is a valid in-chunk position
    for (lang, cid), (n, offs) in bounds.items():
        assert n == len(offs) and all(0 <= o < L for o in offs)
