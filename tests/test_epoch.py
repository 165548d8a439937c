"""Deterministic per-epoch ordering + mid-epoch resume
(tokforge/pipeline/epoch.py): permutation properties, resume-is-a-suffix,
a DuckDB mirror at PREFIX_LEN 1 and 2, and composition with the
packed-chunk emitter.
"""

from __future__ import annotations

import duckdb

from tests.conftest import SF_SMALL
from tokforge.pipeline.epoch import (
    EPOCH_SEED,
    epoch_order,
    resume_from_step,
)
from tokforge.sources.requests import load_documents


def _docs(spark):
    return load_documents(spark, SF_SMALL).select("doc_id", "source")


def _order(df, id_cols=("doc_id",)):
    return [
        tuple(r[c] for c in id_cols)
        for r in df.orderBy("step").select(*id_cols).collect()
    ]


def _steps(df):
    return sorted(r["step"] for r in df.select("step").collect())


def test_step_is_dense_zero_based(spark):
    d = _docs(spark)
    out = epoch_order(d, epoch=0, id_cols=("doc_id",))
    n = d.count()
    assert _steps(out) == list(range(n))


def test_epochs_are_distinct_deterministic_permutations(spark):
    d = _docs(spark)
    e0a = _order(epoch_order(d, epoch=0, id_cols=("doc_id",)))
    e0b = _order(epoch_order(d.repartition(7, "doc_id"), epoch=0, id_cols=("doc_id",)))
    e1 = _order(epoch_order(d, epoch=1, id_cols=("doc_id",)))
    assert e0a == e0b  # deterministic under repartitioning
    assert sorted(e0a) == sorted(e1)  # same multiset...
    assert e0a != e1  # ...different order per epoch


def test_resume_is_exact_suffix(spark):
    d = _docs(spark)
    full = epoch_order(d, epoch=2, id_cols=("doc_id",))
    order = _order(full)
    n = len(order)
    for step in (0, 1, n // 2, n - 1, n):
        resumed = _order(resume_from_step(full, step))
        assert resumed == order[step:], f"step={step}"


def test_matches_duckdb_oracle(spark, monkeypatch):
    con = duckdb.connect()
    ref = sorted(
        (r[0], r[1])
        for r in con.execute(
            f"""
            SELECT doc_id,
                   ROW_NUMBER() OVER (
                     ORDER BY md5(concat_ws(':', '{EPOCH_SEED}', '5',
                                            CAST(doc_id AS VARCHAR))),
                              doc_id) - 1 AS step
            FROM '{SF_SMALL}/documents.parquet'
            """
        ).fetchall()
    )
    for prefix_len in (1, 2):
        monkeypatch.setattr("tokforge.pipeline.sample.PREFIX_LEN", prefix_len)
        got = sorted(
            (r["doc_id"], r["step"])
            for r in epoch_order(_docs(spark), epoch=5, id_cols=("doc_id",)).collect()
        )
        assert got == ref, f"PREFIX_LEN={prefix_len} diverges"


def test_composes_with_packed_chunks_composite_id(spark):
    """The intended composition: order the (lang, chunk_id) sequences
    emit_chunks materializes.  Composite id -> still a dense 0-based
    permutation, stable across epochs as a set."""
    from tokforge.pipeline.pack import q_pack_chunks

    chunks = q_pack_chunks(spark, SF_SMALL)
    out = epoch_order(chunks, epoch=0, id_cols=("lang", "chunk_id"))
    n = chunks.count()
    assert _steps(out) == list(range(n))
    e1 = epoch_order(chunks, epoch=1, id_cols=("lang", "chunk_id"))
    a = _order(out, id_cols=("lang", "chunk_id"))
    b = _order(e1, id_cols=("lang", "chunk_id"))
    assert sorted(a) == sorted(b) and a != b
