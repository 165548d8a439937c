"""End-to-end corpus assembly: the five round-5 stages composed the way
a training-data pipeline actually runs them —

    near-dup keep-canonical -> decontamination screen ->
    token-budget sample -> weighted interleave -> sequence packing

on the real documents feed, with cross-stage invariants asserted (each
stage's output is a strict filter/annotation of the previous one; the
final training order is deterministic and budget-bounded).

Every stage ends with ``stage_boundary`` (pipeline/stage.py): the
assembly ops each embed their child plan twice, so composing them in
ONE lineage grows the logical tree exponentially — persist() does not
help (Catalyst still re-optimizes the full tree per action); cutting
lineage at the boundary does, and mirrors the durable parquet handoff
the pipeline uses between stages in production.
"""

from __future__ import annotations

import pyspark.sql.functions as F

from tests.conftest import SF_SMALL
from tokforge.pipeline.decontam import decontaminate
from tokforge.pipeline.dedup import keep_canonical, q_lsh_pairs
from tokforge.pipeline.interleave import weighted_interleave
from tokforge.pipeline.pack import pack_sequences
from tokforge.pipeline.sample import budget_sample
from tokforge.pipeline.stage import stage_boundary
from tokforge.sources.requests import load_documents

BUDGET = 1500
SEQ_LEN = 128
MOD = 97


def test_full_assembly_chain(spark, tmp_path):
    docs = load_documents(spark, SF_SMALL)
    n_all = docs.count()

    # 1. near-dup decision: LSH pairs -> clusters -> canonical keeps
    pairs = q_lsh_pairs(spark, SF_SMALL).select("doc_a", "doc_b")
    decided, _labels = keep_canonical(
        docs.withColumn("doc_id", F.col("doc_id").cast("string")), pairs
    )
    kept = stage_boundary(
        decided.filter("keep").withColumn("doc_id", F.col("doc_id").cast("long"))
    )
    n_kept = kept.count()
    assert 0 < n_kept <= n_all

    # 2. decontamination against the synthetic eval slice — this stage
    # exercises the DURABLE parquet boundary form
    eval_df = docs.filter(F.col("doc_id") % MOD == 0)
    screened = stage_boundary(
        decontaminate(kept, eval_df).filter(~F.col("contaminated")),
        str(tmp_path / "screened"),
    )
    n_screened = screened.count()
    assert 0 < n_screened <= n_kept

    # 3. per-language token budget (overshoot bounded by one document)
    sample = stage_boundary(budget_sample(screened, BUDGET))
    per_lang = {
        r["lang"]: (r["tot"], r["mx"])
        for r in sample.groupBy("lang")
        .agg(F.sum("w").alias("tot"), F.max("w").alias("mx"))
        .collect()
    }
    assert per_lang and all(t < BUDGET + mx for t, mx in per_lang.values())

    # 4. weighted interleave of the sampled corpus by source
    srcs = sorted(r[0] for r in sample.select("source").distinct().collect())[:3]
    weights = {s: float(i + 1) for i, s in enumerate(srcs)}
    mixed = stage_boundary(
        weighted_interleave(sample.drop("w", "cum"), weights)
    )
    order = [
        r["doc_id"] for r in mixed.orderBy("pos", "__key", "doc_id").collect()
    ]
    assert order and len(order) == len(set(order))

    # 5. pack the mixed corpus into fixed-length sequences
    packed = pack_sequences(mixed.drop("w"), SEQ_LEN)
    rows = packed.select("lang", "w", "cum_before", "chunk_first").collect()
    assert rows
    by_lang = {}
    for r in rows:
        by_lang.setdefault(r["lang"], []).append(r)
    for lang, rs in by_lang.items():
        rs.sort(key=lambda r: r["cum_before"])
        expect = 0
        for r in rs:
            assert r["cum_before"] == expect, (lang, r)
            assert r["chunk_first"] == r["cum_before"] // SEQ_LEN
            expect += r["w"]

    # determinism: the sample+interleave replayed from the same screened
    # corpus yields the identical training order
    sample2 = stage_boundary(budget_sample(screened, BUDGET))
    mixed2 = weighted_interleave(sample2.drop("w", "cum"), weights)
    order2 = [
        r["doc_id"] for r in mixed2.orderBy("pos", "__key", "doc_id").collect()
    ]
    assert order2 == order


def test_full_product_chain_matches_composed_mirror(spark):
    """Round-7: the ENTIRE r5+r6 chain composed as one lineage (gate ->
    span removal -> exact dedup -> SimHash collapse -> decontam ->
    hash split -> budget sample -> interleave -> pack map -> epoch
    order) equals the single composed DuckDB mirror — the gated
    corpus_product row's oracle — and the cross-layer invariants hold."""
    import duckdb

    from tokforge.pipeline.product import (
        BUDGET,
        SEQ_LEN,
        _sql_corpus_product,
        corpus_product,
    )

    out = corpus_product(spark, SF_SMALL)
    rows = out.collect()
    got = sorted(map(tuple, rows))
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF_SMALL}/documents.parquet'"
    )
    want = sorted(map(tuple, con.execute(_sql_corpus_product()).fetchall()))
    assert len(got) == len(want) and got, len(got)
    assert got == want

    # cross-layer invariants on the Spark product
    by_strat = {}
    for r in rows:
        by_strat.setdefault((r["split"], r["lang"]), []).append(r)
    assert len({r["split"] for r in rows}) == 2, "both splits survive"
    steps = sorted(r["step"] for r in rows)
    assert steps == list(range(len(rows))), "epoch order is a permutation"
    for (split, lang), rs in by_strat.items():
        rs.sort(key=lambda r: r["cum_before"])
        expect = 0
        for r in rs:
            # pack tiling is gap-free over the EDITED token weights
            assert r["cum_before"] == expect, (split, lang, r)
            assert r["chunk_first"] == r["cum_before"] // SEQ_LEN
            assert r["offset"] == r["cum_before"] % SEQ_LEN
            expect += r["n_tok_final"]
        # budget bound: total < BUDGET + max single doc
        tot = sum(r["n_tok_final"] for r in rs)
        assert tot < BUDGET + max(r["n_tok_final"] for r in rs)
    # dedup actually bit: the digests are unique across the product
    digs = [r["tokens_md5"] for r in rows]
    assert len(digs) == len(set(digs))
