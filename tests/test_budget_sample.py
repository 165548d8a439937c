"""Token-budget stratified sampler (tokforge/pipeline/sample.py):
budget semantics, determinism under repartitioning, a DuckDB mirror of
the whole computation (same md5 order key, same crossing rule) at
PREFIX_LEN 1 and 2, and the scale shape of every running-total op's plan.
"""

from __future__ import annotations

import re

import duckdb
import pyspark.sql.functions as F

from tests.conftest import SF_SMALL
from tokforge.pipeline.epoch import epoch_order
from tokforge.pipeline.interleave import weighted_interleave
from tokforge.pipeline.pack import pack_sequences
from tokforge.pipeline.sample import budget_sample, q_budget_sample
from tokforge.sources.requests import load_documents

BUDGET = 2000  # sf0.001 strata carry ~4k-10k tokens: budget binds everywhere


def _rows(df):
    return sorted(
        (r["doc_id"], r["lang"], r["w"], r["cum"])
        for r in df.select("doc_id", "lang", "w", "cum").collect()
    )


def test_budget_invariants(spark):
    docs = load_documents(spark, SF_SMALL)
    sample = budget_sample(docs, BUDGET)
    per = {
        r["lang"]: (r["tot"], r["mx"], r["n"])
        for r in sample.groupBy("lang")
        .agg(
            F.sum("w").alias("tot"),
            F.max("w").alias("mx"),
            F.count("*").alias("n"),
        )
        .collect()
    }
    full = {
        r["lang"]: r["tot"]
        for r in docs.withColumn("w", F.size(F.split("text", " ")))
        .groupBy("lang")
        .agg(F.sum("w").alias("tot"))
        .collect()
    }
    assert set(per) == set(full), "every stratum is represented"
    for lang, (tot, mx, n) in per.items():
        assert tot >= min(BUDGET, full[lang]), (lang, tot)
        assert tot < BUDGET + mx, f"{lang}: overshoot beyond one document"
        assert n >= 1


def test_tiny_budget_keeps_first_document_only(spark):
    """budget=1: the crossing rule admits exactly the first document (in
    md5-key order) of every stratum — never an empty stratum."""
    docs = load_documents(spark, SF_SMALL)
    sample = budget_sample(docs, 1)
    counts = {r["lang"]: r["n"] for r in sample.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert all(n == 1 for n in counts.values()), counts
    assert len(counts) == 5


def test_deterministic_under_repartitioning(spark):
    docs = load_documents(spark, SF_SMALL)
    a = _rows(budget_sample(docs, BUDGET))
    b = _rows(budget_sample(docs.repartition(7, "doc_id"), BUDGET))
    assert a == b


def test_matches_duckdb_oracle(spark, monkeypatch):
    con = duckdb.connect()
    want = sorted(
        (int(d), l, int(w), int(c))
        for d, l, w, c in con.execute(
            f"""
        WITH d AS (
          SELECT doc_id, lang,
                 len(string_split(text, ' ')) AS w,
                 md5(CAST(doc_id AS VARCHAR)) AS k
          FROM '{SF_SMALL}/documents.parquet'
        ), c AS (
          SELECT doc_id, lang, w,
                 sum(w) OVER (PARTITION BY lang ORDER BY k, doc_id
                              ROWS UNBOUNDED PRECEDING) AS cum
          FROM d
        )
        SELECT doc_id, lang, w, cum FROM c WHERE cum - w < {BUDGET}
        """
        ).fetchall()
    )
    for prefix_len in (1, 2):
        monkeypatch.setattr("tokforge.pipeline.sample.PREFIX_LEN", prefix_len)
        got = _rows(q_budget_sample(spark, SF_SMALL, BUDGET))
        assert got == want, f"PREFIX_LEN={prefix_len} diverges"


def _executed_plan(df) -> str:
    df.collect()  # AQE: the final plan exists only after execution
    return df._jdf.queryExecution().executedPlan().toString()


def test_bucket_pruning_in_plan(spark):
    """The 100 TB shape of every running-total op, in the executed plan:
    each row-level Window (the one ordered by ``__key``) partitions by
    ``__bucket``, and the offsets arrive through a broadcast.  The budget
    sampler also prunes full buckets BEFORE the per-bucket sort: the
    offsets side filters ``__offset < budget``."""
    docs = load_documents(spark, SF_SMALL)
    plans = {
        name: _executed_plan(df)
        for name, df in {
            "budget_sample": budget_sample(docs, BUDGET),
            "weighted_interleave": weighted_interleave(docs, {"src0": 1.0}),
            "pack_sequences": pack_sequences(docs, 256),
            "epoch_order": epoch_order(docs, epoch=0, id_cols=("doc_id",)),
        }.items()
    }
    for name, plan in plans.items():
        # Window [exprs], [partition keys], [order keys]
        specs = re.findall(r"Window \[.*\], \[([^\]]*)\], \[([^\]]*)\]$", plan, re.M)
        row_level = [part for part, order in specs if "__key" in order]
        assert row_level, f"{name}: no row-level window\n{plan}"
        assert all("__bucket" in part for part in row_level), f"{name}\n{plan}"
        assert "BroadcastHashJoin" in plan and "BroadcastExchange" in plan, (
            f"{name}\n{plan}"
        )
    assert re.search(
        rf"coalesce\(_we\d+#\d+L, 0\) < {BUDGET}", plans["budget_sample"]
    ), "budget sampler must prune full buckets before the sort"
