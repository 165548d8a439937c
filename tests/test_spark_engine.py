"""Spark engine integration: the Arrow transform pass must equal the
numpy kernel row-for-row (token-array equality, the per-row invariant),
and the error channel must carry parse/validation failures."""

from __future__ import annotations

import numpy as np
import pyspark.sql.functions as F
import pytest

from tests.conftest import SF_SMALL
from tokforge.engine.config import EngineConfig
from tokforge.engine.transform import cache_key_col, make_sign_udf
from tokforge.engine.transform_arrow import transform_requests_arrow
from tokforge.operators.kernel import apply_plan
from tokforge.plans.options import parse_chain
from tokforge.sources.requests import requests_df

CHAIN = (
    "resize:fill:128:0:1:1/gravity:ce/padding:4/rotate:90/brightness:25/"
    "watermark:0.6:soea/background:336699/quality:80/format:jpeg"
)


def test_engine_matches_kernel_rowwise(spark):
    req = requests_df(spark, SF_SMALL, CHAIN)
    inputs = {
        r["doc_id"]: r
        for r in req.select("doc_id", "tokens", "orientation", "src_dtype").collect()
    }
    out = transform_requests_arrow(req, EngineConfig(), verify=False)
    rows = out.select("doc_id", "tokens_out", "dtype", "size_bytes", "error").collect()
    assert len(rows) == len(inputs) > 0
    plan = parse_chain(CHAIN)
    for r in rows:
        assert r["error"] is None
        src = inputs[r["doc_id"]]
        expected = apply_plan(
            np.array(src["tokens"]),
            plan,
            orientation=src["orientation"],
            src_dtype=src["src_dtype"],
        )
        assert list(r["tokens_out"]) == list(expected.tokens)
        assert r["dtype"] == expected.dtype
        assert r["size_bytes"] == expected.size_bytes


def test_error_channel_carries_parse_failures(spark):
    req = requests_df(spark, SF_SMALL, "rotate:45/format:png").limit(5)
    out = transform_requests_arrow(req, EngineConfig(), verify=False)
    errs = [r["error"] for r in out.select("error").collect()]
    assert all(e == "rotation must be one of: 0, 90, 180, 270" for e in errs)


def test_unsupported_format_error(spark):
    req = requests_df(spark, SF_SMALL, "format:bmp").limit(3)
    out = transform_requests_arrow(req, EngineConfig(), verify=False)
    errs = [r["error"] for r in out.select("error").collect()]
    assert all(e == "Unsupported format: bmp" for e in errs)


def test_signature_verification_end_to_end(spark):
    cfg = EngineConfig()
    req = requests_df(spark, SF_SMALL, "crop:8:0/format:png").limit(10)
    sign = make_sign_udf(cfg)
    req = req.withColumn("sig", sign(F.col("ops"), F.col("doc_id")))
    # tamper with half the rows
    req = req.withColumn(
        "sig",
        F.when(F.col("doc_id").cast("long") % 2 == 0, F.concat("sig", F.lit("x")))
        .otherwise(F.col("sig")),
    )
    out = transform_requests_arrow(req, cfg, verify=True)
    for r in out.select("doc_id", "sig_valid").collect():
        assert r["sig_valid"] == (int(r["doc_id"]) % 2 == 1)


def test_presets_expand_in_engine(spark):
    cfg = EngineConfig(presets=(("th", "resize:fit:4:0:0:0/format:png"),))
    req = requests_df(spark, SF_SMALL, "preset:th").limit(4)
    out = transform_requests_arrow(req, cfg, verify=False)
    for r in out.select("n_tok", "n_out").collect():
        assert r["n_out"] == min(4, r["n_tok"])


def test_cache_key_default_format_prefix(spark):
    df = spark.createDataFrame(
        [("d1", "crop:4:0"), ("d2", "crop:4:0/format:png")], ["doc_id", "ops"]
    )
    keys = {
        r["doc_id"]: r["k"]
        for r in df.select("doc_id", cache_key_col().alias("k")).collect()
    }
    assert keys["d1"] == "src:/crop:4:0/d1"  # implicit format -> prefixed
    assert keys["d2"] == "/crop:4:0/format:png/d2"


def test_expired_rows_flagged(spark):
    req = requests_df(spark, SF_SMALL, "expires:1704070800/format:png")
    out = transform_requests_arrow(req, EngineConfig(), verify=False)
    for r in out.select("doc_id", "error").collect():
        expired = int(r["doc_id"]) % 7200 > 3600
        assert (r["error"] == "Request expired") == expired


def test_mime_allowlist_rejects_disallowed_dtypes(spark):
    cfg = EngineConfig(allowed_src_dtypes=("int32",))
    req = requests_df(spark, SF_SMALL, "crop:4:0/format:png").limit(9)
    out = transform_requests_arrow(req, cfg, verify=False)
    for r in out.select("doc_id", "error").collect():
        disallowed = int(r["doc_id"]) % 3 != 0  # src_dtype cycles by doc_id%3
        assert (r["error"] == "Source type not allowed") == disallowed


def test_bearer_gate_filters_rows(spark):
    cfg = EngineConfig(bearer_token="s3cret")
    req = requests_df(spark, SF_SMALL, "crop:4:0/format:png").limit(10)
    req = req.withColumn(
        "bearer",
        F.when(F.col("doc_id").cast("long") % 2 == 0, "s3cret").otherwise("wrong"),
    )
    out = transform_requests_arrow(req, cfg, verify=False)
    docs = [int(r["doc_id"]) for r in out.select("doc_id").collect()]
    assert docs and all(d % 2 == 0 for d in docs)


def test_batch_cache_hit_miss_analog(spark):
    """The batch HIT/MISS analog (formerly driver-gated; the slot now gates
    the stream-stream join): 3 event-time replicas per key -> exactly one
    MISS (the earliest) and two HITs per document."""
    from tokforge.engine.queries import q_cache_hit_miss

    rows = q_cache_hit_miss(spark, SF_SMALL).collect()
    per_doc: dict = {}
    for r in rows:
        per_doc.setdefault(r["doc_id"], []).append((r["rep"], r["cache_status"]))
    for doc, pairs in per_doc.items():
        statuses = dict(pairs)
        assert statuses == {0: "MISS", 1: "HIT", 2: "HIT"}, (doc, statuses)
