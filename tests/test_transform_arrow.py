"""One transform core, two callers: the stateful streaming MISS path must
return what the batch Arrow pass returns for the same requests — tokens,
metadata and the error channel — and both must apply the same signature
gate."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from tests.conftest import SF_SMALL
from tokforge.engine.config import EngineConfig
from tokforge.engine.transform import (
    STATUS_BAD_REQUEST,
    STATUS_FORBIDDEN,
    STATUS_NOT_FOUND,
    STATUS_OK,
    cache_key_col,
    make_sign_udf,
)
from tokforge.engine.transform_arrow import transform_requests_arrow
from tokforge.sources.requests import requests_df
from tokforge.streaming.job import read_sink, transform_stream

CFG = EngineConfig()

CHAINS = [
    "resize:fill:128:0:1:1/gravity:ce/padding:4/rotate:90/brightness:25/"
    "contrast:1.2/saturation:0.8/blur:1.5/sharpen:0.8/pixelate:4/"
    "watermark:0.6:soea/background:336699/quality:80/format:jpeg",
    "crop:50:0:ce",  # default-format fallback per src_dtype
    "raw",
    "rotate:45/format:png",  # parse error channel
    "expires:1704067230/format:png",  # expiry channel: doc_id % 7200 > 30 expire
    "max_bytes:40/format:jpeg/quality:95",
]

# MIME allowlist drops uint8 (doc_id % 3 == 2); the 500-byte source cap
# rejects the 256-token rung of the length ladder (256 * 4 > 500)
GATED_CFG = EngineConfig(
    allowed_src_dtypes=("int32", "int16"),
    allow_security_options=True,
    max_src_file_size=500,
)


def _run_stream(spark, base, req, cfg, verify):
    in_path, out_dir, ckpt = (str(base / d) for d in ("in", "out", "ckpt"))
    req.write.mode("append").parquet(f"{in_path}/drop=0")
    query, _ = transform_stream(
        spark, in_path, out_dir, ckpt, cfg, verify=verify, available_now=True
    )
    query.awaitTermination()
    return read_sink(spark, out_dir)


def _by_key(rows):
    return {
        r["cache_key"]: (
            list(r["tokens_out"]) if r["tokens_out"] is not None else None,
            r["n_out"],
            r["dtype"],
            r["error"],
        )
        for r in rows
    }


@pytest.mark.parametrize("cfg", [CFG, GATED_CFG], ids=["default", "gated"])
def test_stream_miss_equals_batch(spark, tmp_path, cfg):
    """Every first-seen key takes the stateful MISS path; its output must
    equal transform_requests_arrow row for row, error rows included."""
    req = None
    for chain in CHAINS:
        part = requests_df(spark, SF_SMALL, chain).limit(60)
        req = part if req is None else req.unionByName(part)
    req = req.cache()
    batch = _by_key(
        transform_requests_arrow(req, cfg, verify=False)
        .withColumn("cache_key", cache_key_col(cfg))
        .collect()
    )
    sunk = _run_stream(spark, tmp_path, req, cfg, verify=False).collect()
    assert {r["cache_status"] for r in sunk} <= {"MISS", "ERROR"}
    assert _by_key(sunk) == batch
    errors = {e for (_, _, _, e) in batch.values()}
    assert {None, "Request expired"} <= errors
    if cfg is GATED_CFG:
        assert {"Source type not allowed", "Source image is too large"} <= errors
    req.unpersist()


def _signed(spark, limit):
    req = requests_df(spark, SF_SMALL, "crop:8:0/format:png").limit(limit)
    return req.withColumn("sig", make_sign_udf(CFG)(F.col("ops"), F.col("doc_id")))


def _gate_verdicts(spark, tmp_path, req):
    """(batch sig_valid per doc, doc_ids the stream admitted)."""
    batch = {
        r["doc_id"]: r["sig_valid"]
        for r in transform_requests_arrow(req, CFG, verify=True).collect()
    }
    sunk = _run_stream(spark, tmp_path, req, CFG, verify=True)
    return batch, {r["doc_id"] for r in sunk.select("doc_id").collect()}


def test_stream_gate_rejects_padded_signature(spark, tmp_path):
    """docs/SEMANTICS.md: signatures are base64url WITHOUT padding; a
    `=`-padded copy of a valid signature fails on both paths."""
    d = F.col("doc_id").cast("long")
    req = _signed(spark, 12).withColumn(
        "sig", F.when(d % 2 == 0, F.concat("sig", F.lit("="))).otherwise(F.col("sig"))
    )
    batch, admitted = _gate_verdicts(spark, tmp_path, req)
    assert batch and all(ok == (int(doc) % 2 == 1) for doc, ok in batch.items())
    assert admitted == {doc for doc, ok in batch.items() if ok}


def test_null_signature_rejected_on_both_paths(spark, tmp_path):
    """A null sig is a failed signature — not a crashed micro-batch."""
    d = F.col("doc_id").cast("long")
    req = _signed(spark, 12).withColumn(
        "sig", F.when(d % 2 == 0, F.lit(None).cast("string")).otherwise(F.col("sig"))
    )
    batch, admitted = _gate_verdicts(spark, tmp_path, req)
    assert batch and all(ok == (int(doc) % 2 == 1) for doc, ok in batch.items())
    assert admitted == {doc for doc, ok in batch.items() if ok}


def test_arrow_verify_in_pass(spark):
    chain = "crop:8:0/format:png"
    req = requests_df(spark, SF_SMALL, chain).limit(20)
    sign = make_sign_udf(CFG)
    req = req.withColumn("sig", sign(F.col("ops"), F.col("doc_id")))
    req = req.withColumn(
        "sig",
        F.when(F.col("doc_id").cast("long") % 3 == 0, F.lit("unsafe")).otherwise(
            F.col("sig")
        ),
    )
    out = transform_requests_arrow(req, CFG, verify=True)
    for r in out.select("doc_id", "sig_valid").collect():
        assert r["sig_valid"] == (int(r["doc_id"]) % 3 != 0)


def test_output_shaping_columns(spark):
    """content_disposition + meta_orientation (round-4 real effects)
    follow the reference rules: filename -> header (sanitized), strip ->
    NULL metadata, auto_rotate consumes the EXIF tag (1),
    auto_rotate:false / raw keep the original."""
    cases = {
        'filename:a"b/return_attachment:1/strip_metadata:true/format:jpeg': (
            'attachment; filename="a_b"',
            None,
        ),
        "filename:x.png/auto_rotate:false/format:png": (
            'inline; filename="x.png"',
            "orig",
        ),
        "crop:10:0/format:png": (None, 1),
        "raw": (None, "orig"),
    }
    for chain, (cd, meta) in cases.items():
        req = requests_df(spark, SF_SMALL, chain).limit(24)
        rows = transform_requests_arrow(req, CFG, verify=False).collect()
        assert rows, chain
        for r in rows:
            assert r["content_disposition"] == cd, chain
            expect = 1 + int(r["doc_id"]) % 8 if meta == "orig" else meta
            assert r["meta_orientation"] == expect, (chain, r)


def status_for_error(error: "str | None", sig_valid: bool = True) -> int:
    """Scalar reference for :func:`status_code_col`."""
    if not sig_valid:
        return STATUS_FORBIDDEN
    if error is None:
        return STATUS_OK
    if error == "Request expired":
        return STATUS_NOT_FOUND
    return STATUS_BAD_REQUEST


def test_status_taxonomy(spark):
    """The status column mirrors the reference's error classes
    (service.rs:676-800): 403 bad signature, 404 expired, 400 other
    errors, 200 OK — equal to the scalar mapping."""
    # expires = EPOCH+10s: docs with doc_id%7200 > 10 expire (most of 30)
    chain = "expires:1704067210/crop:10:0/format:int32"
    req = requests_df(spark, SF_SMALL, chain).limit(30)
    sign = make_sign_udf(CFG)
    d = F.col("doc_id").cast("long")
    req = req.withColumn(
        "sig",
        F.when(d % 5 == 0, F.lit("bad-signature")).otherwise(
            sign(F.col("ops"), F.col("doc_id"))
        ),
    )
    seen = set()
    for r in transform_requests_arrow(req, CFG, verify=True).collect():
        assert r["status"] == status_for_error(r["error"], r["sig_valid"]), r
        seen.add(r["status"])
    assert {200, 403, 404} <= seen
