"""The transform chain: one gate + kernel core and the batch pass over it.

``transform_core`` is the only place a request is parsed, gated (expiry,
MIME allowlist, security caps) and run through the rect kernel.  Two
callers feed it:

- the batch pass, ``transform_requests_arrow`` — one ``mapInArrow`` that
  never materializes rows:

    pa.ListArray  ->  flat values + offsets  ->  bucket gather (one fancy
    index per (ops, n, dtype) bucket)  ->  rect kernel  ->  flat scatter
    ->  pa.ListArray.from_arrays

  with the signature check (``functions.signing.verify_arrays``) in the
  same pass;
- the MISS path of the stateful cache lifecycle (streaming/cache_state.py,
  shared by the result and info namespaces), which builds the same flat
  input from its pandas rows.

Strings (ops, src_dtype) are dictionary-encoded so bucketing works on
int codes.  Error rows carry their message in ``error`` and a null
``tokens_out``; the JVM derives ``status`` from (sig_valid, error).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tokforge.engine.config import DEFAULT_CONFIG, EngineConfig
from tokforge.engine.transform import _plan_for, admit_bearer, status_code_col
from tokforge.functions.signing import verify_arrays
from tokforge.operators.kernel import TransformError
from tokforge.operators.kernel_rect import apply_plan_rect
from tokforge.plans.options import OptionParseError, content_disposition, strips_metadata

OUTPUT_SCHEMA_DDL = (
    "doc_id string, source string, ts timestamp, ops string, n_tok int, "
    "sig_valid boolean, tokens_out array<int>, n_out int, dtype string, "
    "size_bytes long, quality int, fmt string, content_disposition string, "
    "meta_orientation int, error string"
)


def _dict_codes(arr: pa.Array) -> tuple[np.ndarray, list]:
    enc = pc.dictionary_encode(arr)
    if isinstance(enc, pa.ChunkedArray):
        enc = enc.combine_chunks()
    return enc.indices.to_numpy(zero_copy_only=False), enc.dictionary.to_pylist()


def _verify_batch(batch: pa.RecordBatch, config: EngineConfig) -> pa.Array:
    """HMAC verification inside the same Arrow pass (a separate pandas-UDF
    stage chained into mapInArrow measured 25x slower than either alone —
    one Python crossing beats two)."""
    return pa.array(
        verify_arrays(
            config.key,
            config.salt,
            batch.column("sig"),
            batch.column("ops"),
            batch.column("doc_id"),
            config.allow_unsigned,
        )
    )


def expired_rows(
    ops_codes: np.ndarray, ops_dict: list, ts_unix: np.ndarray, config: EngineConfig
) -> np.ndarray:
    """The expiry gate (service.rs:232): row i is expired when its chain
    parses, names ``expires:`` and its event time ``ts_unix`` is past it
    (event time, never wall-clock, so replay is deterministic).  One plan
    lookup per distinct chain."""
    out = np.zeros(len(ops_codes), dtype=bool)
    for c, chain in enumerate(ops_dict):
        plan = _plan_for(chain, config)
        if not isinstance(plan, OptionParseError) and plan.expires is not None:
            sel = ops_codes == c
            out[sel] = ts_unix[sel] > plan.expires
    return out


def transform_core(
    values: np.ndarray,
    offsets: np.ndarray,
    ops_codes: np.ndarray,
    ops_dict: list,
    sdt_codes: np.ndarray,
    sdt_dict: list,
    orientations: np.ndarray,
    ts_unix: np.ndarray,
    config: EngineConfig,
) -> tuple[dict[str, np.ndarray], list[tuple[np.ndarray, np.ndarray]]]:
    """THE per-bucket gate + kernel, shared by the batch pass and the
    stateful MISS paths.  Input is one flat token buffer (row i is
    ``values[offsets[i]:offsets[i+1]]``) plus per-row ops / src_dtype
    codes into their dictionaries, EXIF orientations and event-time
    ``ts_unix``.

    Rows are bucketed by (ops, n, src_dtype); each bucket runs the gates
    in the reference's request order — parse (service.rs:230), expiry
    (:232, ``expired_rows``), MIME allowlist (:500-510), security caps (limits.rs:26-86, per-request
    overrides only when the deployment allows them, :550-570) — and then
    ``apply_plan_rect`` over one gathered (m, n) matrix: zero per-row
    Python (SURVEY.md §4: the libvips fused-pipeline analog).

    Returns the per-row metadata columns keyed by output column name
    (``error`` is None on computed rows) and ``(row_idx, tokens)`` per
    computed bucket."""
    n = len(ops_codes)
    lengths = np.diff(offsets)
    # composite bucket key -> inverse index (fully vectorized bucketing)
    key = (ops_codes.astype(np.int64) * len(sdt_dict) + sdt_codes) * (
        int(lengths.max(initial=0)) + 1
    ) + lengths
    uniq, inv = np.unique(key, return_inverse=True)
    expired = expired_rows(ops_codes, ops_dict, ts_unix, config)

    cols = {
        "n_out": np.zeros(n, dtype=np.int32),
        "dtype": np.full(n, None, dtype=object),
        "size_bytes": np.zeros(n, dtype=np.int64),
        "quality": np.zeros(n, dtype=np.int32),
        "fmt": np.full(n, None, dtype=object),
        "content_disposition": np.full(n, None, dtype=object),
        "meta_orientation": np.full(n, None, dtype=object),
        "error": np.full(n, None, dtype=object),
    }
    error = cols["error"]
    buckets: list[tuple[np.ndarray, np.ndarray]] = []

    for b in range(len(uniq)):
        row_idx = np.nonzero(inv == b)[0]
        i0 = row_idx[0]
        sdt = str(sdt_dict[sdt_codes[i0]])
        length = int(lengths[i0])

        plan = _plan_for(ops_dict[ops_codes[i0]], config)
        if isinstance(plan, OptionParseError):
            error[row_idx] = str(plan)
            continue
        gone = expired[row_idx]
        if gone.any():
            error[row_idx[gone]] = "Request expired"
            row_idx = row_idx[~gone]
            if len(row_idx) == 0:
                continue
        if (
            config.allowed_src_dtypes is not None
            and sdt.lower() not in config.allowed_src_dtypes
        ):
            error[row_idx] = "Source type not allowed"
            continue
        cap_bytes = config.max_src_file_size
        cap_res = config.max_src_resolution
        if config.allow_security_options:
            if plan.max_src_file_size is not None:
                cap_bytes = plan.max_src_file_size
            if plan.max_src_resolution is not None:
                cap_res = plan.max_src_resolution
        if cap_bytes is not None and length * 4 > cap_bytes:
            error[row_idx] = "Source image is too large"
            continue
        if cap_res is not None and length > cap_res * 1_000_000:
            error[row_idx] = "Source image resolution is too large"
            continue

        if length > 0:
            gather = offsets[row_idx][:, None] + np.arange(length, dtype=np.int64)
            mat = values[gather]
        else:
            mat = np.empty((len(row_idx), 0), dtype=values.dtype)
        try:
            result = apply_plan_rect(
                mat,
                plan,
                orientations=orientations[row_idx],
                src_dtype=sdt,
                default_format=config.default_format,
            )
        except (TransformError, OptionParseError) as exc:
            error[row_idx] = str(exc)
            continue

        cols["n_out"][row_idx] = result.tokens.shape[1]
        cols["dtype"][row_idx] = result.dtype
        cols["size_bytes"][row_idx] = result.size_bytes
        cols["quality"][row_idx] = result.quality
        cols["fmt"][row_idx] = result.fmt
        cols["content_disposition"][row_idx] = content_disposition(plan)
        if not strips_metadata(plan):
            if plan.auto_rotate and not plan.raw:
                cols["meta_orientation"][row_idx] = 1  # EXIF consumed by auto-rotate
            else:
                cols["meta_orientation"][row_idx] = orientations[row_idx]
        buckets.append((row_idx, result.tokens))
    return cols, buckets


def _transform_record_batch(batch: pa.RecordBatch, config: EngineConfig) -> pa.RecordBatch:
    n = batch.num_rows
    toks = batch.column("tokens")
    if isinstance(toks, pa.ChunkedArray):
        toks = toks.combine_chunks()
    # flatten() drops per-list validity/offset base; use raw buffers
    offsets = toks.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
    values = toks.values.to_numpy(zero_copy_only=False)  # int32, zero-copy
    ops_codes, ops_dict = _dict_codes(batch.column("ops"))
    sdt_codes, sdt_dict = _dict_codes(batch.column("src_dtype"))
    cols, buckets = transform_core(
        values,
        offsets,
        ops_codes,
        ops_dict,
        sdt_codes,
        sdt_dict,
        batch.column("orientation").to_numpy(zero_copy_only=False).astype(np.int64),
        batch.column("ts_unix").to_numpy(zero_copy_only=False).astype(np.int64),
        config,
    )

    # assemble the output list column: flat scatter into one values buffer
    has_error = cols["error"] != None  # noqa: E711 - vectorized comparison
    out_counts = np.where(has_error, 0, cols["n_out"]).astype(np.int64)
    out_offsets = np.zeros(n + 1, dtype=np.int32)
    np.cumsum(out_counts, out=out_offsets[1:])
    flat = np.empty(int(out_offsets[-1]), dtype=np.int32)
    for row_idx, matrix in buckets:
        width = matrix.shape[1]
        if width == 0:
            continue
        scatter = out_offsets[row_idx][:, None] + np.arange(width, dtype=np.int64)
        flat[scatter] = matrix.astype(np.int32, copy=False)

    tokens_out = pa.ListArray.from_arrays(
        pa.array(out_offsets, type=pa.int32()), pa.array(flat, type=pa.int32())
    )
    if has_error.any():
        tokens_out = pc.if_else(
            pa.array(has_error), pa.nulls(n, type=tokens_out.type), tokens_out
        )

    if "sig" in batch.schema.names:
        sig_col = _verify_batch(batch, config)
    else:
        sig_col = pa.array(np.ones(n, dtype=bool))
    passthrough = ["doc_id", "source", "ts", "ops", "n_tok"]
    return pa.RecordBatch.from_arrays(
        [batch.column(c) for c in passthrough]
        + [
            sig_col,
            tokens_out,
            pa.array(cols["n_out"], type=pa.int32()),
            pa.array(cols["dtype"], type=pa.string()),
            pa.array(cols["size_bytes"], type=pa.int64()),
            pa.array(cols["quality"], type=pa.int32()),
            pa.array(cols["fmt"], type=pa.string()),
            pa.array(cols["content_disposition"], type=pa.string()),
            pa.array(cols["meta_orientation"].tolist(), type=pa.int32()),
            pa.array(cols["error"], type=pa.string()),
        ],
        names=passthrough
        + [
            "sig_valid",
            "tokens_out",
            "n_out",
            "dtype",
            "size_bytes",
            "quality",
            "fmt",
            "content_disposition",
            "meta_orientation",
            "error",
        ],
    )


def transform_requests_arrow(
    requests: DataFrame,
    config: EngineConfig = DEFAULT_CONFIG,
    verify: bool = True,
) -> DataFrame:
    """The full per-row pipeline over a request DataFrame: bearer gate
    (JVM) -> one Arrow pass (signature check + ``transform_core``) ->
    ``status`` (JVM).  Catalyst keeps scan pruning and whole-stage codegen
    around the single Python exchange (SURVEY.md §3 entry point 1)."""
    df = admit_bearer(requests, config)
    df = df.withColumn("ts_unix", F.unix_timestamp(F.col("ts")))
    cols = [
        "doc_id", "source", "ts", "ops", "n_tok",
        "tokens", "orientation", "src_dtype", "ts_unix",
    ]
    if verify:
        cols.append("sig")  # verified inside the Arrow pass
    df = df.select(*cols)

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            yield _transform_record_batch(batch, config)

    # status class is derived JVM-side from (sig_valid, error) — zero cost
    # inside the Arrow pass
    return df.mapInArrow(fn, OUTPUT_SCHEMA_DDL).withColumn(
        "status", status_code_col()
    )
