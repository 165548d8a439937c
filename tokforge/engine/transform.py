"""Column-level building blocks shared by the batch transform
(engine/transform_arrow.py) and the streaming jobs: the memoized plan
parser, the signing / verification UDFs, the bearer admission filter, the
cache-key column and the response-status taxonomy.

Plan parsing is memoized per distinct ops string (chains repeat massively
in a real request stream — the reference memoizes the same way via its
processed-image cache, service.rs:241-250), so per-batch Python cost is
dominated by the numpy kernel, not the parser.
"""

from __future__ import annotations

import pandas as pd
import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType, StringType

from tokforge.engine.config import DEFAULT_CONFIG, EngineConfig
from tokforge.functions.signing import sign_series, verify_arrays
from tokforge.plans.options import OptionParseError, Plan, parse_chain

# Module-level plan cache: lives per executor Python worker, shared across
# batches (the parse analog of the reference's OnceCell'd watermark/format
# probes, service.rs:588-603 / save.rs:209-219).
_PLAN_CACHE: dict[tuple, "Plan | OptionParseError"] = {}


def _plan_for(ops: str, config: EngineConfig):
    key = (ops, config.presets, config.only_presets)
    hit = _PLAN_CACHE.get(key)
    if hit is None:
        try:
            hit = parse_chain(ops, config.presets_dict or None, config.only_presets)
        except OptionParseError as exc:
            hit = exc
        if len(_PLAN_CACHE) > 4096:
            _PLAN_CACHE.clear()
        _PLAN_CACHE[key] = hit
    return hit


def make_verify_udf(config: EngineConfig = DEFAULT_CONFIG):
    """Scalar Arrow UDF over ``verify_arrays`` (plans as ArrowEvalPython:
    only sig/ops/doc_id cross the boundary; null sig -> False)."""

    @F.arrow_udf(BooleanType())
    def verify_udf(sig: pa.Array, ops: pa.Array, doc_id: pa.Array) -> pa.Array:
        return pa.array(
            verify_arrays(
                config.key, config.salt, sig, ops, doc_id, config.allow_unsigned
            )
        )

    return verify_udf


def make_sign_udf(config: EngineConfig = DEFAULT_CONFIG):
    @F.pandas_udf(StringType())
    def sign_udf(ops: pd.Series, doc_id: pd.Series) -> pd.Series:
        return sign_series(config.key, config.salt, ops, doc_id)

    return sign_udf


# Reference status taxonomy (service.rs:676-800 tests): FORBIDDEN for
# signature/bearer failures (:438-468), NOT_FOUND for expiry (:656),
# BAD_REQUEST for parse / limits / MIME / processing errors (:450-547),
# OK otherwise.  One int column so the dead-letter channel can partition
# by class and ops dashboards can count per-status.
STATUS_OK = 200
STATUS_BAD_REQUEST = 400
STATUS_FORBIDDEN = 403
STATUS_NOT_FOUND = 404


def status_code_col(
    sig_valid: str = "sig_valid", error: str = "error"
) -> Column:
    """Pure-JVM status-class column over the transform output (stays in
    whole-stage codegen — no Python in the taxonomy path)."""
    return (
        F.when(~F.col(sig_valid), F.lit(STATUS_FORBIDDEN))
        .when(F.col(error).isNull(), F.lit(STATUS_OK))
        .when(F.col(error) == "Request expired", F.lit(STATUS_NOT_FOUND))
        .otherwise(F.lit(STATUS_BAD_REQUEST))
        .cast("int")
    )


def admit_bearer(df: DataFrame, config: EngineConfig) -> DataFrame:
    """Bearer-secret admission gate (reference: service.rs:432-446): a
    constant-token filter evaluated JVM-side before any Python work.
    Applied ahead of the transform's single Python pass."""
    if config.bearer_token is not None and "bearer" in df.columns:
        return df.filter(F.col("bearer").eqNullSafe(F.lit(config.bearer_token)))
    return df


def cache_key_col(config: EngineConfig = DEFAULT_CONFIG) -> Column:
    """Cache key = ops chain + doc id, prefixed with the default format when
    the chain names none (reference: service.rs:151-162 cache_key_for_path).
    Expects `ops` and `doc_id` columns in scope; pure built-in expressions
    (stays in whole-stage codegen)."""
    path = F.concat(F.lit("/"), F.col("ops"), F.lit("/"), F.col("doc_id"))
    has_format = F.col("ops").rlike("(^|/)(format|f|ext):")
    default_fmt = F.lit(config.default_format or "src")
    return F.when(has_format, path).otherwise(
        F.concat(default_fmt, F.lit(":"), path)
    )
