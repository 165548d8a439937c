"""The query registry behind ``__spark_entry__.py``: every implemented
operator gets a (Spark callable, DuckDB oracle SQL) pair.

Transform-op queries run the REAL engine path (request synthesis ->
one Arrow pass, engine/transform_arrow.py) and their oracles come from the SQL
generator in tokforge.engine.oracle, so Spark-vs-DuckDB equality checks
the full parse+kernel pipeline bit-for-bit.  Analytics/pipeline queries
are pure built-in DataFrame ops with hand-written SQL mirrors.
"""

from __future__ import annotations

import base64
from typing import Callable

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from tokforge.engine.config import EngineConfig
from tokforge.engine.oracle import oracle_transform_sql
from tokforge.engine.transform import make_sign_udf, make_verify_udf
from tokforge.engine.transform_arrow import transform_requests_arrow as transform_requests
from tokforge.sources.requests import (
    load_documents,
    load_embeddings,
    load_events,
    requests_df,
    sql_requests_cte,
)

CONFIG = EngineConfig()

# ---------------------------------------------------------------------------
# Transform-operator chains (SURVEY.md §2.1-2.3).  One per operator family;
# several compose with others deliberately so op ORDER is exercised too.
# ---------------------------------------------------------------------------

# Custom watermark payload for the watermark_url chain (reference wmu arg,
# options.rs; the base64url-decoded payload becomes the injected block,
# watermark.rs:25-97).
_WMU_PAYLOAD = "TOKFORGE-WM"
_WMU_B64 = base64.urlsafe_b64encode(_WMU_PAYLOAD.encode()).decode().rstrip("=")

# Driver-gated chains: every operator family from SURVEY.md §2.1-2.3 appears
# at least once, folded so the full registry (op chains + named + pipeline)
# fits the driver's 50-query correctness window.  The finer-grained
# single-op chains live in OP_CHAINS_EXTRA (kernel-vs-oracle parity is
# asserted per-chain by tests/test_oracle_parity.py).
OP_CHAINS: dict[str, str] = {
    "op_resize_fill": "resize:fill:50:0:0:0/gravity:soea/format:png",
    # true windowed-sinc lanczos3 — the reference DEFAULT algorithm
    # (options.rs:567-610); distinct output from cubic (op_exif_zoom)
    "op_resize_force": "resize:force:80:0:1/ra:lanczos3/format:jpeg/quality:70",
    "op_size_min_dpr": "dpr:2.5/size:40/resizing_type:fill/min-width:120/ra:lanczos2/padding:3/format:png",
    "op_crop_gravity": "crop:40:0:ea/format:int32",
    "op_extend": "resize:fit:300:0:1:1/ra:nearest/extend:1:nowe/background:10:20:30/format:png",
    "op_exif_zoom": "zoom:1.5/ra:cubic/crop:24:0:ce/format:int64",  # auto_rotate on
    # jpeg_options:1 = progressive scan layout (save.rs:84 interlace),
    # interacting with the max_bytes walk-down: the reorder changes run
    # structure, so the fit decision sees the progressive encoding
    "op_max_bytes": "size:64/quality:20/max_bytes:150/jpeg_options:1/format:jpeg",
    "op_format_default": "crop:50:0:ce",  # no format -> source dtype path
    "op_chain_flagship": (
        "resize:fill:128:0:1:1/gravity:ce/padding:4/rotate:90/brightness:25/"
        "contrast:1.2/saturation:0.8/blur:1.5/sharpen:0.8/pixelate:4/"
        "watermark:0.6:soea/background:336699/quality:80/format:jpeg"
    ),
    # edge/override semantics (options.rs merge rules, zero-dim derivation,
    # gravity corners, lossless-quality boundary) — folded composites.
    # op_edge_geometry also carries flip h+v and the uint8 (mod256) encode;
    # op_edge_effects carries the full effect stack (blur/sharpen/pixelate +
    # brightness/contrast/saturation) — folded from the former op_flip_uint8
    # and op_effects rows to hold the registry at 50.
    # png_options:0:1:16 = interlaced off, quantize ON, 16 palette colors:
    # the palette fold is a REAL token effect as of round 4 (save.rs:99-110)
    "op_edge_resize": (
        "resize:fill:0:60:1/resizing_algorithm:linear/png_options:0:1:16/format:png"
    ),
    "op_edge_geometry": (
        "crop:0:0/resize:fit:280:0:0:1/extend:1:soea/background:abcdef/"
        "flip:1:1/rotate:180/format:uint8"
    ),
    "op_edge_encode": "format_quality:jpeg:100:avif:40/format:jpeg",
}

# Rotated out of the driver window in round 7 — their slots gate the
# tokenizer/corpus layer (pipeline.corpusops) and CEP absence.  Component
# coverage stays gated elsewhere: the effect stack + background via
# op_chain_flagship (blur/sharpen/pixelate/adjust/watermark/background in
# one chain), rotate via op_edge_geometry (rotate:180) and the flagship
# (rotate:90), watermark/watermark_url payload via op_chain_flagship +
# the signed path_parse envelope, auto-quality via op_max_bytes' walk-down
# (same quality-search kernel arm).  Full (query, oracle) equality for
# each moved chain is asserted by tests/test_rotated_out_oracles.py via
# ENGINE_QUERIES_EXTRA below.
OP_CHAINS_ROTATED: dict[str, str] = {
    "op_resize_auto_quality": "resize:auto:90/quality:30/format:avif",
    "op_rotate_gif": "auto_rotate:false/rotate:270/format:gif",
    "op_watermark_url": f"watermark:0.8:ce/watermark_url:{_WMU_B64}/format:png",
    "op_edge_effects": (
        "background:10:20:30/background_alpha:0.5/padding:2/blur:2/sharpen:0.5/"
        "pixelate:7/brightness:100/contrast:1.4/saturation:0.6/format:png"
    ),
}

# Pytest-parity-only chains (not in the driver window; each is covered by
# tests/test_oracle_parity.py kernel-vs-oracle equality on sf0.001).
OP_CHAINS_EXTRA: dict[str, str] = {
    # resize:fit was a driver row through round 3; its slot now gates
    # path_parse (the reference's url.rs envelope) — fit stays driver-
    # covered inside op_extend (fit:300) and op_edge_geometry (fit:280)
    # and kernel-vs-oracle parity covers this exact chain per-test.
    "op_resize_fit": "resize:fit:64/format:int16",
    # op_raw and op_flatten were driver rows through round 5; their slots
    # now gate corpus-assembly ops (pipeline.assembly).  raw bypass stays
    # driver-covered via admission_policy's skip path (+ per-chain parity
    # here); flatten's background/watermark arms stay driver-covered via
    # op_extend/op_edge_effects and op_watermark_url/op_chain_flagship.
    "op_raw": "raw",
    "op_flatten": "watermark:1:nowe/background:0:0:255/format:jpeg/quality:90",
    # the watermark op itself stays driver-gated via op_watermark_url,
    # op_flatten and op_chain_flagship; this standalone-position chain is
    # parity-only (and feeds the `info` query below)
    "op_watermark": "watermark:0.7:soea/format:png",
    "op_resize_auto": "resize:auto:90/format:tiff",
    "op_size_sugar": "size:77/format:webp",
    "op_padding": "padding:5:7/background:ff0000/format:png",
    "op_rotate": "auto_rotate:false/rotate:270/format:png",
    "op_flip": "flip:1:0/format:png",
    "op_exif_autorotate": "crop:24:0:ce/format:png",
    "op_zoom": "zoom:1.5/format:int64",
    "op_min_length": "min-width:120/format:int32",
    "op_dpr": "dpr:2.5/resize:fit:40/padding:3/format:png",
    "op_blur": "blur:2/format:png",
    "op_sharpen": "sharpen:0.5/format:png",
    "op_pixelate": "pixelate:7/format:png",
    "op_adjust": "brightness:100/contrast:1.4/saturation:0.6/format:png",
    "op_quality": "quality:30/format:avif",
    "op_format_gif": "rotate:90/format:gif",
    "op_format_uint8": "format:uint8",
    "op_resize_height_derived": "resize:fill:0:60/format:png",
    "op_resize_partial_override": "resize:fit:10/resize::20/format:png",
    "op_resizing_type_merge": "size:44/resizing_type:fill/gravity:ea/format:png",
    "op_crop_zero_full": "crop:0:0/rotate:180/format:png",
    "op_extend_corner": "resize:fit:280:0:0:1/extend:1:soea/background:abcdef/format:png",
    "op_flip_vertical_identity": "flip:0:1/format:png",
    "op_quality_lossless_boundary": "quality:100/format:jpeg",
    "op_format_quality_map": "format_quality:avif:40:png:90/format:avif",
    "op_bga_alpha": "background:10:20:30/background_alpha:0.5/padding:2/format:png",
    "op_effect_stack": "blur:1/sharpen:1/pixelate:3/brightness:-80/format:png",
    # encoder-knob parity chains (round 4: palette fold + progressive scan)
    "op_png_palette_default": "png_options:0:1/format:png",  # 256 colors
    "op_png_palette_coarse": "crop:40:0/png_options:1:1:8/format:png",
    "op_png_palette_off": "png_options:0:0:8/format:png",  # quantize off -> no-op
    "op_jpeg_progressive": "jpeg_options:1/quality:90/format:jpeg",
    "op_jpeg_progressive_odd": "crop:33:0/jpeg_options:1/format:jpeg",
    # avif subsample knob (round 5: APPLIED, save.rs:145-151 — reference
    # subsamples avif by default, avif_options:1 = no_subsample turns it
    # off).  Driver-gated arm: op_resize_auto_quality (avif output, default
    # subsample ON).  webp options stay a documented parse-only no-op,
    # matching the reference's crashing-bindings workaround (save.rs:114-118).
    "op_avif_no_subsample": "avif_options:1/quality:30/format:avif",
    "op_avif_subsample_odd": "crop:33:0/quality:90/format:avif",
    "op_avif_subsample_max_bytes": "size:64/max_bytes:120/format:avif",
    # heif shares the avif options block in the reference encoder
    # (save.rs:160-172 uses options.avif.no_subsample for heif too)
    "op_heif_subsample": "quality:95/format:heif",
    "op_heif_no_subsample": "avif_options:1/quality:95/format:heif",
    "op_progressive_maxbytes": "quality:30/max_bytes:200/jpeg_options:1/format:jpeg",
    "op_palette_maxbytes": "png_options:0:1:32/max_bytes:120/format:png",
}

_PRESETS = {"thumb": "resize:fit:48/quality:60/format:jpeg"}
_PRESET_CHAIN = "preset:thumb/rotate:180"


def tokens_digest_col(col: str = "tokens_out") -> "F.Column":
    """Deterministic scalar digest of the output token array — the driver's
    canonicalizer sorts/hashes cell values and cannot handle list cells, so
    every gated query exposes md5(join(tokens, ',')) instead of the raw
    array.  DuckDB mirror: md5(array_to_string(tokens_out, ','))."""
    joined = F.concat_ws(",", F.col(col).cast("array<string>"))
    return F.when(F.col(col).isNull(), F.lit(None).cast("string")).otherwise(
        F.md5(joined)
    )


def _op_query(chain: str, presets: dict[str, str] | None = None):
    cfg = CONFIG if presets is None else EngineConfig(presets=tuple(presets.items()))

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        req = requests_df(spark, sf_dir, chain)
        out = transform_requests(req, cfg, verify=False)
        return out.select(
            "doc_id",
            "n_out",
            tokens_digest_col().alias("tokens_md5"),
            "dtype",
            "size_bytes",
            "quality",
            "fmt",
        )

    return run


# ---------------------------------------------------------------------------
# Signature validation (reference: url.rs:60-72, service.rs:448-470)
# ---------------------------------------------------------------------------

_SIG_CHAIN = "resize:fit:32/format:int16"


def q_sig_validate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign every request, then corrupt doc_id%10==3 and mark doc_id%17==0
    `unsafe`; verification (allow_unsigned=False) must reject exactly those."""
    req = requests_df(spark, sf_dir, _SIG_CHAIN)
    sign = make_sign_udf(CONFIG)
    verify = make_verify_udf(CONFIG)
    d = F.col("doc_id").cast("long")
    req = req.withColumn(
        "sig",
        F.when(d % 17 == 0, F.lit("unsafe"))
        .when(d % 10 == 3, F.concat(sign(F.col("ops"), F.col("doc_id")), F.lit("x")))
        .otherwise(sign(F.col("ops"), F.col("doc_id"))),
    )
    out = req.select(
        "doc_id",
        verify(F.col("sig"), F.col("ops"), F.col("doc_id")).alias("sig_valid"),
    )
    # status taxonomy: 403 on signature failure (service.rs:468)
    return out.withColumn(
        "status",
        F.when(F.col("sig_valid"), F.lit(200)).otherwise(F.lit(403)).cast("int"),
    )


SQL_SIG_VALIDATE = f"""WITH {sql_requests_cte()}
SELECT doc_id,
       (doc_num % 17 != 0 AND doc_num % 10 != 3) AS sig_valid,
       CAST(CASE WHEN doc_num % 17 != 0 AND doc_num % 10 != 3
                 THEN 200 ELSE 403 END AS INTEGER) AS status
FROM req"""


# ---------------------------------------------------------------------------
# Request-path envelope parsing (reference: url.rs:75-142 parse_path,
# service.rs:475-477 build_path_to_sign).  The request column is ONE path
# string; the Spark side runs the real pure-JVM parser
# (tokforge.plans.path.parse_path_col), the oracle reconstructs
# sig/ops/source/format from the same base columns independently.
# ---------------------------------------------------------------------------


_PATHPARSE_FIXTURES: dict[tuple, str] = {}


def _pathparse_fixture_dir(spark: SparkSession, sf_dir: str, built: DataFrame) -> str:
    """Write the path fixture once per (session, sf_dir), under an
    atexit-cleaned scratch dir (TOKFORGE_SCRATCH_DIR overrides the root)."""
    from tokforge.pipeline.stage import make_scratch_dir

    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _PATHPARSE_FIXTURES:
        root = make_scratch_dir("tokforge-pathparse-")
        built.write.mode("overwrite").parquet(root + "/paths")
        _PATHPARSE_FIXTURES[key] = root + "/paths"
    return _PATHPARSE_FIXTURES[key]


def q_path_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL envelope flow, end to end: build one path string per
    document cycling through the grammar (multipart plain, plain@ext,
    percent-encoded plain, base64, base64.ext, unsafe/no-options;
    doc_id%13==0 rows are truncated to a single segment -> invalid), sign
    the rest-of-path with the REAL HMAC (service.rs:475-477
    build_path_to_sign; doc_id%9==4 signatures are corrupted), embed the
    signature as the first segment, parse it all back with the pure-JVM
    column parser, and verify the extracted signature against the
    extracted path_to_sign (url.rs:60-72).  `sig_ok` is therefore true
    iff BOTH the parser split the envelope exactly right AND the HMAC
    round-trips — the oracle checks the validity pattern, which pins
    more than echoing the signature string would."""
    from tokforge.functions.signing import sign_path_series, validate_path_series
    from tokforge.plans.path import parse_path_col

    @F.pandas_udf("string")
    def sign_udf(path: pd.Series) -> pd.Series:
        return sign_path_series(CONFIG.key, CONFIG.salt, path)

    @F.pandas_udf("boolean")
    def verify_udf(sig: pd.Series, path: pd.Series) -> pd.Series:
        return validate_path_series(CONFIG.key, CONFIG.salt, sig, path)

    docs = load_documents(spark, sf_dir).select("doc_id", "source")
    d = F.col("doc_id").cast("long")
    ds = F.col("doc_id").cast("string")
    url = F.concat(
        F.lit("https://cdn.example.com/"), F.col("source"), F.lit("/doc"),
        ds, F.lit(".jpg"),
    )
    b64 = F.translate(
        F.regexp_replace(F.base64(F.encode(url, "UTF-8")), "=+$", ""), "+/", "-_"
    )
    enc = F.replace(
        F.replace(url, F.lit(":"), F.lit("%3A")), F.lit("/"), F.lit("%2F")
    )
    c = d % 6
    ops = (
        F.when(c == 0, F.concat(F.lit("resize:fit:"), (32 + d % 64).cast("string"),
                                F.lit("/quality:80")))
        .when(c == 1, F.lit("resize:fill:100:50"))
        .when(c == 2, F.lit("crop:10:0"))
        .when(c == 3, F.lit("rotate:90"))
        .when(c == 4, F.lit("resize:fit:64"))
        .otherwise(F.lit(""))
    )
    slash = F.lit("/")
    rest = (
        F.when(c == 0, F.concat(ops, F.lit("/plain/"), url))
        .when(c == 1, F.concat(ops, F.lit("/plain/"), url, F.lit("@webp")))
        .when(c == 2, F.concat(ops, F.lit("/plain/"), enc))
        .when(c == 3, F.concat(ops, slash, b64))
        .when(c == 4, F.concat(ops, slash, b64, F.lit(".avif")))
        .otherwise(F.concat(F.lit("plain/"), url))
    )
    signed = sign_udf(F.concat(slash, rest))
    sig = F.when(d % 9 == 4, F.concat(signed, F.lit("x"))).otherwise(signed)
    path = (
        F.when(d % 13 == 0, F.concat(F.lit("sig"), ds))  # too short (url.rs:78-80)
        .when(c == 5, F.concat(F.lit("unsafe/"), rest))
        .otherwise(F.concat(sig, slash, rest))
    )
    # Materialize the synthesized (doc_id, path) fixture before parsing:
    # the parser fans the path expression into ~10 struct fields, and with
    # the sign UDF embedded Catalyst's project-collapse re-inlines the
    # whole construction tree into every field (optimizer blow-up measured
    # at minutes even at sf0.001).  Production parses paths that already
    # EXIST as a storage column — this write recreates that shape, exactly
    # like the streaming gate queries materialize their input drops.
    # Written ONCE per (session, sf_dir) under a scratch dir removed at
    # interpreter exit (pipeline/stage.make_scratch_dir).
    built = docs.select(ds.alias("doc_id"), path.alias("path"))
    paths = spark.read.parquet(_pathparse_fixture_dir(spark, sf_dir, built))
    parsed = paths.select("doc_id", parse_path_col(F.col("path")).alias("p"))
    p = F.col("p")
    sig_ok = (
        F.when(~p["valid"], F.lit(None).cast("boolean"))
        # unsigned passes only when the deployment allows it — it doesn't
        # here (service.rs:453-460, allow_unsigned=False)
        .when(p["signature"] == "unsafe", F.lit(CONFIG.allow_unsigned))
        .otherwise(verify_udf(p["signature"], p["path_to_sign"]))
    )
    return parsed.select(
        "doc_id",
        p["valid"].alias("valid"),
        p["ops"].alias("ops"),
        p["ext"].alias("ext"),
        p["ops_full"].alias("ops_full"),
        p["source_kind"].alias("source_kind"),
        p["source_raw"].alias("source_raw"),
        p["source_url"].alias("source_url"),
        p["path_to_sign"].alias("path_to_sign"),
        p["error"].alias("error"),
        sig_ok.alias("sig_ok"),
    )


SQL_PATH_PARSE = """WITH base AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id, doc_id AS d,
         'https://cdn.example.com/' || source || '/doc'
            || CAST(doc_id AS VARCHAR) || '.jpg' AS url
  FROM documents
), built AS (
  SELECT doc_id, d, url,
    CASE d % 6
      WHEN 0 THEN 'resize:fit:' || CAST(32 + d % 64 AS VARCHAR) || '/quality:80'
      WHEN 1 THEN 'resize:fill:100:50'
      WHEN 2 THEN 'crop:10:0'
      WHEN 3 THEN 'rotate:90'
      WHEN 4 THEN 'resize:fit:64'
      ELSE '' END AS ops,
    rtrim(translate(base64(encode(url)), '+/', '-_'), '=') AS b64,
    replace(replace(url, ':', '%3A'), '/', '%2F') AS enc
  FROM base
), built2 AS (
  SELECT *,
    CASE
      WHEN d % 6 = 0 THEN ops || '/plain/' || url
      WHEN d % 6 = 1 THEN ops || '/plain/' || url || '@webp'
      WHEN d % 6 = 2 THEN ops || '/plain/' || enc
      WHEN d % 6 = 3 THEN ops || '/' || b64
      WHEN d % 6 = 4 THEN ops || '/' || b64 || '.avif'
      ELSE 'plain/' || url END AS rest,
    CASE WHEN d % 6 = 1 THEN 'webp' WHEN d % 6 = 4 THEN 'avif' END AS x_ext
  FROM built
)
SELECT doc_id,
  d % 13 <> 0 AS valid,
  CASE WHEN d % 13 = 0 THEN NULL ELSE ops END AS ops,
  CASE WHEN d % 13 = 0 THEN NULL ELSE x_ext END AS ext,
  CASE WHEN d % 13 = 0 THEN NULL
       WHEN x_ext IS NOT NULL THEN ops || '/format:' || x_ext
       ELSE ops END AS ops_full,
  CASE WHEN d % 13 = 0 THEN NULL
       WHEN d % 6 IN (3, 4) THEN 'base64' ELSE 'plain' END AS source_kind,
  CASE WHEN d % 13 = 0 THEN NULL
       WHEN d % 6 = 2 THEN enc
       WHEN d % 6 IN (3, 4) THEN b64 ELSE url END AS source_raw,
  CASE WHEN d % 13 = 0 THEN NULL ELSE url END AS source_url,
  CASE WHEN d % 13 = 0 THEN NULL ELSE '/' || rest END AS path_to_sign,
  CASE WHEN d % 13 = 0 THEN 'Invalid URL format' END AS error,
  -- the HMAC itself cannot be recomputed in SQL; its VALIDITY pattern can:
  -- unsafe rows are rejected (allow_unsigned off), corrupted d%9==4 rows
  -- fail verification, every other valid row round-trips
  CASE WHEN d % 13 = 0 THEN NULL
       WHEN d % 6 = 5 THEN FALSE
       WHEN d % 9 = 4 THEN FALSE
       ELSE TRUE END AS sig_ok
FROM built2"""


# ---------------------------------------------------------------------------
# Admission: expiry + security caps (reference: service.rs:645-660, limits.rs)
# ---------------------------------------------------------------------------

_EXPIRES_TS = 1704070800  # 2024-01-01 01:00:00 UTC
_EXPIRY_CHAIN = f"expires:{_EXPIRES_TS}/crop:10:0/format:int32"


def q_admission_expires(spark: SparkSession, sf_dir: str) -> DataFrame:
    req = requests_df(spark, sf_dir, _EXPIRY_CHAIN)
    out = transform_requests(req, CONFIG, verify=False)
    return out.select(
        "doc_id",
        F.col("error").eqNullSafe(F.lit("Request expired")).alias("expired"),
        "status",  # 404 for expiry (service.rs:656 NOT_FOUND)
    )


SQL_ADMISSION_EXPIRES = f"""WITH {sql_requests_cte()}
SELECT doc_id, (doc_num % 7200) > 3600 AS expired,
       CAST(CASE WHEN (doc_num % 7200) > 3600 THEN 404 ELSE 200 END AS INTEGER) AS status
FROM req"""

_LIMITS_CHAIN = "max_src_file_size:512/crop:10:0/format:int32"
_LIMITS_CONFIG = EngineConfig(allow_security_options=True)


def q_admission_limits(spark: SparkSession, sf_dir: str) -> DataFrame:
    req = requests_df(spark, sf_dir, _LIMITS_CHAIN)
    out = transform_requests(req, _LIMITS_CONFIG, verify=False)
    return out.select(
        "doc_id",
        F.col("error").eqNullSafe(F.lit("Source image is too large")).alias("rejected"),
        "status",  # 400 for the size cap (service.rs:494 BAD_REQUEST)
    )


SQL_ADMISSION_LIMITS = f"""WITH {sql_requests_cte()}
SELECT doc_id, (n_tok * 4 > 512) AS rejected,
       CAST(CASE WHEN n_tok * 4 > 512 THEN 400 ELSE 200 END AS INTEGER) AS status
FROM req"""


def q_presets(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _op_query(_PRESET_CHAIN, _PRESETS)(spark, sf_dir)


# ---------------------------------------------------------------------------
# Encode-surface composite: format_quality + the output-shaping options
# that round 3 only parse-and-carried, now REAL output columns —
# content_disposition (service.rs:662-674: sanitized filename,
# inline/attachment) and meta_orientation (save.rs:66-72 metadata keep/
# strip; EXIF tag normalized to 1 once auto-rotate consumes it).
# Even docs: attachment + strip_metadata -> header set, metadata NULL.
# Odd docs: inline filename + auto_rotate:false -> original EXIF kept.
# ---------------------------------------------------------------------------

_EDGE_ENCODE_BASE = "format_quality:jpeg:100:avif:40"
_EDGE_ENCODE_A = (
    _EDGE_ENCODE_BASE
    + '/filename:report"2024/return_attachment:1/strip_metadata:true/format:jpeg'
)
_EDGE_ENCODE_B = (
    _EDGE_ENCODE_BASE + "/filename:summary.pdf/auto_rotate:false/format:jpeg"
)


def q_edge_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    req = requests_df(spark, sf_dir, _EDGE_ENCODE_A)
    d = F.col("doc_id").cast("long")
    req = req.withColumn(
        "ops",
        F.when(d % 2 == 0, F.lit(_EDGE_ENCODE_A)).otherwise(F.lit(_EDGE_ENCODE_B)),
    )
    out = transform_requests(req, CONFIG, verify=False)
    return out.select(
        "doc_id",
        "n_out",
        tokens_digest_col().alias("tokens_md5"),
        "dtype",
        "size_bytes",
        "quality",
        "fmt",
        "content_disposition",
        "meta_orientation",
    )


def _sql_edge_encode() -> str:
    # the header literals are written OUT here by hand (filename
    # sanitization '"' -> '_' applied), independent of the Python helper
    ia = oracle_transform_sql(_EDGE_ENCODE_A, digest_tokens=True)
    ib = oracle_transform_sql(_EDGE_ENCODE_B, digest_tokens=True)
    return f"""SELECT t.*, 'attachment; filename="report_2024"' AS content_disposition,
       CAST(NULL AS INTEGER) AS meta_orientation
FROM ({ia}) t WHERE CAST(doc_id AS BIGINT) % 2 = 0
UNION ALL
SELECT t.*, 'inline; filename="summary.pdf"' AS content_disposition,
       CAST(1 + CAST(doc_id AS BIGINT) % 8 AS INTEGER) AS meta_orientation
FROM ({ib}) t WHERE CAST(doc_id AS BIGINT) % 2 = 1"""


# ---------------------------------------------------------------------------
# Composite admission policy: bearer secret + MIME allowlist +
# skip_processing in ONE query (reference: service.rs:432-446 bearer,
# :500-510 MIME allowlist, options.rs:1128-1135 skip_processing).
# ---------------------------------------------------------------------------

# auto_rotate off so the non-skip arm is a pure truncate (EXIF coverage
# lives in op_exif_zoom / op_rotate_gif); the skip arm bypasses EXIF anyway
_POLICY_CHAIN = "skip_processing:int16/auto_rotate:false/resize:fit:24"
# Corrupted ops chain: an invalid option ARGUMENT fails typed parsing
# (options.rs typed-arm errors; imgforge rejects the request 400) — the
# parse-error class of the status taxonomy (service.rs:676-800).
_POLICY_BAD_CHAIN = "quality:notanint/format:int32"
_POLICY_BAD_ERROR = "Invalid integer for quality: notanint"
_POLICY_CONFIG = EngineConfig(
    bearer_token="tokforge-bearer",
    allowed_src_dtypes=("int32", "int16"),
)


def q_admission_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Four admission/bypass layers in one pass:
    - doc_id%5==0 rows carry a WRONG bearer -> filtered out entirely (403);
    - doc_id%7==3 rows carry a CORRUPTED ops chain (invalid option arg) ->
      parse-error row, status 400 (checked before every other gate, like
      the reference parses options before touching the source);
    - src_dtype uint8 (doc_id%3==2) is outside the allowlist -> error row;
    - src_dtype int16 (doc_id%3==1) matches skip_processing and the chain
      names no format -> full bypass (tokens untouched, quality 0);
    - src_dtype int32 rows run resize:fit:24 normally."""
    req = requests_df(spark, sf_dir, _POLICY_CHAIN)
    d = F.col("doc_id").cast("long")
    req = req.withColumn(
        "bearer",
        F.when(d % 5 == 0, F.lit("wrong-token")).otherwise(
            F.lit(_POLICY_CONFIG.bearer_token)
        ),
    ).withColumn(
        "ops",
        F.when(d % 7 == 3, F.lit(_POLICY_BAD_CHAIN)).otherwise(F.col("ops")),
    )
    out = transform_requests(req, _POLICY_CONFIG, verify=False)
    return out.select(
        "doc_id",
        "n_out",
        tokens_digest_col().alias("tokens_md5"),
        "dtype",
        "size_bytes",
        "quality",
        "fmt",
        "error",
        "status",  # 400 for the MIME-allowlist reject (service.rs:505)
    )


# The oracle mirrors all three layers by hand (the SQL generator rejects
# skip_processing chains by design — the bypass depends on src_dtype, which
# the generator's per-chain model does not branch on).  Derived tokens have
# no equal neighbours (constant stride 104729 % VOCAB != 0), so the RLE
# encode size is exactly n_out * elem_bytes; int16's `saturate` rule is the
# identity below VOCAB.
SQL_ADMISSION_POLICY = f"""WITH {sql_requests_cte()}
SELECT doc_id,
       CASE WHEN doc_num % 7 = 3 THEN 0
            WHEN doc_num % 3 = 2 THEN 0
            WHEN doc_num % 3 = 1 THEN n_tok
            ELSE least(n_tok, 24) END AS n_out,
       CASE WHEN doc_num % 7 = 3 THEN NULL
            WHEN doc_num % 3 = 2 THEN NULL
            WHEN doc_num % 3 = 1 THEN md5(array_to_string(tokens, ','))
            ELSE md5(array_to_string(list_slice(tokens, 1, least(n_tok, 24)), ','))
       END AS tokens_md5,
       CASE WHEN doc_num % 7 = 3 THEN NULL
            WHEN doc_num % 3 = 2 THEN NULL
            WHEN doc_num % 3 = 1 THEN 'int16'
            ELSE 'int32' END AS dtype,
       CAST(CASE WHEN doc_num % 7 = 3 THEN 0
            WHEN doc_num % 3 = 2 THEN 0
            WHEN doc_num % 3 = 1 THEN n_tok * 2
            ELSE least(n_tok, 24) * 4 END AS BIGINT) AS size_bytes,
       CASE WHEN doc_num % 7 = 3 THEN 0
            WHEN doc_num % 3 = 2 THEN 0
            WHEN doc_num % 3 = 1 THEN 0
            ELSE 85 END AS quality,
       CASE WHEN doc_num % 7 = 3 THEN NULL
            WHEN doc_num % 3 = 2 THEN NULL
            WHEN doc_num % 3 = 1 THEN 'int16'
            ELSE 'int32' END AS fmt,
       CASE WHEN doc_num % 7 = 3 THEN '{_POLICY_BAD_ERROR}'
            WHEN doc_num % 3 = 2 THEN 'Source type not allowed'
            ELSE NULL END AS error,
       CAST(CASE WHEN doc_num % 7 = 3 THEN 400
            WHEN doc_num % 3 = 2 THEN 400 ELSE 200 END AS INTEGER) AS status
FROM req
WHERE doc_num % 5 <> 0"""


# ---------------------------------------------------------------------------
# Windowed aggregations over `events` (rate-limit/metrics analogs,
# SURVEY.md §2.5)
# ---------------------------------------------------------------------------


def q_window_tumbling_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-minute tumbling AND 60s/30s sliding throughput accounting in one
    tagged union (token-bucket ledger; reference: app.rs:136-156 rate
    limiter + monitoring.rs counters).  Both are single-shuffle streaming-
    compatible window aggs; the tag keeps each family driver-gated."""
    ev = load_events(spark, sf_dir)
    tumbling = (
        ev.groupBy(F.window("ts", "1 minute").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.lit("tumbling").alias("wtype"),
            F.unix_timestamp(F.col("w.start")).alias("window_start_s"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )
    sliding = (
        ev.groupBy(F.window("ts", "60 seconds", "30 seconds").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.lit("sliding").alias("wtype"),
            F.unix_timestamp(F.col("w.start")).alias("window_start_s"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )
    # epoch seconds, not raw timestamps: a timestamp cell's tz/precision
    # treatment inside an external canonicalizer is an avoidable risk
    return tumbling.unionByName(sliding)


SQL_WINDOW_TUMBLING_SLIDING = """SELECT 'tumbling' AS wtype,
       CAST(epoch(time_bucket(INTERVAL 1 MINUTE, ts)) AS BIGINT) AS window_start_s,
       event_type,
       count(*) AS n_events,
       round(sum(value), 2) AS sum_value
FROM events
GROUP BY 2, 3
UNION ALL
SELECT 'sliding' AS wtype, CAST(epoch(ws) AS BIGINT) AS window_start_s, event_type,
       count(*) AS n_events, round(sum(value), 2) AS sum_value
FROM (
  SELECT event_type, ts, value,
         unnest([time_bucket(INTERVAL 30 SECOND, ts),
                 time_bucket(INTERVAL 30 SECOND, ts) - INTERVAL 30 SECOND]) AS ws
  FROM events
)
WHERE ts >= ws AND ts < ws + INTERVAL 60 SECOND
GROUP BY 2, 3"""


def q_window_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows per user with a 5-minute gap (burst coalescing;
    SURVEY.md §2.5 request-burst sessions).

    The events file is a single unsplittable row group, so the built-in
    plan's map-side sessionization ran serial; repartitioning the NARROW
    projection (ts, user_id) by the session key moves the sort/merge work
    onto the session's full parallelism and satisfies the agg's
    distribution with the same single shuffle (r8: 1.06s -> 0.61s at
    sf1.0, rows verified identical).  Hash-by-key, not round-robin: no
    sort-before-repartition pass and replay-deterministic placement."""
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    ev = (
        load_events(spark, sf_dir)
        .select("ts", "user_id")
        .repartition(n_part, F.col("user_id"))
    )
    return (
        ev.groupBy(F.session_window("ts", "5 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.unix_timestamp(F.col("w.start")).alias("session_start_s"),
            F.unix_timestamp(F.col("w.end")).alias("session_end_s"),
            "n_events",
        )
    )


SQL_WINDOW_SESSION = """WITH flagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   > INTERVAL 5 MINUTE OR
                   lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events
), sessions AS (
  SELECT user_id, ts,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS session_id
  FROM flagged
)
SELECT user_id,
       CAST(floor(epoch(min(ts))) AS BIGINT) AS session_start_s,
       CAST(floor(epoch(max(ts) + INTERVAL 5 MINUTE)) AS BIGINT) AS session_end_s,
       count(*) AS n_events
FROM sessions
GROUP BY user_id, session_id"""


_RL_QUOTA = 5


def q_ratelimit_admission(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic token-bucket admission: within each (event_type, minute)
    the first N=5 events in event-time order are admitted, the rest get the
    429 analog (reference: middleware.rs:38-51)."""
    ev = load_events(spark, sf_dir)
    w = Window.partitionBy(
        F.window("ts", "1 minute")["start"], F.col("event_type")
    ).orderBy("ts", "event_id")
    return ev.select(
        "event_id",
        "event_type",
        (F.row_number().over(w) <= _RL_QUOTA).alias("admitted"),
    )


SQL_RATELIMIT_ADMISSION = f"""SELECT event_id, event_type,
       row_number() OVER (
         PARTITION BY time_bucket(INTERVAL 1 MINUTE, ts), event_type
         ORDER BY ts, event_id
       ) <= {_RL_QUOTA} AS admitted
FROM events"""


def q_metrics_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source processing metrics (Prometheus counters analog,
    monitoring.rs:6-75) over the request table."""
    req = requests_df(spark, sf_dir, OP_CHAINS_EXTRA["op_resize_fit"])
    return req.groupBy("source").agg(
        F.count("*").alias("n_requests"),
        F.sum("n_tok").alias("sum_tokens"),
        F.round(F.avg("n_tok"), 4).alias("avg_tokens"),
        F.max("n_tok").alias("max_tokens"),
    )


SQL_METRICS_BY_SOURCE = f"""WITH {sql_requests_cte()}
SELECT source,
       count(*) AS n_requests,
       CAST(sum(n_tok) AS BIGINT) AS sum_tokens,
       round(avg(n_tok), 4) AS avg_tokens,
       max(n_tok) AS max_tokens
FROM req
GROUP BY source"""


def q_cache_hit_miss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch analog of the processed-image cache (service.rs:241-250/312-322):
    replicate each request 3x at +10min steps; the event-time-first row per
    cache key computes (MISS), later ones are served from state (HIT)."""
    req = requests_df(spark, sf_dir, OP_CHAINS_EXTRA["op_resize_fit"])
    reps = spark.range(3).select(F.col("id").alias("rep"))
    req3 = req.crossJoin(F.broadcast(reps)).select(
        "doc_id",
        "rep",
        (F.unix_timestamp("ts") + F.col("rep") * 600).alias("ts_unix"),
        F.concat(F.lit("src:/"), F.col("ops"), F.lit("/"), F.col("doc_id")).alias(
            "cache_key"
        ),
    )
    w = Window.partitionBy("cache_key").orderBy("ts_unix", "rep")
    return req3.select(
        "doc_id",
        "rep",
        F.when(F.row_number().over(w) == 1, "MISS").otherwise("HIT").alias(
            "cache_status"
        ),
    )


SQL_CACHE_HIT_MISS = f"""WITH {sql_requests_cte()}
SELECT doc_id, rep,
       CASE WHEN rep = 0 THEN 'MISS' ELSE 'HIT' END AS cache_status
FROM req, (SELECT unnest([CAST(0 AS BIGINT), 1, 2]) AS rep)"""


_TOPK = 20


def q_topk_longest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k outputs by encoded size (limit/top-k surface; deterministic
    tie-break on doc_id).  Two-phase: local top-k inside each partition,
    then the final rank over <= k * n_partitions survivors — a bare global
    window would funnel the whole transform output through one reducer."""
    from tokforge.pipeline.similarity import topk_per_key

    req = requests_df(spark, sf_dir, OP_CHAINS["op_chain_flagship"])
    out = transform_requests(req, CONFIG, verify=False)
    scored = out.select("doc_id", "size_bytes", F.lit(1).alias("_g"))
    return topk_per_key(
        scored, "_g", [F.desc("size_bytes"), F.col("doc_id")], _TOPK
    ).select("doc_id", "size_bytes", "rank")


def _sql_topk_longest() -> str:
    inner = oracle_transform_sql(OP_CHAINS["op_chain_flagship"], digest_tokens=False)
    return f"""WITH txout AS ({inner})
SELECT doc_id, size_bytes, rank FROM (
  SELECT doc_id, size_bytes,
         CAST(row_number() OVER (ORDER BY size_bytes DESC, doc_id) AS INTEGER) AS rank
  FROM txout
) WHERE rank <= {_TOPK}"""


def q_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The /info endpoint analog (service.rs:340-425 image_info): post-
    transform metadata incl. sentinel detection (has_alpha analog)."""
    req = requests_df(spark, sf_dir, OP_CHAINS_EXTRA["op_watermark"])
    out = transform_requests(req, CONFIG, verify=False)
    return out.select(
        "doc_id",
        "n_out",
        "dtype",
        "size_bytes",
        F.array_max("tokens_out").alias("max_token"),
        (F.array_max("tokens_out") >= 50300).alias("has_sentinel"),
    )


def _sql_info() -> str:
    inner = oracle_transform_sql(OP_CHAINS_EXTRA["op_watermark"], digest_tokens=False)
    return f"""WITH txout AS ({inner})
SELECT doc_id, n_out, dtype, size_bytes,
       list_max(tokens_out) AS max_token,
       list_max(tokens_out) >= 50300 AS has_sentinel
FROM txout"""


# ---------------------------------------------------------------------------
# Registry
# ---------------------------------------------------------------------------


def _pipeline_registry():
    from tokforge.pipeline.assembly import ASSEMBLY_QUERIES
    from tokforge.pipeline.corpusops import CORPUSOPS_QUERIES
    from tokforge.pipeline.product import PRODUCT_QUERIES
    from tokforge.pipeline.dedup import DEDUP_QUERIES
    from tokforge.pipeline.multimodal import MULTIMODAL_QUERIES
    from tokforge.pipeline.similarity import SIMILARITY_QUERIES
    from tokforge.pipeline.text import TEXT_QUERIES
    from tokforge.streaming.queries import STREAMING_QUERIES

    merged = {}
    merged.update(DEDUP_QUERIES)
    merged.update(SIMILARITY_QUERIES)
    merged.update(ASSEMBLY_QUERIES)
    merged.update(CORPUSOPS_QUERIES)
    merged.update(PRODUCT_QUERIES)
    merged.update(TEXT_QUERIES)
    merged.update(MULTIMODAL_QUERIES)
    merged.update(STREAMING_QUERIES)
    return merged


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Exactly 50 entries, ordered so every distinct operator family is
    inside the driver's correctness window: auth/admission/windows/cache
    first (round 1 left them unchecked), then pipeline, then op chains."""
    q: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    q["sig_validate"] = q_sig_validate
    q["path_parse"] = q_path_parse
    # admission_expires / window_session / ratelimit_admission rotated out
    # in r7 for the tokenizer-layer rows: expires is one arm of the same
    # status taxonomy still gated by admission_limits + admission_policy;
    # session windows' burst-coalescing stays pytest-asserted and the
    # windowing surface stays gated via window_tumbling_sliding; the rate
    # limiter keeps its STREAMING gated row (stream_ratelimit, the
    # recursive-CTE oracle).  Full oracle equality for all three kept by
    # test_rotated_out_oracles (ENGINE_QUERIES_EXTRA).
    q["admission_limits"] = q_admission_limits
    q["admission_policy"] = q_admission_policy
    q["op_presets"] = q_presets
    q["window_tumbling_sliding"] = q_window_tumbling_sliding
    # metrics_by_source rotated out in r6 for the CEP pattern row: a plain
    # per-source GROUP BY count/sum/avg is a strict subset of the gated
    # window_tumbling_sliding aggregation surface, and the listener half
    # of the metrics story was never in the gated row anyway
    # (test_observe_metrics_listener); full oracle equality kept by
    # test_rotated_out_oracles via ENGINE_QUERIES_EXTRA.
    # cache HIT/MISS is driver-gated via the REAL stream (stream_cache_counts);
    # the batch analog q_cache_hit_miss stays pytest-covered, its slot now
    # gates the stream-stream invalidation join (north rule 'stateful join')
    q["topk_longest"] = q_topk_longest
    q["info"] = q_info
    for name, (fn, _sql) in _pipeline_registry().items():
        q[name] = fn
    for name, chain in OP_CHAINS.items():
        q[name] = _op_query(chain)
    # the encode composite gates the shaped output columns (variant chain)
    q["op_edge_encode"] = q_edge_encode
    return q


def oracle_sql() -> dict[str, str]:
    o: dict[str, str] = {}
    o["sig_validate"] = SQL_SIG_VALIDATE
    o["path_parse"] = SQL_PATH_PARSE
    o["admission_limits"] = SQL_ADMISSION_LIMITS
    o["admission_policy"] = SQL_ADMISSION_POLICY
    o["op_presets"] = oracle_transform_sql(_PRESET_CHAIN, _PRESETS, digest_tokens=True)
    o["window_tumbling_sliding"] = SQL_WINDOW_TUMBLING_SLIDING
    o["topk_longest"] = _sql_topk_longest()
    o["info"] = _sql_info()
    for name, (_fn, sql) in _pipeline_registry().items():
        if sql is not None:  # None => non-SQL-expressible, rows-only check
            o[name] = sql
    for name, chain in OP_CHAINS.items():
        o[name] = oracle_transform_sql(chain, digest_tokens=True)
    o["op_edge_encode"] = _sql_edge_encode()
    return o


# Rotated out of the driver's 50-slot window (r6: metrics_by_source; r7:
# the three admission/window/ratelimit rows and four op chains — see the
# queries() / OP_CHAINS_ROTATED comments for the coverage argument); full
# Spark↔DuckDB equality kept by tests/test_rotated_out_oracles.py.
ENGINE_QUERIES_EXTRA = {
    "metrics_by_source": (q_metrics_by_source, SQL_METRICS_BY_SOURCE),
    "admission_expires": (q_admission_expires, SQL_ADMISSION_EXPIRES),
    "window_session": (q_window_session, SQL_WINDOW_SESSION),
    "ratelimit_admission": (q_ratelimit_admission, SQL_RATELIMIT_ADMISSION),
    **{
        name: (_op_query(chain), oracle_transform_sql(chain, digest_tokens=True))
        for name, chain in OP_CHAINS_ROTATED.items()
    },
}
