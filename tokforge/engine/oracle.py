"""DuckDB oracle-SQL generator for the transform chain.

``oracle_transform_sql(ops)`` parses an ops chain with the SAME parser the
engine uses (tokforge.plans.options) and emits ANSI-ish DuckDB SQL that
reproduces the numpy kernel bit-for-bit: integer floor division for all
index math, ``floor(x + 0.5)`` rounding, IEEE-double intermediates (every
float literal is CAST AS DOUBLE so DuckDB does not fall back to DECIMAL).

Because the emitter consumes the typed Plan — not its own re-parse — the
only drift surface between Spark result and SQL oracle is kernel-vs-emitter,
which tests/test_oracle_parity.py cross-checks op by op.
"""

from __future__ import annotations

from typing import Optional

from tokforge.constants import (
    DEFAULT_QUALITY,
    FORMAT_SPECS,
    SENTINEL_BASE,
    SENTINEL_MAX,
    VOCAB,
    WM_FRACTION_DEN,
    WM_MARGIN_FRAC,
)
from tokforge.operators.kernel import (
    LANCZOS_A,
    LANCZOS_PI,
    _avif_subsample,
    _jpeg_progressive,
    _palette_colors,
    quality_step,
)
from tokforge.plans.options import Plan, parse_chain
from tokforge.sources.requests import sql_requests_cte

_GRAV_START = ("we", "nowe", "sowe")
_GRAV_END = ("ea", "noea", "soea")


def _dbl(x: float) -> str:
    """Exact IEEE-double literal.  The cast goes through a STRING: DuckDB
    types a bare numeric literal as DECIMAL first, and DECIMAL->DOUBLE can
    land one ULP away from the Python/numpy double of the same digits
    (found by hypothesis: 1.0-0.07 -> 0.9299999999999999 parsed as DECIMAL
    becomes 0.93's double, flipping floor(x+0.5) boundaries).  A quoted
    string parses directly as a double, bit-identical to Python's."""
    return f"CAST('{x!r}' AS DOUBLE)"


def _clamp(expr: str, lo: int = 0, hi: int = VOCAB - 1) -> str:
    return f"greatest({lo}, least({hi}, {expr}))"


def _rev(t: str) -> str:
    return f"list_reverse({t})"


def _rot(t: str, k: int) -> str:
    """Cyclic left shift by (k * len) // 4 (kernel op_rotate)."""
    shift = f"(({k} * len({t})) // 4)"
    return (
        f"(CASE WHEN len({t}) = 0 THEN {t} ELSE "
        f"list_concat(list_slice({t}, {shift} + 1, len({t})), "
        f"list_slice({t}, 1, {shift})) END)"
    )


def _resample(t: str, target: str, algorithm: Optional[str] = None) -> str:
    """Algorithm-aware resample (kernel.resample):
    - nearest: out[i] = t[(i*n)//target + 1]
    - linear:  floor(t[lo] + (t[hi]-t[lo])*frac + 0.5)
    - cubic: Catmull-Rom over 4 clamped neighbours, floor(.+0.5), clamped
    - lanczos2/lanczos3: windowed sinc over 2a clamped neighbours (taps
      j in [-(a-1), a]), weights normalized to unit sum, frac == 0 is the
      identity tap (kernel.lanczos_taps is the expression-order source).
    Expression text mirrors the numpy evaluation order exactly (IEEE
    doubles are deterministic when the op order matches; DuckDB's sin is
    bit-identical to numpy's on identical double inputs — verified).

    The whole expression is guarded on len(t) = 0: the kernel returns an
    empty array for empty input, never `target` NULLs."""
    algo = (algorithm or "nearest").lower()
    n = f"len({t})"

    def _guard(expr: str) -> str:
        # kernel.resample degenerate-input rule: empty in -> empty out
        return f"(CASE WHEN {n} = 0 THEN list_slice({t}, 1, 0) ELSE {expr} END)"

    if algo == "nearest":
        return _guard(
            f"list_transform(range({target}), i -> {t}[CAST((i * {n}) // ({target}) AS BIGINT) + 1])"
        )
    lo = f"((i * {n}) // ({target}))"
    frac = f"(CAST((i * {n}) % ({target}) AS DOUBLE) / ({target}))"
    if algo == "linear":
        t_lo = f"CAST({t}[{lo} + 1] AS DOUBLE)"
        t_hi = f"CAST({t}[least({lo} + 2, {n})] AS DOUBLE)"
        val = f"{t_lo} + ({t_hi} - {t_lo}) * {frac}"
        return _guard(
            f"list_transform(range({target}), i -> "
            f"CAST(floor({val} + 0.5) AS BIGINT))"
        )
    if algo == "cubic":
        f_ = frac
        w0 = f"(0.5 * (-{f_} * {f_} * {f_} + 2.0 * {f_} * {f_} - {f_}))"
        w1 = f"(0.5 * (3.0 * {f_} * {f_} * {f_} - 5.0 * {f_} * {f_} + 2.0))"
        w2 = f"(0.5 * (-3.0 * {f_} * {f_} * {f_} + 4.0 * {f_} * {f_} + {f_}))"
        w3 = f"(0.5 * ({f_} * {f_} * {f_} - {f_} * {f_}))"
        p0 = f"CAST({t}[greatest({lo} - 1, 0) + 1] AS DOUBLE)"
        p1 = f"CAST({t}[{lo} + 1] AS DOUBLE)"
        p2 = f"CAST({t}[least({lo} + 1, {n} - 1) + 1] AS DOUBLE)"
        p3 = f"CAST({t}[least({lo} + 2, {n} - 1) + 1] AS DOUBLE)"
        val = f"{w0} * {p0} + {w1} * {p1} + {w2} * {p2} + {w3} * {p3}"
        return _guard(
            f"list_transform(range({target}), i -> "
            f"{_clamp(f'CAST(floor({val} + 0.5) AS BIGINT)')})"
        )
    if algo in LANCZOS_A:
        a = LANCZOS_A[algo]
        pi = _dbl(LANCZOS_PI)
        A = f"CAST({a} AS DOUBLE)"
        w_terms: list[str] = []
        num_terms: list[str] = []
        for j in range(-(a - 1), a + 1):
            x = f"(CAST({j} AS DOUBLE) - {frac})"
            px = f"({pi} * {x})"
            w = f"((({A} * sin({px})) * sin({px} / {A})) / ({px} * {px}))"
            tap = f"CAST({t}[greatest(least({lo} + {j}, {n} - 1), 0) + 1] AS DOUBLE)"
            w_terms.append(w)
            num_terms.append(f"{w} * {tap}")
        num = " + ".join(num_terms)
        den = "(" + " + ".join(w_terms) + ")"
        val = (
            f"(CASE WHEN ((i * {n}) % ({target})) = 0 "
            f"THEN CAST({t}[{lo} + 1] AS DOUBLE) "
            f"ELSE (({num}) / {den}) END)"
        )
        return _guard(
            f"list_transform(range({target}), i -> "
            f"{_clamp(f'CAST(floor({val} + 0.5) AS BIGINT)')})"
        )
    raise ValueError(f"Invalid resizing algorithm: {algo}")


def _rep(value: str, count: str) -> str:
    return f"list_transform(range(greatest({count}, 0)), __r -> CAST({value} AS BIGINT))"


def _gravity_off(gravity: Optional[str], extra: str) -> str:
    if gravity in _GRAV_START:
        return "0"
    if gravity in _GRAV_END:
        return f"({extra})"
    return f"(({extra}) // 2)"


class _Steps:
    """Accumulates chained CTE steps; each step rewrites the running token
    column ``t`` (SELECT * REPLACE) or adds uniquely-named aux columns."""

    def __init__(self, base_sql: str):
        self.ctes: list[str] = [base_sql]
        self.idx = 0
        self.current = "base"

    def replace_t(self, expr: str, aux: Optional[list[tuple[str, str]]] = None) -> None:
        self.idx += 1
        name = f"s{self.idx}"
        if aux:
            aux_name = f"a{self.idx}"
            aux_cols = ", ".join(f"{e} AS {n}" for n, e in aux)
            self.ctes.append(f"{aux_name} AS (SELECT *, {aux_cols} FROM {self.current})")
            self.ctes.append(f"{name} AS (SELECT * REPLACE ({expr} AS t) FROM {aux_name})")
        else:
            self.ctes.append(f"{name} AS (SELECT * REPLACE ({expr} AS t) FROM {self.current})")
        self.current = name

    def add_aux(self, aux: list[tuple[str, str]]) -> None:
        self.idx += 1
        name = f"s{self.idx}"
        aux_cols = ", ".join(f"{e} AS {n}" for n, e in aux)
        self.ctes.append(f"{name} AS (SELECT *, {aux_cols} FROM {self.current})")
        self.current = name


def _emit_blur_expr(t: str, window: int, clamp: bool) -> str:
    """Replicate-padded moving mean with floor(x+0.5) (kernel
    _moving_average_floor)."""
    h = window // 2
    inner = (
        f"list_sum(list_transform(range(i - {h}, i + {h} + 1), "
        f"j -> {t}[1 + greatest(0, least(j, len({t}) - 1))]))"
    )
    mean = f"CAST(floor(CAST({inner} AS DOUBLE) / {window} + 0.5) AS BIGINT)"
    if clamp:
        mean = _clamp(mean)
    return f"list_transform(range(len({t})), i -> {mean})"


def _size_bytes_expr(t: str, elem_bytes: int) -> str:
    """Run-length encoded size (kernel encoded_size_bytes)."""
    runs = f"1 + len(list_filter(range(1, len({t})), i -> {t}[i + 1] != {t}[i]))"
    return f"CAST(CASE WHEN len({t}) = 0 THEN 0 ELSE ({runs}) * {elem_bytes} END AS BIGINT)"


def _tokens_select(digest_tokens: bool) -> str:
    """The token output column: either the raw array (for composing
    queries that need element access) or a deterministic md5 digest of the
    comma-joined values — the digest is sortable/hashable by the driver's
    canonicalizer, which cannot handle array cells.  Spark mirror:
    ``md5(concat_ws(',', cast(tokens_out as array<string>)))``."""
    if digest_tokens:
        return "md5(array_to_string(t, ',')) AS tokens_md5"
    return "list_transform(t, x -> CAST(x AS INTEGER)) AS tokens_out"


def oracle_transform_sql(
    ops: str,
    presets: dict[str, str] | None = None,
    default_format: str | None = None,
    where: str | None = None,
    digest_tokens: bool = False,
) -> str:
    """Full DuckDB query reproducing ``transform_requests_arrow`` output columns
    (doc_id, n_out, tokens_out|tokens_md5, dtype, size_bytes, quality, fmt)
    for one fixed ops chain over the driver's `documents` table."""
    plan: Plan = parse_chain(ops, presets)
    if plan.skip_processing:
        # The kernel's skip_processing bypass depends on per-row src_dtype
        # matching; emitting fixed-format SQL would silently drift.  Fail at
        # registration instead (covered by pytest kernel-vs-rect parity).
        raise ValueError("oracle_transform_sql does not support skip_processing chains")
    steps = _Steps(
        "base AS (SELECT doc_id, doc_num, orientation, src_dtype, ts, "
        "list_transform(tokens, x -> CAST(x AS BIGINT)) AS t FROM req"
        + (f" WHERE {where}" if where else "")
        + ")"
    )

    # --- raw / skip_processing bypasses are data-independent for a fixed
    # chain except skip_processing's src_dtype match; handle raw fully and
    # restrict skip_processing chains to pytest (engine vs kernel) checks.
    if plan.raw:
        dtype_case = (
            "CASE src_dtype WHEN 'int16' THEN 'int16' WHEN 'uint8' THEN 'int16' "
            "WHEN 'int64' THEN 'int64' ELSE 'int32' END"
        )
        elem_case = (
            "CASE src_dtype WHEN 'int16' THEN 2 WHEN 'uint8' THEN 2 "
            "WHEN 'int64' THEN 8 ELSE 4 END"
        )
        runs = "1 + len(list_filter(range(1, len(t)), i -> t[i + 1] != t[i]))"
        return (
            f"WITH {sql_requests_cte()},\n"
            + ",\n".join(steps.ctes)
            + f"""
SELECT doc_id,
       CAST(len(t) AS INTEGER) AS n_out,
       {_tokens_select(digest_tokens)},
       {dtype_case} AS dtype,
       CAST(CASE WHEN len(t) = 0 THEN 0 ELSE ({runs}) * ({elem_case}) END AS BIGINT) AS size_bytes,
       CAST(0 AS INTEGER) AS quality,
       src_dtype AS fmt
FROM {steps.current}"""
        )

    out_fmt = (plan.format or default_format or "__src__").lower()
    if out_fmt != "__src__" and out_fmt not in FORMAT_SPECS:
        raise ValueError(f"Unsupported format for oracle: {out_fmt}")

    # DPR rewrite (kernel: plan-level, build time here).
    if plan.dpr is not None and plan.dpr > 1.0:
        import math

        if plan.resize is not None:
            plan.resize.width = math.floor(plan.resize.width * plan.dpr + 0.5)
            plan.resize.height = math.floor(plan.resize.height * plan.dpr + 0.5)
        if plan.padding is not None:
            plan.padding = tuple(
                math.floor(p * plan.dpr + 0.5) for p in plan.padding
            )  # type: ignore[assignment]

    # EXIF auto-rotate (kernel op_exif_orientation).
    if plan.auto_rotate:
        expr = (
            "CASE orientation "
            f"WHEN 2 THEN {_rev('t')} "
            f"WHEN 3 THEN {_rot('t', 2)} "
            f"WHEN 5 THEN {_rev(_rot('t', 1))} "
            f"WHEN 6 THEN {_rot('t', 1)} "
            f"WHEN 7 THEN {_rev(_rot('t', 3))} "
            f"WHEN 8 THEN {_rot('t', 3)} "
            "ELSE t END"
        )
        steps.replace_t(expr)

    # Crop (kernel op_crop).
    if plan.crop is not None:
        w = plan.crop.width
        w_expr = f"(CASE WHEN {w} = 0 THEN len(t) ELSE least({w}, len(t)) END)"
        if plan.crop.gravity is not None:
            off = _gravity_off(plan.crop.gravity, f"len(t) - {w_expr}")
        else:
            off = "0"
        steps.add_aux([("cw", w_expr), ("coff", off)])
        steps.replace_t("list_slice(t, coff + 1, coff + cw)")

    # Resize with enlarge gate (kernel apply_plan resize block).
    resolved_target: Optional[int] = None
    if plan.resize is not None:
        rw, rh = plan.resize.width, plan.resize.height
        if rw == 0 and rh == 0:
            raise ValueError("resize requires at least one non-zero dimension")
        target = rw if rw != 0 else rh
        resolved_target = target
        rtype = plan.resize.resizing_type or "fit"
        g = plan.gravity

        ra = plan.resizing_algorithm
        fit_expr = (
            f"CASE WHEN {target} < len(t) THEN list_slice(t, 1, {target}) "
            f"WHEN {target} > len(t) THEN {_resample('t', str(target), ra)} ELSE t END"
        )
        fill_off = _gravity_off(g if g else "ce", f"len(t) - {target}")
        fill_expr = (
            f"CASE WHEN {target} <= len(t) THEN "
            f"list_slice(t, {fill_off} + 1, {fill_off} + {target}) "
            f"ELSE {_resample('t', str(target), ra)} END"
        )
        force_expr = (
            f"CASE WHEN len(t) = 0 THEN t ELSE "
            f"list_transform(range({target}), i -> t[(i % len(t)) + 1]) END"
        )
        if rtype == "fit":
            apply_expr = fit_expr
        elif rtype == "fill":
            apply_expr = fill_expr
        elif rtype == "force":
            apply_expr = force_expr
        elif rtype == "auto":
            apply_expr = (
                f"CASE WHEN len(t) >= {target} THEN ({fill_expr}) ELSE ({fit_expr}) END"
            )
        else:
            raise ValueError(f"Unknown resize type: {rtype}")

        if not plan.enlarge:
            expr = f"CASE WHEN {target} > len(t) THEN t ELSE ({apply_expr}) END"
        else:
            expr = apply_expr
        steps.replace_t(expr)

    # Min dims (kernel op_min_length).
    if plan.min_width is not None or plan.min_height is not None:
        mw = plan.min_width or 0
        mh = plan.min_height or 0
        tgt = (
            f"greatest(CASE WHEN len(t) < {mw} THEN {mw} ELSE 0 END, "
            f"CASE WHEN len(t) < {mh} THEN {mh} ELSE 0 END)"
        )
        steps.add_aux([("mtgt", tgt)])
        steps.replace_t(
            f"CASE WHEN mtgt > len(t) THEN "
            f"{_resample('t', 'mtgt', plan.resizing_algorithm)} ELSE t END"
        )

    # Zoom (kernel op_zoom).
    if plan.zoom is not None:
        tgt = f"greatest(CAST(floor(len(t) * {_dbl(plan.zoom)} + 0.5) AS BIGINT), 0)"
        steps.add_aux([("ztgt", tgt)])
        steps.replace_t(
            f"CASE WHEN ztgt = len(t) OR len(t) = 0 THEN t "
            f"WHEN ztgt <= 0 THEN list_slice(t, 1, 0) "
            f"ELSE {_resample('t', 'ztgt', plan.resizing_algorithm)} END"
        )

    from tokforge.operators.kernel import default_bg_token

    bg_token = default_bg_token(plan.background)

    # Extend (kernel apply_plan extend block).
    if plan.extend and resolved_target is not None:
        off = _gravity_off(plan.gravity if plan.gravity else "ce", f"{resolved_target} - len(t)")
        steps.add_aux([("exoff", f"CASE WHEN len(t) < {resolved_target} THEN {off} ELSE 0 END")])
        steps.replace_t(
            f"CASE WHEN len(t) < {resolved_target} THEN "
            f"list_concat(list_concat({_rep(str(bg_token), 'exoff')}, t), "
            f"{_rep(str(bg_token), f'{resolved_target} - len(t) - exoff')}) ELSE t END"
        )

    # Padding (kernel: 1-D left/right only).
    if plan.padding is not None:
        _top, right, _bottom, left = plan.padding
        steps.replace_t(
            f"list_concat(list_concat({_rep(str(bg_token), str(left))}, t), "
            f"{_rep(str(bg_token), str(right))})"
        )

    # Rotation.
    if plan.rotation is not None and plan.rotation % 360 != 0:
        steps.replace_t(_rot("t", (plan.rotation // 90) % 4))

    # Flip.
    if plan.flip is not None and plan.flip.horizontal:
        steps.replace_t(_rev("t"))

    # Adjust: brightness -> contrast -> saturation.
    if plan.adjust is not None:
        if plan.adjust.brightness != 0:
            steps.replace_t(
                f"list_transform(t, x -> {_clamp(f'x + {plan.adjust.brightness}')})"
            )
        if abs(plan.adjust.contrast - 1.0) > 1e-9:
            steps.add_aux([("cm", "CAST(CASE WHEN len(t)=0 THEN 0 ELSE list_sum(t) // len(t) END AS BIGINT)")])
            inner = (
                f"cm + CAST(floor({_dbl(plan.adjust.contrast)} * "
                f"(CAST(x AS DOUBLE) - cm) + 0.5) AS BIGINT)"
            )
            steps.replace_t(f"list_transform(t, x -> {_clamp(inner)})")
        if abs(plan.adjust.saturation - 1.0) > 1e-9:
            s = plan.adjust.saturation
            steps.add_aux([("sm", "CAST(CASE WHEN len(t)=0 THEN 0 ELSE list_sum(t) // len(t) END AS BIGINT)")])
            inner = (
                f"CAST(floor({_dbl(s)} * CAST(x AS DOUBLE) + "
                f"{_dbl(1.0 - s)} * CAST(sm AS DOUBLE) + 0.5) AS BIGINT)"
            )
            steps.replace_t(f"list_transform(t, x -> {_clamp(inner)})")

    # Blur.
    if plan.blur is not None:
        import math

        window = 2 * math.ceil(plan.blur) + 1
        steps.replace_t(_emit_blur_expr("t", window, clamp=True))

    # Sharpen: 2*t - blur(t), clamped.
    if plan.sharpen is not None:
        import math

        sigma_c = min(max(plan.sharpen, 0.1), 10.0)
        window = 2 * math.ceil(sigma_c) + 1
        steps.add_aux([("shb", _emit_blur_expr("t", window, clamp=False))])
        steps.replace_t(
            f"list_transform(range(len(t)), i -> {_clamp('2 * t[i + 1] - shb[i + 1]')})"
        )

    # Pixelate.
    if plan.pixelate is not None and plan.pixelate > 1:
        a = plan.pixelate
        steps.replace_t(
            f"list_transform(range(len(t)), i -> t[(i // {a}) * {a} + 1])"
        )

    # Watermark (kernel op_watermark).
    if plan.watermark is not None:
        o = plan.watermark.opacity
        pos = plan.watermark.position
        wm_len = f"least((len(t) + {WM_FRACTION_DEN - 1}) // {WM_FRACTION_DEN}, len(t))"
        margin = f"CAST(floor(len(t) * {_dbl(WM_MARGIN_FRAC)} + 0.5) AS BIGINT)"
        if pos in _GRAV_START:
            x_raw = "wmarg"
        elif pos in _GRAV_END:
            x_raw = "len(t) - wlen - wmarg"
        else:
            x_raw = "(len(t) - wlen) // 2"
        steps.add_aux([("wlen", wm_len), ("wmarg", margin)])
        steps.add_aux([("wx", f"greatest(0, least({x_raw}, len(t) - wlen))")])
        if plan.watermark_url:
            # Custom watermark payload (reference: watermark.rs:25-97 decodes
            # an arbitrary watermark source; wmu arg in options.rs).  The
            # chain is fixed, so the decoded payload is a SQL literal.
            from tokforge.operators.kernel import watermark_payload_tokens

            payload = [int(x) for x in watermark_payload_tokens(plan.watermark_url)]
            lit = "[" + ", ".join(str(x) for x in payload) + "]"
            wm_val = f"(CAST({lit} AS BIGINT[]))[((i - wx) % {len(payload)}) + 1]"
        else:
            wm_val = f"{SENTINEL_BASE} + ((i - wx) % 100)"
        blend = (
            f"CAST(floor({_dbl(o)} * CAST({wm_val} AS DOUBLE) + "
            f"{_dbl(1.0 - o)} * CAST(t[i + 1] AS DOUBLE) + 0.5) AS BIGINT)"
        )
        steps.replace_t(
            f"CASE WHEN len(t) = 0 THEN t ELSE list_transform(range(len(t)), i -> "
            f"CASE WHEN i >= wx AND i < wx + wlen THEN "
            f"{_clamp(blend, 0, SENTINEL_MAX)} ELSE t[i + 1] END) END"
        )

    # Background flatten (jpeg output only).
    if plan.background is not None and out_fmt == "jpeg":
        steps.replace_t(
            f"list_transform(t, x -> CASE WHEN x >= {SENTINEL_BASE} "
            f"THEN CAST({bg_token} AS BIGINT) ELSE x END)"
        )

    # Encode. For a fixed chain the format is static unless it falls back to
    # the per-row source dtype.
    if out_fmt == "__src__":
        if plan.save.max_bytes is not None:
            raise ValueError(
                "oracle_transform_sql: max_bytes with source-dtype fallback "
                "format is not SQL-expressible (per-row format); set an "
                "explicit format"
            )
        # quantization: lossy only for jpeg-mapped dtypes; src dtypes are all
        # lossless, so only the dtype rule varies per row.
        steps.replace_t(
            "CASE WHEN src_dtype = 'int16' THEN "
            "list_transform(t, x -> greatest(-32768, least(32767, x))) "
            "WHEN src_dtype = 'uint8' THEN list_transform(t, x -> x % 256) "
            "ELSE t END"
        )
        dtype_sql = (
            "CASE src_dtype WHEN 'int16' THEN 'int16' WHEN 'uint8' THEN 'int16' "
            "WHEN 'int64' THEN 'int64' ELSE 'int32' END"
        )
        elem_sql = (
            "CASE src_dtype WHEN 'int16' THEN 2 WHEN 'uint8' THEN 2 "
            "WHEN 'int64' THEN 8 ELSE 4 END"
        )
        fmt_sql = "src_dtype"
        if plan.quality is not None:
            quality_sql = f"CAST({min(max(plan.quality, 1), 100)} AS INTEGER)"
        elif plan.save.format_quality:
            # kernel.py:606 resolves quality from format_quality by the
            # per-row output format (= src_dtype here), falling back to the
            # default — mirror with a per-row CASE.
            arms = " ".join(
                f"WHEN '{k}' THEN {min(max(v, 1), 100)}"
                for k, v in sorted(plan.save.format_quality.items())
            )
            quality_sql = (
                f"CAST(CASE src_dtype {arms} ELSE {DEFAULT_QUALITY} END AS INTEGER)"
            )
        else:
            quality_sql = f"CAST({DEFAULT_QUALITY} AS INTEGER)"
        runs = "1 + len(list_filter(range(1, len(t)), i -> t[i + 1] != t[i]))"
        size_sql = (
            f"CAST(CASE WHEN len(t) = 0 THEN 0 ELSE ({runs}) * ({elem_sql}) END AS BIGINT)"
        )
    else:
        dtype, elem_bytes, lossy, rule = FORMAT_SPECS[out_fmt]
        quality = plan.quality
        if quality is None:
            quality = plan.save.format_quality.get(out_fmt, DEFAULT_QUALITY)
        quality = min(max(quality, 1), 100)
        dtype_sql = f"'{dtype}'"
        fmt_sql = f"'{out_fmt}'"

        def _rule_expr(e: str) -> str:
            if rule == "saturate":
                return f"list_transform({e}, x -> greatest(-32768, least(32767, x)))"
            if rule == "mod256":
                return f"list_transform({e}, x -> x % 256)"
            return e

        # encoder knobs (kernel.op_encode order: quantize -> subsample ->
        # palette -> dtype rule -> progressive -> size)
        palette_k = _palette_colors(plan.save) if out_fmt == "png" else None
        progressive = out_fmt in ("jpeg", "jpg") and _jpeg_progressive(plan.save)
        subsample = out_fmt in ("avif", "heif") and _avif_subsample(plan.save)

        def _subsample_expr(e: str) -> str:
            # kernel.op_subsample: 0-based odd position takes its even
            # neighbor = 1-based even i takes element i-1.  `e` is a pure
            # expression (may be referenced twice — DuckDB subscripts
            # parenthesized expressions fine).
            return (
                f"list_transform({e}, (x, i) -> CASE WHEN i % 2 = 0 "
                f"THEN ({e})[i - 1] ELSE x END)"
            )

        def _palette_expr(e: str) -> str:
            k = min(max(palette_k, 2), 256)
            cell = VOCAB // k
            return (
                f"list_transform({e}, x -> least(least(greatest(x, 0), "
                f"{VOCAB - 1}) // {cell}, {k - 1}) * {cell} + {cell // 2})"
            )

        def _progressive_expr(e: str) -> str:
            return (
                f"list_concat(list_select({e}, range(1, len({e}) + 1, 2)), "
                f"list_select({e}, range(2, len({e}) + 1, 2)))"
            )

        if plan.save.max_bytes is None:
            if lossy:
                step = quality_step(quality)
                if step > 1:
                    steps.replace_t(f"list_transform(t, x -> x - x % {step})")
            if subsample:
                steps.replace_t(_subsample_expr("t"))
            if palette_k is not None:
                steps.replace_t(_palette_expr("t"))
            if rule != "none":
                steps.replace_t(_rule_expr("t"))
            if progressive:
                steps.replace_t(_progressive_expr("t"))
            quality_sql = f"CAST({quality} AS INTEGER)"
            size_sql = _size_bytes_expr("t", elem_bytes)
        else:
            # max_bytes quality walk-down (reference: save.rs:46-64; kernel
            # op_encode loop).  The candidate-quality sequence is a pure
            # function of the starting q — q, q-5, ... floored at 1 — so the
            # per-row loop unrolls into a fixed CASE cascade: encode at every
            # candidate, pick the first whose RLE size fits (or q == 1).
            mb = plan.save.max_bytes
            cands: list[int] = []
            qq = quality
            while True:
                cands.append(qq)
                if qq <= 1:
                    break
                qq = max(qq - 5, 1)
            def _quantize_candidate(qc: int) -> str:
                # kernel: quantize when the format is lossy OR the walk-down
                # already lowered quality below the starting q.
                if lossy or qc < quality:
                    step = quality_step(qc)
                    if step > 1:
                        return f"list_transform(t, x -> x - x % {step})"
                return "t"

            enc_aux = []
            if subsample:
                # _subsample_expr references its input TWICE — name the
                # quantize candidates first so it subscripts a column,
                # never a duplicated list_transform (same pattern as the
                # mbp progressive layer below; inlining made the oracle
                # O(n^2) per candidate)
                steps.add_aux(
                    [
                        (f"mbq{i}", _quantize_candidate(qc))
                        for i, qc in enumerate(cands)
                    ]
                )
                for i in range(len(cands)):
                    e = _subsample_expr(f"mbq{i}")
                    if palette_k is not None:
                        e = _palette_expr(e)
                    enc_aux.append((f"mbt{i}", _rule_expr(e)))
            else:
                for i, qc in enumerate(cands):
                    e = _quantize_candidate(qc)
                    if palette_k is not None:
                        e = _palette_expr(e)
                    enc_aux.append((f"mbt{i}", _rule_expr(e)))
            steps.add_aux(enc_aux)
            enc_name = "mbt"
            if progressive:
                # second aux layer so the (len-dependent) reorder reads a
                # named column instead of duplicating the encode expression
                steps.add_aux(
                    [
                        (f"mbp{i}", _progressive_expr(f"mbt{i}"))
                        for i in range(len(cands))
                    ]
                )
                enc_name = "mbp"
            steps.add_aux(
                [
                    (f"mbs{i}", _size_bytes_expr(f"{enc_name}{i}", elem_bytes))
                    for i in range(len(cands))
                ]
            )
            if len(cands) == 1:
                pick_expr = "0"  # q started at 1: single candidate, no walk
            else:
                fit_arms = " ".join(
                    f"WHEN mbs{i} <= {mb} THEN {i}" for i in range(len(cands) - 1)
                )
                pick_expr = f"CASE {fit_arms} ELSE {len(cands) - 1} END"
            steps.add_aux([("mbpick", pick_expr)])
            t_arms = " ".join(
                f"WHEN {i} THEN {enc_name}{i}" for i in range(len(cands))
            )
            steps.replace_t(f"CASE mbpick {t_arms} ELSE {enc_name}0 END")
            q_arms = " ".join(f"WHEN {i} THEN {cands[i]}" for i in range(len(cands)))
            quality_sql = f"CAST(CASE mbpick {q_arms} ELSE {cands[0]} END AS INTEGER)"
            size_sql = _size_bytes_expr("t", elem_bytes)

    return (
        f"WITH {sql_requests_cte()},\n"
        + ",\n".join(steps.ctes)
        + f"""
SELECT doc_id,
       CAST(len(t) AS INTEGER) AS n_out,
       {_tokens_select(digest_tokens)},
       {dtype_sql} AS dtype,
       {size_sql} AS size_bytes,
       {quality_sql} AS quality,
       {fmt_sql} AS fmt
FROM {steps.current}"""
    )
