"""Rectangular (length-bucketed) vectorized transform kernel.

Rows sharing (ops chain, n_tok) form an (m, n) int64 matrix; every op in
the chain then applies across all m rows at once with numpy axis ops —
the batch-level fusion analog of libvips' demand-driven SIMD pipeline
(reference: src/processing/transform.rs ops chain; SURVEY.md §4).

Semantics are IDENTICAL to tokforge.operators.kernel.apply_plan (the
per-row oracle); tests/test_kernel_rect.py asserts row-for-row equality.
Every transform is length-uniform for a fixed plan, so a rectangular
bucket stays rectangular through the whole chain.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np

from tokforge.constants import (
    DEFAULT_FORMAT,
    DEFAULT_QUALITY,
    FORMAT_SPECS,
    INT16_MAX,
    INT16_MIN,
    SENTINEL_BASE,
    SENTINEL_MAX,
    VOCAB,
    WM_FRACTION_DEN,
    WM_MARGIN_FRAC,
)
from tokforge.operators.kernel import (
    TransformError,
    _avif_subsample,
    _jpeg_progressive,
    _palette_colors,
    default_bg_token,
    gravity_offset,
    quality_step,
    resolve_resize_length,
)
from tokforge.plans.options import Plan, copy_plan


@dataclass
class RectOutput:
    tokens: np.ndarray  # (m, n_out) int64
    dtype: str
    size_bytes: np.ndarray  # (m,) int64
    quality: np.ndarray  # (m,) int32
    fmt: str


def _resample_idx(n: int, target: int) -> np.ndarray:
    return (np.arange(target, dtype=np.int64) * n) // target


def _resample_rect(mat: np.ndarray, target: int, algorithm: str | None) -> np.ndarray:
    """Algorithm-aware resample along axis 1 — the vectorized mirror of
    kernel.resample (weights/taps come from the same shared helpers, so the
    IEEE expression order cannot drift)."""
    from tokforge.operators.kernel import (
        LANCZOS_A,
        catmull_rom_taps,
        lanczos_taps,
        resample_weights,
    )

    n = mat.shape[1]
    if target == n:
        return mat
    if target <= 0 or n == 0:
        # mirror kernel.resample's degenerate-input rule: empty output,
        # never an index error
        return mat[:, :0]
    algo = (algorithm or "nearest").lower()
    if algo == "nearest":
        return mat[:, _resample_idx(n, target)]
    # The weighted sums below run with `out=`-reused buffers: same
    # left-associated IEEE expression order as kernel.resample (in-place
    # a*b / a+b produce the identical doubles), ~3x fewer full-size
    # float64 temporaries — this path is bandwidth-bound at high core
    # counts and the gather/accumulate traffic was most of it.
    lo, frac = resample_weights(n, target)
    m = mat.shape[0]
    # r8: taps gather straight from the INTEGER matrix (narrow loads) and
    # widen to float64 inside the multiply ufunc — (float64)(int) * w is
    # bit-identical to multiplying a pre-converted float64 copy (both
    # int->double conversions are exact below 2^53), so the full-size
    # float64 input copy and its 8-byte gather reads disappear.  The
    # final float->int also casts straight to int32: any post-floor value
    # a resample can produce is far inside int32 range, and NaN/Inf
    # collapse to the same clip(0, VOCAB-1) endpoints as the old
    # int64-then-narrow chain.
    gat = np.empty((m, target), dtype=mat.dtype)
    scratch = np.empty((m, target), dtype=np.float64)
    if algo == "linear":
        hi = np.minimum(lo + 1, n - 1)
        a = np.take(mat, lo, axis=1).astype(np.float64)
        val = scratch
        np.subtract(np.take(mat, hi, axis=1, out=gat), a, out=val)
        np.multiply(val, frac, out=val)
        np.add(val, a, out=val)  # addition commutes bit-exactly
        np.add(val, 0.5, out=val)
        np.floor(val, out=val)
        return val.astype(mat.dtype)
    if algo == "cubic":
        (w0, w1, w2, w3), (p0, p1, p2, p3) = catmull_rom_taps(n, lo, frac)
        val = np.multiply(np.take(mat, p0, axis=1, out=gat), w0)
        for w, p in ((w1, p1), (w2, p2), (w3, p3)):
            np.multiply(np.take(mat, p, axis=1, out=gat), w, out=scratch)
            np.add(val, scratch, out=val)
        np.add(val, 0.5, out=val)
        np.floor(val, out=val)
        out = val.astype(np.int32)
        np.clip(out, 0, VOCAB - 1, out=out)
        return out.astype(mat.dtype, copy=False)
    if algo in LANCZOS_A:
        weights, taps = lanczos_taps(n, target, LANCZOS_A[algo])
        if m >= 2048:
            # r8 transposed accumulation (2.4x measured at 100k rows): in
            # (n, m) layout every tap read is a CONTIGUOUS row, the
            # per-element left-associated fold order is unchanged
            # (bit-identical, asserted against the wide path in
            # test_kernel_rect), and the +0.5/floor/clip tail runs per
            # column while the accumulator is cache-hot.  Small batches
            # keep the wide path: 6*target numpy calls on short vectors
            # are call-overhead-bound.  Threshold re-swept after the 10k
            # Arrow-batch retune left each length-ladder group at ~2.5k
            # rows: transposed wins 1.45x at m=2500, the paths cross at
            # m~1200, wide wins at m=625 — 2048 keeps both regimes on
            # their winning side.
            mT = np.ascontiguousarray(mat.T)
            outT = np.empty((target, m), dtype=np.int32)
            acc = np.empty(m, dtype=np.float64)
            colscr = np.empty(m, dtype=np.float64)
            with np.errstate(invalid="ignore"):
                for j in range(target):
                    np.multiply(mT[taps[0][j]], weights[0][j], out=acc)
                    den = weights[0][j]
                    for k in range(1, len(taps)):
                        np.multiply(mT[taps[k][j]], weights[k][j], out=colscr)
                        np.add(acc, colscr, out=acc)
                        den = den + weights[k][j]
                    np.divide(acc, den, out=acc)
                    if frac[j] == 0.0:
                        acc[:] = mT[lo[j]]
                    np.add(acc, 0.5, out=acc)
                    np.floor(acc, out=acc)
                    # r8 session 3: cast straight into the output row (same
                    # unsafe float64->int32 C cast as astype, no per-column
                    # temp) and clip the whole matrix once after the loop —
                    # clipping ints per column vs at the end is identical,
                    # measured ~13% off the resample (4.70 -> 4.04 ms at
                    # 6->128 x 2500 rows)
                    outT[j] = acc
            np.clip(outT, 0, VOCAB - 1, out=outT)
            return np.ascontiguousarray(outT.T).astype(mat.dtype, copy=False)
        with np.errstate(invalid="ignore"):
            num = np.multiply(np.take(mat, taps[0], axis=1, out=gat), weights[0])
            den = weights[0]
            for w, p in zip(weights[1:], taps[1:]):
                np.multiply(np.take(mat, p, axis=1, out=gat), w, out=scratch)
                np.add(num, scratch, out=num)
                den = den + w
            np.divide(num, den, out=num)
        zero_frac = frac == 0.0
        if zero_frac.any():
            num[:, zero_frac] = mat[:, lo[zero_frac]]
        np.add(num, 0.5, out=num)
        np.floor(num, out=num)
        out = num.astype(np.int32)
        np.clip(out, 0, VOCAB - 1, out=out)
        return out.astype(mat.dtype, copy=False)
    raise TransformError(f"Invalid resizing algorithm: {algo}")


def _rot_cols(mat: np.ndarray, degrees: int) -> np.ndarray:
    n = mat.shape[1]
    if degrees % 360 == 0 or n == 0:
        return mat
    k = (degrees // 90) % 4
    return np.roll(mat, -((k * n) // 4), axis=1)


def _exif_rect(mat: np.ndarray, orientations: np.ndarray) -> np.ndarray:
    """Per-orientation masked application; shifts depend only on n, which
    is constant across the bucket."""
    out = mat
    uniq = np.unique(orientations)
    if len(uniq) == 1 and uniq[0] == 1:
        return out
    out = mat.copy()
    for o in uniq:
        mask = orientations == o
        sub = mat[mask]
        if o == 2:
            sub = sub[:, ::-1]
        elif o == 3:
            sub = _rot_cols(sub, 180)
        elif o == 5:
            sub = _rot_cols(sub, 90)[:, ::-1]
        elif o == 6:
            sub = _rot_cols(sub, 90)
        elif o == 7:
            sub = _rot_cols(sub, 270)[:, ::-1]
        elif o == 8:
            sub = _rot_cols(sub, 270)
        out[mask] = sub
    return out


def _moving_mean_rect(mat: np.ndarray, window: int) -> np.ndarray:
    """Replicate-padded moving mean along axis 1, floor(x+0.5) rounded.

    The rounding is INTEGER-EXACT: for integer sum s >= 0 and window w,
    floor(s/w + 0.5) == (2s + w) // (2w).  (At the boundary 2s = w(2k-1)
    the real value (2k-1)/2 is dyadic, so the float division the per-row
    kernel / SQL oracle performs is exact there too; off the boundary the
    value is >= 1/(2w) from the cutoff, far beyond double rounding error.
    tests/test_kernel_rect + the property fuzz pin the equality.)  Doing
    it in int64 avoids three full-size float64 temporaries — this op is
    memory-bandwidth-bound at high core counts.

    ``window`` must be odd (callers pass 2*ceil(sigma)+1): the cumsum
    branch's slice arithmetic assumes a centered window."""
    assert window % 2 == 1, f"moving-mean window must be odd, got {window}"
    m, n = mat.shape
    if n == 0 or window <= 1:
        return mat.copy()
    h = window // 2
    # r8: run the whole pad/cumsum/diff chain in int32 when no row cumsum
    # can overflow (two cheap read-only min/max passes buy halving every
    # write pass of this bandwidth-bound op); integer arithmetic is
    # identical across widths when in range.  The 2^30 bound keeps
    # 2*s + window inside int32 for the rounding step too.
    dt = np.int64
    if mat.dtype == np.int32:
        mn = int(mat.min())
        mx = int(mat.max())
        if mn >= 0 and (n + 2 * h) * max(mx, 1) < 2**30:
            dt = np.int32
    # one integer buffer: replicate-pad
    padded = np.empty((m, n + 2 * h), dtype=dt)
    padded[:, :h] = mat[:, :1]
    padded[:, h : h + n] = mat
    padded[:, h + n :] = mat[:, -1:]
    if window <= 8:
        # r8 session 3: for the small windows blur/sharpen actually use
        # (w = 2*ceil(sigma)+1, typically 3-7) w-1 SIMD adds of shifted
        # views beat the cumsum's per-row serial dependency chain
        # (measured w=3: 0.75 vs 1.61 ms, w=5: 1.04 vs 1.61 ms per
        # 2500x136 int32; crossover ~w=9, cumsum keeps larger windows).
        # Integer sums are fold-order-exact, so the two paths are
        # bit-identical by construction.
        sums = padded[:, :n].copy()
        for k in range(1, window):
            sums += padded[:, k : k + n]
        np.multiply(sums, 2, out=sums)
        sums += window
        sums //= 2 * window
        return sums.astype(np.int32, copy=False)
    np.cumsum(padded, axis=1, out=padded)
    # c[j] = sum(p[:j+1]); window sum_j = c[j+w-1] - (c[j-1] if j else 0)
    sums = np.empty((m, n), dtype=dt)
    sums[:, 0] = padded[:, window - 1]
    np.subtract(padded[:, window:], padded[:, : n - 1], out=sums[:, 1:])
    # floor(s/w + 0.5) via integers, in place
    np.multiply(sums, 2, out=sums)
    sums += window
    sums //= 2 * window
    return sums.astype(np.int32, copy=False)


def _row_means_floor(mat: np.ndarray) -> np.ndarray:
    if mat.shape[1] == 0:
        return np.zeros(mat.shape[0], dtype=np.int64)
    return mat.sum(axis=1, dtype=np.int64) // mat.shape[1]


def _runs_per_row(mat: np.ndarray) -> np.ndarray:
    if mat.shape[1] == 0:
        return np.zeros(mat.shape[0], dtype=np.int64)
    return 1 + np.count_nonzero(mat[:, 1:] != mat[:, :-1], axis=1).astype(np.int64)


def _subsample_rect(mat: np.ndarray) -> np.ndarray:
    """Row-parallel kernel.op_subsample: odd columns take their even
    neighbor (AVIF 4:2:0 analog, save.rs:145-151)."""
    out = mat.copy()
    odd = out[:, 1::2]
    odd[:] = out[:, 0::2][:, : odd.shape[1]]
    return out


def _palette_rect(mat: np.ndarray, colors: int) -> np.ndarray:
    """Row-parallel kernel.op_palette (same expression order)."""
    k = min(max(colors, 2), 256)
    cell = VOCAB // k
    c = np.clip(mat, 0, VOCAB - 1)
    bucket = np.minimum(c // cell, k - 1)
    return (bucket * cell + cell // 2).astype(mat.dtype)


def _apply_dtype_rule_rect(mat: np.ndarray, rule: str) -> np.ndarray:
    if rule == "saturate":
        return np.clip(mat, INT16_MIN, INT16_MAX)
    if rule == "mod256":
        return mat % 256
    return mat


def apply_plan_rect(
    mat: np.ndarray,
    plan: Plan,
    orientations: np.ndarray,
    src_dtype: str,
    default_format: str | None = None,
) -> RectOutput:
    """Vectorized mirror of kernel.apply_plan over an (m, n) bucket whose
    rows share one src_dtype (the caller sub-buckets by it when the chain
    leaves the output format implicit)."""
    m = mat.shape[0]
    # int32-native: all token values fit comfortably (< 2^17); the kernel is
    # memory-bandwidth-bound, so halving element width raises the multi-core
    # ceiling.  Accumulations (means, moving sums) go through int64.
    t = mat.astype(np.int32, copy=False)

    if plan.raw:
        spec = FORMAT_SPECS.get(src_dtype, FORMAT_SPECS["int32"])
        return RectOutput(
            t,
            spec[0],
            _runs_per_row(t) * spec[1] if t.shape[1] else np.zeros(m, dtype=np.int64),
            np.zeros(m, dtype=np.int32),
            src_dtype,
        )

    out_fmt = plan.format or default_format or src_dtype or DEFAULT_FORMAT
    if out_fmt.lower() not in FORMAT_SPECS:
        raise TransformError(f"Unsupported format: {out_fmt}")

    if plan.skip_processing and src_dtype.lower() in plan.skip_processing:
        if plan.format is None or plan.format.lower() == src_dtype.lower():
            spec = FORMAT_SPECS.get(src_dtype.lower(), FORMAT_SPECS["int32"])
            return RectOutput(
                t,
                spec[0],
                _runs_per_row(t) * spec[1]
                if t.shape[1]
                else np.zeros(m, dtype=np.int64),
                np.zeros(m, dtype=np.int32),
                src_dtype,
            )

    plan = copy_plan(plan)
    if plan.dpr is not None and plan.dpr > 1.0:
        dpr = plan.dpr
        if plan.resize is not None:
            plan.resize.width = math.floor(plan.resize.width * dpr + 0.5)
            plan.resize.height = math.floor(plan.resize.height * dpr + 0.5)
        if plan.padding is not None:
            plan.padding = tuple(
                math.floor(p * dpr + 0.5) for p in plan.padding
            )  # type: ignore[assignment]

    if plan.auto_rotate:
        t = _exif_rect(t, orientations)

    if plan.crop is not None:
        n = t.shape[1]
        w = n if plan.crop.width == 0 else min(plan.crop.width, n)
        off = gravity_offset(plan.crop.gravity, n - w) if plan.crop.gravity else 0
        t = t[:, off : off + w]

    resolved_target = None
    if plan.resize is not None:
        n = t.shape[1]
        target = resolve_resize_length(
            plan.resize.resizing_type, plan.resize.width, plan.resize.height
        )
        resolved_target = target
        rtype = plan.resize.resizing_type or "fit"
        if not plan.enlarge and target > n:
            pass
        else:
            if rtype == "auto":
                rtype = "fill" if n >= target else "fit"
            if rtype == "fit":
                if target < n:
                    t = t[:, :target]
                elif target > n and n > 0:
                    t = _resample_rect(t, target, plan.resizing_algorithm)
            elif rtype == "fill":
                if target <= n:
                    off = gravity_offset(plan.gravity if plan.gravity else "ce", n - target)
                    t = t[:, off : off + target]
                elif n > 0:
                    t = _resample_rect(t, target, plan.resizing_algorithm)
            elif rtype == "force":
                if target != n and n > 0:
                    t = t[:, np.arange(target, dtype=np.int64) % n]
            else:
                raise TransformError(f"Unknown resize type: {rtype}")

    if plan.min_width is not None or plan.min_height is not None:
        n = t.shape[1]
        if n > 0:
            tgt = max(
                plan.min_width if (plan.min_width and n < plan.min_width) else 0,
                plan.min_height if (plan.min_height and n < plan.min_height) else 0,
            )
            if tgt > n:
                t = _resample_rect(t, tgt, plan.resizing_algorithm)

    if plan.zoom is not None:
        n = t.shape[1]
        target = max(math.floor(n * plan.zoom + 0.5), 0)
        if n > 0 and target != n:
            t = (
                _resample_rect(t, target, plan.resizing_algorithm)
                if target > 0
                else t[:, :0]
            )

    bg_token = default_bg_token(plan.background)

    if plan.extend and resolved_target is not None and t.shape[1] < resolved_target:
        n = t.shape[1]
        extra = resolved_target - n
        off = gravity_offset(plan.gravity if plan.gravity else "ce", extra)
        out = np.full((m, resolved_target), bg_token, dtype=t.dtype)
        out[:, off : off + n] = t
        t = out

    if plan.padding is not None:
        _top, right, _bottom, left = plan.padding
        out = np.full((m, left + t.shape[1] + right), bg_token, dtype=t.dtype)
        out[:, left : left + t.shape[1]] = t
        t = out

    if plan.rotation is not None:
        t = _rot_cols(t, plan.rotation)

    if plan.flip is not None and plan.flip.horizontal:
        t = t[:, ::-1]

    # Effects run with in-place numpy (`out=` reuse) — the chain is
    # memory-bandwidth-bound at high core counts, so every avoided
    # full-size temporary is parallel headroom.  Expression ORDER is kept
    # identical to kernel.py / the SQL oracle (bit-exactness invariant).
    if plan.adjust is not None:
        if plan.adjust.brightness != 0:
            t = t + plan.adjust.brightness
            np.clip(t, 0, VOCAB - 1, out=t)  # in place: t is the fresh sum
        if abs(plan.adjust.contrast - 1.0) > 1e-9:
            # c * (t - mm) + 0.5, floored.  r8: the subtraction happens in
            # int32 (exact) and widens to float64 inside the multiply
            # ufunc — identical doubles to the old float64-copy chain
            # (both (double)t - (double)mm and (double)(t - mm) are exact
            # integer values below 2^53), with two fewer full-size
            # 8-byte passes.  The floored offset fits int32 (|c*(t-mm)|
            # is token-scale), so the recenter add runs 4-byte too.
            mm = _row_means_floor(t)[:, None]
            if abs(plan.adjust.contrast) <= 8192.0:
                mm32 = mm.astype(np.int32)
                diff = t - mm32
                td = np.multiply(diff, plan.adjust.contrast)
                np.add(td, 0.5, out=td)
                np.floor(td, out=td)
                out_i = mm32 + td.astype(np.int32)
                np.clip(out_i, 0, VOCAB - 1, out=out_i)
                t = out_i
            else:
                # pathological contrast: keep the old float64/int64 chain
                # (int32 offsets could overflow before the clip)
                td = t.astype(np.float64)
                np.subtract(td, mm, out=td)
                np.multiply(td, plan.adjust.contrast, out=td)
                np.add(td, 0.5, out=td)
                np.floor(td, out=td)
                out_i = mm + td.astype(np.int64)
                np.clip(out_i, 0, VOCAB - 1, out=out_i)
                t = out_i.astype(np.int32)
        if abs(plan.adjust.saturation - 1.0) > 1e-9:
            # s*t + (1-s)*mm + 0.5, floored — same widen-in-ufunc trick.
            s = plan.adjust.saturation
            mm = _row_means_floor(t)[:, None].astype(np.float64)
            td = np.multiply(t, s)
            np.add(td, (1.0 - s) * mm, out=td)
            np.add(td, 0.5, out=td)
            np.floor(td, out=td)
            ti = td.astype(np.int32)
            np.clip(ti, 0, VOCAB - 1, out=ti)
            t = ti

    if plan.blur is not None:
        window = 2 * math.ceil(plan.blur) + 1
        t = _moving_mean_rect(t, window)
        np.clip(t, 0, VOCAB - 1, out=t)

    if plan.sharpen is not None:
        sigma_c = min(max(plan.sharpen, 0.1), 10.0)
        window = 2 * math.ceil(sigma_c) + 1
        mm32 = _moving_mean_rect(t, window)
        out_i = 2 * t  # int widen happens per numpy promotion, as before
        np.subtract(out_i, mm32, out=out_i)
        np.clip(out_i, 0, VOCAB - 1, out=out_i)
        t = out_i

    if plan.pixelate is not None and plan.pixelate > 1:
        n = t.shape[1]
        idx = (np.arange(n, dtype=np.int64) // plan.pixelate) * plan.pixelate
        t = t[:, idx]

    if plan.watermark is not None and t.shape[1] > 0:
        n = t.shape[1]
        wm_len = min((n + WM_FRACTION_DEN - 1) // WM_FRACTION_DEN, n)
        margin = math.floor(n * WM_MARGIN_FRAC + 0.5)
        pos = plan.watermark.position
        if pos in ("we", "nowe", "sowe"):
            x = margin
        elif pos in ("ea", "noea", "soea"):
            x = n - wm_len - margin
        else:
            x = (n - wm_len) // 2
        x = max(0, min(x, n - wm_len))
        o = plan.watermark.opacity
        if plan.watermark_url:
            from tokforge.operators.kernel import watermark_payload_tokens

            payload = watermark_payload_tokens(plan.watermark_url)
            wm = payload[np.arange(wm_len, dtype=np.int64) % len(payload)].astype(
                np.float64
            )
        else:
            wm = (SENTINEL_BASE + (np.arange(wm_len, dtype=np.int64) % 100)).astype(
                np.float64
            )
        t = t.copy()
        seg = t[:, x : x + wm_len].astype(np.float64)
        t[:, x : x + wm_len] = np.clip(
            np.floor(o * wm[None, :] + (1.0 - o) * seg + 0.5), 0, SENTINEL_MAX
        ).astype(np.int32)

    if plan.background is not None and out_fmt.lower() == "jpeg":
        t = np.where(t >= SENTINEL_BASE, bg_token, t)

    # encode
    fmt = out_fmt.lower()
    dtype, elem_bytes, lossy, rule = FORMAT_SPECS[fmt]
    quality = plan.quality
    if quality is None:
        quality = plan.save.format_quality.get(fmt, DEFAULT_QUALITY)
    q = min(max(quality, 1), 100)
    # encoder knobs (canonical order quantize -> subsample -> palette ->
    # rule -> progressive, same as kernel.op_encode / the SQL oracle)
    palette_k = _palette_colors(plan.save) if fmt == "png" else None
    progressive = fmt in ("jpeg", "jpg") and _jpeg_progressive(plan.save)
    subsample = fmt in ("avif", "heif") and _avif_subsample(plan.save)
    n_cols = t.shape[1]
    prog_perm = (
        np.concatenate([np.arange(0, n_cols, 2), np.arange(1, n_cols, 2)])
        if progressive
        else None
    )

    if plan.save.max_bytes is None:
        out = t
        if lossy:
            step = quality_step(q)
            if step > 1:
                r = out % step  # one temp: out - (out % step) in place
                np.subtract(out, r, out=r)
                out = r
        if subsample:
            out = _subsample_rect(out)
        if palette_k is not None:
            out = _palette_rect(out, palette_k)
        out = _apply_dtype_rule_rect(out, rule)
        if prog_perm is not None:
            out = out[:, prog_perm]
        sizes = _runs_per_row(out) * elem_bytes
        return RectOutput(
            out, dtype, sizes, np.full(m, q, dtype=np.int32), fmt
        )

    # max_bytes: vectorized quality walk-down with a convergence mask
    max_bytes = plan.save.max_bytes
    quality_now = np.full(m, q, dtype=np.int32)
    out = np.empty_like(t)
    sizes = np.zeros(m, dtype=np.int64)
    pending = np.ones(m, dtype=bool)
    while pending.any():
        qs = quality_now[pending]
        sub = t[pending]
        enc = np.empty_like(sub)
        for uq in np.unique(qs):
            mask_u = qs == uq
            e = sub[mask_u]
            if lossy or uq < q:
                step = quality_step(int(uq))
                if step > 1:
                    e = e - (e % step)
            enc[mask_u] = e
        if subsample:
            enc = _subsample_rect(enc)
        if palette_k is not None:
            enc = _palette_rect(enc, palette_k)
        enc = _apply_dtype_rule_rect(enc, rule)
        if prog_perm is not None:
            enc = enc[:, prog_perm]
        sz = _runs_per_row(enc) * elem_bytes
        done = (sz <= max_bytes) | (qs <= 1)
        idx_pending = np.nonzero(pending)[0]
        done_idx = idx_pending[done]
        out[done_idx] = enc[done]
        sizes[done_idx] = sz[done]
        still = idx_pending[~done]
        quality_now[still] = np.maximum(quality_now[still] - 5, 1)
        pending[:] = False
        pending[still] = True
    return RectOutput(out, dtype, sizes, quality_now, fmt)
