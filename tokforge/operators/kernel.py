"""Pure-numpy token-transform kernel — the reference oracle AND the inner
loop of the Spark vectorized UDF.

Each function re-expresses one imgforge image op over a 1-D int32 token
sequence (SURVEY.md §2.1-2.3).  "Width" maps to sequence length; gravity
uses the reference's x-axis rule (transform.rs:139-156): west-ish -> 0,
east-ish -> extra, everything else -> extra // 2.

All arithmetic is chosen to be exactly reproducible in ANSI SQL (DuckDB
oracle): integer floor division, ``floor(x + 0.5)`` rounding, IEEE double
intermediates — so Spark results hash-match the SQL oracle bit-for-bit.

Canonical op order follows the reference pipeline
(src/processing/mod.rs:45-246): dpr -> exif auto-rotate -> crop -> resize
(enlarge-gated) -> min-dims -> zoom -> extend -> padding -> rotate -> flip ->
adjust -> blur -> sharpen -> pixelate -> watermark -> flatten -> encode.
"""

from __future__ import annotations

import math
from dataclasses import dataclass
from typing import Optional

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
from tokforge.plans.options import Plan, copy_plan


class TransformError(ValueError):
    """Per-row transform failure (reference: transform.rs TransformError)."""


# ---------------------------------------------------------------------------
# Gravity / geometry helpers
# ---------------------------------------------------------------------------

_GRAV_START = ("we", "nowe", "sowe")
_GRAV_END = ("ea", "noea", "soea")


def gravity_offset(gravity: Optional[str], extra: int) -> int:
    """1-D offset for a gravity anchor (reference: transform.rs:139-156 x-rule)."""
    if gravity in _GRAV_START:
        return 0
    if gravity in _GRAV_END:
        return extra
    return extra // 2


def resample_nearest(t: np.ndarray, target: int) -> np.ndarray:
    """Nearest-index resample to ``target`` length: out[i] = t[(i*n)//target].

    The token analog of a nearest-neighbour rescale (SURVEY.md §2.1 zoom /
    min-dims / enlarging resize).  SQL mirror:
    ``list_transform(range(L), i -> t[(i*n)//L + 1])``.
    """
    n = len(t)
    if target == n:
        return t
    if target <= 0 or n == 0:
        return t[:0]
    idx = (np.arange(target, dtype=np.int64) * n) // target
    return t[idx]


def resample_weights(n: int, target: int) -> tuple[np.ndarray, np.ndarray]:
    """(lo index, fractional offset) per output position: pos = i*n/target,
    lo = (i*n)//target, frac = (i*n mod target)/target.  Shared by the
    linear/cubic paths and by the rect kernel (weights depend only on
    (n, target), never on values)."""
    num = np.arange(target, dtype=np.int64) * n
    lo = num // target
    frac = (num - lo * target).astype(np.float64) / float(target)
    return lo, frac


def catmull_rom_taps(
    n: int, lo: np.ndarray, frac: np.ndarray
) -> tuple[list[np.ndarray], list[np.ndarray]]:
    """Catmull-Rom weights + clamped neighbour indices — the SINGLE source
    of the exact IEEE expression order that kernel, rect kernel, and the
    SQL oracle must all reproduce (a drifted copy silently breaks parity)."""
    f = frac
    weights = [
        0.5 * (-f * f * f + 2.0 * f * f - f),
        0.5 * (3.0 * f * f * f - 5.0 * f * f + 2.0),
        0.5 * (-3.0 * f * f * f + 4.0 * f * f + f),
        0.5 * (f * f * f - f * f),
    ]
    taps = [
        np.clip(lo - 1, 0, n - 1),
        lo,
        np.minimum(lo + 1, n - 1),
        np.minimum(lo + 2, n - 1),
    ]
    return weights, taps


# math.pi as an explicit double; the SQL oracle emits this exact value, and
# numpy's float64 sin is bit-identical to DuckDB's libm sin on identical
# inputs (verified at build time), so the weights match bit-for-bit.
LANCZOS_PI = 3.141592653589793

# lanczos order per algorithm name (reference: doc/5.1_resizing_algorithms.md,
# options.rs:567-610 — lanczos3 is the reference DEFAULT).
LANCZOS_A = {"lanczos2": 2, "lanczos3": 3}


# Weights/taps depend only on (n, target, a) and n cycles over a tiny
# length ladder in real streams, so the sin evaluations amortize to ~zero:
# the memo turns every repeated lanczos resample into a pure gather +
# weighted sum.  Entries are ~2a small float64 arrays; the cap bounds
# worker memory.  Callers treat the returned arrays as read-only.
_LANCZOS_MEMO: dict[tuple[int, int, int], tuple[list, list]] = {}
_LANCZOS_MEMO_CAP = 512


def lanczos_taps(
    n: int, target: int, a: int
) -> tuple[list[np.ndarray], list[np.ndarray]]:
    """Lanczos-a windowed-sinc weights + clamped neighbour indices over
    taps j in [-(a-1), a], x = j - frac:

        L(x) = a * sin(pi*x) * sin((pi*x)/a) / ((pi*x) * (pi*x))

    Like catmull_rom_taps this is the SINGLE source of the IEEE expression
    order shared by the per-row kernel, the rect kernel, and the SQL
    oracle.  Callers must normalize by the weight sum and special-case
    frac == 0 (x = 0 yields 0/0 here; the exact semantics there is the
    identity tap t[lo]).  Raw (un-normalized) weights are returned so the
    normalizing division happens once, not per tap.

    Memoized on (n, target, a); lo/frac are derived HERE from
    resample_weights(n, target) so the memo key is provably complete — a
    caller cannot hand in a mismatched geometry (the arrays are pure
    functions of the geometry, never of token values; caching returns the
    SAME doubles, so bit-exactness is unaffected)."""
    key = (n, target, a)
    hit = _LANCZOS_MEMO.get(key)
    if hit is not None:
        return hit
    lo, frac = resample_weights(n, target)
    A = float(a)
    weights = []
    taps = []
    with np.errstate(divide="ignore", invalid="ignore"):
        for j in range(-(a - 1), a + 1):
            x = float(j) - frac
            px = LANCZOS_PI * x
            s1 = np.sin(px)
            s2 = np.sin(px / A)
            weights.append((A * s1) * s2 / (px * px))
            taps.append(np.clip(lo + j, 0, n - 1))
    if len(_LANCZOS_MEMO) >= _LANCZOS_MEMO_CAP:
        _LANCZOS_MEMO.clear()
    _LANCZOS_MEMO[key] = (weights, taps)
    return weights, taps


def resample(t: np.ndarray, target: int, algorithm: Optional[str]) -> np.ndarray:
    """Resample to ``target`` with the chain's resizing algorithm
    (reference: doc/5.1_resizing_algorithms.md; options.rs `ra` arg).

    - nearest (when algorithm is None — bare kernel calls): index gather,
      out[i] = t[(i*n)//target]; note the PARSED PLAN defaults to lanczos3
      (options.py Plan, mirroring reference options.rs:567-610)
    - linear: floor(t[lo] + (t[hi]-t[lo])*frac + 0.5), hi = min(lo+1, n-1)
    - cubic: Catmull-Rom over 4 clamped neighbours, floor(.+0.5), clamped
    - lanczos2 / lanczos3: true 1-D windowed sinc over 2a clamped
      neighbours (j in [-(a-1), a]), weights normalized to unit sum,
      floor(.+0.5), clamped to the vocab; frac == 0 is the exact identity
      tap t[lo] (reference default algorithm, options.rs:567-610; kernel
      cost model doc/5.1_resizing_algorithms.md:224-232)

    All arithmetic is IEEE-double with left-associated accumulation so the
    DuckDB oracle reproduces it bit-for-bit.
    """
    algo = (algorithm or "nearest").lower()
    if algo == "nearest":
        return resample_nearest(t, target)
    n = len(t)
    if target == n:
        return t
    if target <= 0 or n == 0:
        return t[:0]
    lo, frac = resample_weights(n, target)
    td = t.astype(np.float64)
    if algo == "linear":
        hi = np.minimum(lo + 1, n - 1)
        val = td[lo] + (td[hi] - td[lo]) * frac
        return np.floor(val + 0.5).astype(t.dtype)
    if algo == "cubic":
        (w0, w1, w2, w3), (p0, p1, p2, p3) = catmull_rom_taps(n, lo, frac)
        val = w0 * td[p0] + w1 * td[p1] + w2 * td[p2] + w3 * td[p3]
        out = np.floor(val + 0.5).astype(np.int64)
        return np.clip(out, 0, VOCAB - 1).astype(t.dtype)
    if algo in LANCZOS_A:
        weights, taps = lanczos_taps(n, target, LANCZOS_A[algo])
        with np.errstate(invalid="ignore"):
            num = weights[0] * td[taps[0]]
            den = weights[0]
            for w, p in zip(weights[1:], taps[1:]):
                num = num + w * td[p]
                den = den + w
            val = num / den
        val = np.where(frac == 0.0, td[lo], val)
        out = np.floor(val + 0.5).astype(np.int64)
        return np.clip(out, 0, VOCAB - 1).astype(t.dtype)
    raise TransformError(f"Invalid resizing algorithm: {algo}")


# ---------------------------------------------------------------------------
# Geometry ops (SURVEY.md §2.1; reference: transform.rs)
# ---------------------------------------------------------------------------


def resolve_resize_length(resize_type: str, width: int, height: int) -> int:
    """1-D resize target (reference: transform.rs:159-197).

    Aspect ratio is identically 1 in one dimension, so a zero width derives
    from height directly.
    """
    w, h = width, height
    if w == 0 and h == 0:
        raise TransformError("resize requires at least one non-zero dimension")
    if w == 0:
        w = h
    return w


def op_resize(
    t: np.ndarray,
    resize_type: str,
    target: int,
    gravity: Optional[str],
    enlarge: bool,
    algorithm: Optional[str] = None,
) -> np.ndarray:
    """fit/fill/force/auto over one sequence (reference: transform.rs:200-340).

    - fit: truncate to target; grow only when enlarging (resample per ra).
    - fill: gravity-anchored cut of exactly target tokens.
    - force: out[i] = t[i % n] for i < target (truncate or cyclic repeat-pad).
    - auto: fill when n >= target else fit (orientation-match analog).

    The enlarge gate (skip entirely when target > n and not enlarge) is
    applied by the caller, matching process_image (mod.rs:114-127).
    """
    n = len(t)
    if resize_type == "auto":
        resize_type = "fill" if n >= target else "fit"

    if resize_type == "fit":
        if target < n:
            return t[:target]
        if target > n:
            return resample(t, target, algorithm)
        return t

    if resize_type == "fill":
        if target <= n:
            extra = n - target
            off = gravity_offset(gravity if gravity else "ce", extra)
            return t[off : off + target]
        return resample(t, target, algorithm)

    if resize_type == "force":
        if target == n:
            return t
        if n == 0:
            return t
        idx = np.arange(target, dtype=np.int64) % n
        return t[idx]

    raise TransformError(f"Unknown resize type: {resize_type}")


def op_crop(t: np.ndarray, width: int, gravity: Optional[str]) -> np.ndarray:
    """Slice of ``width`` tokens (reference: transform.rs:117-156).

    width == 0 means full length; width is clamped to the source; without a
    gravity the offset is 0 (the reference parses crop x=y=0).
    """
    n = len(t)
    w = n if width == 0 else min(width, n)
    if gravity is not None:
        off = gravity_offset(gravity, n - w)
    else:
        off = 0
    return t[off : off + w]


def op_extend(
    t: np.ndarray, target: int, gravity: Optional[str], bg_token: int
) -> np.ndarray:
    """Pad with background token to ``target`` length, gravity-placed
    (reference: transform.rs:343-383)."""
    n = len(t)
    if target < n:
        raise TransformError(
            f"extend target {target} must be at least source {n}"
        )
    extra = target - n
    off = gravity_offset(gravity if gravity else "ce", extra)
    out = np.full(target, bg_token, dtype=t.dtype)
    out[off : off + n] = t
    return out


def op_padding(t: np.ndarray, left: int, right: int, bg_token: int) -> np.ndarray:
    """Prepend/append background tokens (reference: transform.rs:386-409;
    1-D: top/bottom margins are the y-axis and do not apply)."""
    return np.concatenate(
        [
            np.full(left, bg_token, dtype=t.dtype),
            t,
            np.full(right, bg_token, dtype=t.dtype),
        ]
    )


def op_rotate(t: np.ndarray, degrees: int) -> np.ndarray:
    """Cyclic left shift by (degrees/90) * n//4 — invertible like a rotation
    (SURVEY.md §2.1; reference: transform.rs:412-423 allows 0/90/180/270)."""
    n = len(t)
    if degrees % 360 == 0 or n == 0:
        return t
    k = (degrees // 90) % 4
    shift = (k * n) // 4
    return np.roll(t, -shift)


def op_flip(t: np.ndarray, horizontal: bool, vertical: bool) -> np.ndarray:
    """Horizontal mirror = reverse; vertical is the y-axis -> identity in 1-D
    (reference: transform.rs:426-434)."""
    if horizontal:
        t = t[::-1]
    # vertical: identity in one dimension (documented divergence)
    _ = vertical
    return t


def op_exif_orientation(t: np.ndarray, orientation: int) -> np.ndarray:
    """EXIF orientation 2-8 as flip/rotate combos
    (reference: transform.rs:82-114 apply_exif_orientation)."""
    if orientation == 2:
        return op_flip(t, True, False)
    if orientation == 3:
        return op_rotate(t, 180)
    if orientation == 4:
        return op_flip(t, False, True)
    if orientation == 5:
        return op_flip(op_rotate(t, 90), True, False)
    if orientation == 6:
        return op_rotate(t, 90)
    if orientation == 7:
        return op_flip(op_rotate(t, 270), True, False)
    if orientation == 8:
        return op_rotate(t, 270)
    return t


def op_min_length(
    t: np.ndarray,
    min_width: Optional[int],
    min_height: Optional[int],
    algorithm: Optional[str] = None,
) -> np.ndarray:
    """Upscale by max(scale_w, scale_h) when below minimums
    (reference: transform.rs:546-581)."""
    n = len(t)
    if n == 0:
        return t
    # max(scale_w, scale_h) * n rounds back to the larger applicable minimum,
    # so compute the integer target directly (exact, SQL-mirrorable).
    target = max(
        min_width if (min_width and n < min_width) else 0,
        min_height if (min_height and n < min_height) else 0,
    )
    if target > n:
        return resample(t, target, algorithm)
    return t


def op_zoom(t: np.ndarray, zoom: float, algorithm: Optional[str] = None) -> np.ndarray:
    """Resample to round(n * zoom) (reference: transform.rs:584-589)."""
    n = len(t)
    target = math.floor(n * zoom + 0.5)
    return resample(t, max(target, 0), algorithm)


# ---------------------------------------------------------------------------
# Value ops ("effects", SURVEY.md §2.2; reference: transform.rs:437-633)
# ---------------------------------------------------------------------------


def _moving_average_floor(t: np.ndarray, window: int) -> np.ndarray:
    """Replicate-padded moving mean, rounded with floor(x + 0.5).

    SQL mirror: for each i, sum t[clamp(j, 0, n-1)] over j in [i-h, i+h],
    divided by the window size as a double.
    """
    n = len(t)
    if n == 0 or window <= 1:
        return t.copy()
    h = window // 2
    padded = np.concatenate([np.full(h, t[0]), t.astype(np.int64), np.full(h, t[-1])])
    csum = np.concatenate([[0], np.cumsum(padded)])
    sums = csum[window:] - csum[:-window]
    return np.floor(sums / float(window) + 0.5).astype(np.int64)


def _blur_window(sigma: float) -> int:
    return 2 * math.ceil(sigma) + 1


def op_blur(t: np.ndarray, sigma: float) -> np.ndarray:
    """Moving-average smoothing over window 2*ceil(sigma)+1, clamped to the
    vocab (gaussian-blur analog; reference: transform.rs:437-445)."""
    out = _moving_average_floor(t, _blur_window(sigma))
    return np.clip(out, 0, VOCAB - 1).astype(t.dtype)


def op_sharpen(t: np.ndarray, sigma: float) -> np.ndarray:
    """Unsharp mask: 2*t - blur(t), clamped; sigma clamped to [0.1, 10]
    (reference: transform.rs:592-605)."""
    sigma_c = min(max(sigma, 0.1), 10.0)
    blurred = _moving_average_floor(t, _blur_window(sigma_c))
    out = 2 * t.astype(np.int64) - blurred
    return np.clip(out, 0, VOCAB - 1).astype(t.dtype)


def op_pixelate(t: np.ndarray, amount: int) -> np.ndarray:
    """Block quantize: each block of ``amount`` tokens takes the block's first
    token (reference: transform.rs:608-633 nearest down+up scale)."""
    if amount <= 1:
        return t
    n = len(t)
    idx = (np.arange(n, dtype=np.int64) // amount) * amount
    return t[idx]


def _seq_mean_floor(t: np.ndarray) -> int:
    """Integer sequence mean, floor division (SQL: list_sum // n)."""
    if len(t) == 0:
        return 0
    return int(np.sum(t.astype(np.int64)) // len(t))


def op_brightness(t: np.ndarray, b: int) -> np.ndarray:
    """clamp(t + b) (reference parses -255..255; options.rs:1184-1190)."""
    out = t.astype(np.int64) + b
    return np.clip(out, 0, VOCAB - 1).astype(t.dtype)


def op_contrast(t: np.ndarray, c: float) -> np.ndarray:
    """Scale about the integer sequence mean: clamp(m + floor(c*(t-m)+0.5))."""
    m = _seq_mean_floor(t)
    out = m + np.floor(c * (t.astype(np.float64) - m) + 0.5).astype(np.int64)
    return np.clip(out, 0, VOCAB - 1).astype(t.dtype)


def op_saturation(t: np.ndarray, s: float) -> np.ndarray:
    """Blend each token toward the sequence mean — mirror of the reference's
    recomb-toward-luma matrix (transform.rs:448-524):
    clamp(floor(s*t + (1-s)*m + 0.5))."""
    m = _seq_mean_floor(t)
    out = np.floor(s * t.astype(np.float64) + (1.0 - s) * float(m) + 0.5).astype(np.int64)
    return np.clip(out, 0, VOCAB - 1).astype(t.dtype)


def watermark_tokens(length: int) -> np.ndarray:
    """The broadcast watermark asset: sentinel ids cycling through the
    reserved range (FIXTURES.md §2)."""
    return (SENTINEL_BASE + (np.arange(length, dtype=np.int64) % 100)).astype(np.int64)


def watermark_payload_tokens(payload: str) -> np.ndarray:
    """Custom watermark payload -> sentinel-range token block (reference:
    watermark.rs:25-97 decodes an arbitrary watermark source supplied via
    the base64url `watermark_url`/`wmu` option, options.rs).  Each payload
    byte maps into the reserved sentinel range; the block cycles to the
    watermark length like the reference tiles its watermark image."""
    b = payload.encode("utf-8")
    if len(b) == 0:
        return watermark_tokens(100)
    return SENTINEL_BASE + (np.frombuffer(b, dtype=np.uint8).astype(np.int64) % 100)


def op_watermark(
    t: np.ndarray,
    opacity: float,
    position: str,
    payload: Optional[np.ndarray] = None,
) -> np.ndarray:
    """Inject a sentinel block of length ceil(n/4) at the 9-way position with
    a 5% margin; opacity blends toward the sentinel
    (reference: watermark.rs:100-206).  ``payload`` (from watermark_url)
    replaces the default sentinel pattern, cycled to the block length."""
    n = len(t)
    if n == 0:
        return t
    wm_len = min((n + WM_FRACTION_DEN - 1) // WM_FRACTION_DEN, n)
    margin = math.floor(n * WM_MARGIN_FRAC + 0.5)
    if position in _GRAV_START:
        x = margin
    elif position in _GRAV_END:
        x = n - wm_len - margin
    else:  # no/so/ce and unknown -> centered (reference `_ =>` arm)
        x = (n - wm_len) // 2
    x = max(0, min(x, n - wm_len))
    if payload is not None and len(payload) > 0:
        wm = payload[np.arange(wm_len, dtype=np.int64) % len(payload)]
    else:
        wm = watermark_tokens(wm_len)
    out = t.astype(np.int64).copy()
    seg = out[x : x + wm_len].astype(np.float64)
    blended = np.floor(opacity * wm.astype(np.float64) + (1.0 - opacity) * seg + 0.5)
    out[x : x + wm_len] = np.clip(blended, 0, SENTINEL_MAX).astype(np.int64)
    return out.astype(t.dtype)


def op_flatten(t: np.ndarray, bg_token: int) -> np.ndarray:
    """Background-flatten for lossy output: replace sentinel (alpha-analog)
    tokens with the background token (reference: transform.rs:527-543,
    applied only for jpeg output in mod.rs:223-229)."""
    out = t.copy()
    out[out >= SENTINEL_BASE] = bg_token
    return out


# ---------------------------------------------------------------------------
# Encode (SURVEY.md §2.3; reference: save.rs)
# ---------------------------------------------------------------------------


def quality_step(quality: int) -> int:
    """Quantization step from quality: ceil((100-q)/10) + 1; q=100 -> 1
    (lossless).  Reference: encoder quality knob, save.rs/mod.rs:231-236."""
    q = min(max(quality, 1), 100)
    return (100 - q + 9) // 10 + 1


def op_quantize(t: np.ndarray, step: int) -> np.ndarray:
    """t - t % step (SURVEY.md §2.3 quality mapping)."""
    if step <= 1:
        return t
    return (t - (t % step)).astype(t.dtype)


def op_palette(t: np.ndarray, colors: int) -> np.ndarray:
    """PNG palette-quantization analog (reference: save.rs:99-110,
    ``palette: png.quantize``, ``q: quantization_colors.min(256)``): fold
    token values into K evenly-spaced palette cells over [0, VOCAB) and
    emit each cell's center — the token twin of reducing an image to a
    K-color palette.  K clamps to [2, 256]; values are clamped into the
    vocab first so the fold is total."""
    k = min(max(colors, 2), 256)
    cell = VOCAB // k
    c = np.clip(t, 0, VOCAB - 1)
    bucket = np.minimum(c // cell, k - 1)
    return (bucket * cell + cell // 2).astype(t.dtype)


def op_subsample(t: np.ndarray) -> np.ndarray:
    """AVIF chroma-subsampling analog (reference: save.rs:145-151 —
    ``subsample_mode: Auto`` unless ``avif.no_subsample``, i.e. the
    reference SUBSAMPLES BY DEFAULT for avif): each odd position takes
    its even neighbor's value, the 1-D twin of 4:2:0 sharing one chroma
    sample per pixel pair.  Pair-sharing creates runs, so it genuinely
    shrinks the RLE encoded size and interacts with the max_bytes
    walk-down like a real subsample toggle changes bitrate."""
    out = t.copy()
    odd = out[1::2]
    odd[:] = out[0::2][: odd.shape[0]]
    return out


def _avif_subsample(save) -> bool:
    """True when avif output should subsample: the reference default is
    Auto (ON); ``avif_options:1`` (no_subsample) turns it off
    (save.rs:145-151)."""
    return not (save is not None and save.avif.get("no_subsample"))


def op_progressive(t: np.ndarray) -> np.ndarray:
    """JPEG progressive-scan analog (reference: save.rs:84,
    ``interlace: save_jpeg_progressive()``): re-lay the sequence as a
    coarse scan (even positions) followed by a detail scan (odd
    positions) — the 1-D twin of progressive JPEG's multi-pass layout."""
    return np.concatenate([t[0::2], t[1::2]])


def _palette_colors(save) -> Optional[int]:
    """K when the plan's png options request palette quantization, else
    None (quantization_colors defaults to 256 like vips q=100 keeps the
    full palette range)."""
    if save is None or not save.png.get("quantize"):
        return None
    return int(save.png.get("quantization_colors") or 256)


def _jpeg_progressive(save) -> bool:
    return bool(save is not None and save.jpeg.get("progressive"))


def apply_dtype_rule(t: np.ndarray, rule: str) -> np.ndarray:
    if rule == "saturate":
        return np.clip(t, INT16_MIN, INT16_MAX)
    if rule == "mod256":
        return t % 256
    return t


def encoded_size_bytes(t: np.ndarray, elem_bytes: int) -> int:
    """Deterministic "encoded size": run-length-compressed size = number of
    runs x element width.  This is the token analog of encoder output size —
    quantization creates runs, so lowering quality genuinely shrinks it
    (reference: save.rs:46-64 max_bytes re-encode loop)."""
    n = len(t)
    if n == 0:
        return 0
    runs = 1 + int(np.count_nonzero(t[1:] != t[:-1]))
    return runs * elem_bytes


@dataclass
class EncodeResult:
    tokens: np.ndarray
    dtype: str
    size_bytes: int
    quality: int


def op_encode(
    t: np.ndarray,
    fmt: str,
    quality: int,
    max_bytes: Optional[int],
    save=None,
) -> EncodeResult:
    """Format -> dtype recast + lossy quantization + encoder knobs
    (png palette fold, jpeg progressive layout, avif subsample) +
    max_bytes quality loop (reference: save.rs:31-118).  Canonical stage
    order, shared verbatim by the rect kernel and the SQL oracle:
    quantize -> subsample -> palette -> dtype rule -> progressive -> size."""
    fmt = fmt.lower()
    spec = FORMAT_SPECS.get(fmt)
    if spec is None:
        raise TransformError(f"Unsupported format: {fmt}")
    dtype, elem_bytes, lossy, rule = spec
    palette_k = _palette_colors(save) if fmt == "png" else None
    progressive = fmt in ("jpeg", "jpg") and _jpeg_progressive(save)
    subsample = fmt in ("avif", "heif") and _avif_subsample(save)

    q = min(max(quality, 1), 100)
    base = t.astype(np.int64)

    if max_bytes is None:
        out = base
        if lossy:
            out = op_quantize(out, quality_step(q))
        if subsample:
            out = op_subsample(out)
        if palette_k is not None:
            out = op_palette(out, palette_k)
        out = apply_dtype_rule(out, rule)
        if progressive:
            out = op_progressive(out)
        return EncodeResult(out, dtype, encoded_size_bytes(out, elem_bytes), q)

    # Quality loop: re-encode at q-5 steps until size fits or q == 1
    # (reference: save.rs:46-64).
    quality_now = q
    while True:
        out = base
        if lossy or quality_now < q:
            out = op_quantize(out, quality_step(quality_now))
        if subsample:
            out = op_subsample(out)
        if palette_k is not None:
            out = op_palette(out, palette_k)
        out = apply_dtype_rule(out, rule)
        if progressive:
            out = op_progressive(out)
        size = encoded_size_bytes(out, elem_bytes)
        if size <= max_bytes or quality_now <= 1:
            return EncodeResult(out, dtype, size, quality_now)
        quality_now = max(quality_now - 5, 1)


# ---------------------------------------------------------------------------
# The full chain (reference: src/processing/mod.rs:45-246 process_image)
# ---------------------------------------------------------------------------


@dataclass
class TransformOutput:
    tokens: np.ndarray
    dtype: str
    size_bytes: int
    quality: int
    fmt: str


def default_bg_token(background: Optional[tuple[int, int, int, int]]) -> int:
    """Background RGBA -> token id: (r<<16 | g<<8 | b) % VOCAB; default 0
    (reference default background is transparent black, transform.rs:343)."""
    if background is None:
        return 0
    r, g, b = background[0], background[1], background[2]
    return ((r << 16) | (g << 8) | b) % VOCAB


def apply_plan(
    tokens: np.ndarray,
    plan: Plan,
    orientation: int = 1,
    src_dtype: str = "int32",
    default_format: Optional[str] = None,
) -> TransformOutput:
    """Run the full transform chain on one sequence, in the canonical order
    of process_image (mod.rs:45-246)."""
    t = np.asarray(tokens, dtype=np.int64)

    # raw: bypass all processing (reference: service.rs:267-276, 611-643).
    if plan.raw:
        spec = FORMAT_SPECS.get(src_dtype, FORMAT_SPECS["int32"])
        return TransformOutput(t, spec[0], encoded_size_bytes(t, spec[1]), 0, src_dtype)

    # Output format resolution (reference: service.rs:143-149, 291-294):
    # explicit format, else source-sniffed/configured default, else jpeg.
    out_fmt = plan.format or default_format or src_dtype or DEFAULT_FORMAT
    if out_fmt.lower() not in FORMAT_SPECS:
        raise TransformError(f"Unsupported format: {out_fmt}")

    # skip_processing: bypass when the source format is listed and matches
    # the target (reference: options.rs:1128-1135, plan field :564).
    if plan.skip_processing and src_dtype.lower() in plan.skip_processing:
        if plan.format is None or plan.format.lower() == src_dtype.lower():
            spec = FORMAT_SPECS.get(src_dtype.lower(), FORMAT_SPECS["int32"])
            return TransformOutput(
                t, spec[0], encoded_size_bytes(t, spec[1]), 0, src_dtype
            )

    plan = copy_plan(plan)

    # DPR pre-scale of resize and padding targets (mod.rs:55-86).
    if plan.dpr is not None and plan.dpr > 1.0:
        dpr = plan.dpr
        if plan.resize is not None:
            plan.resize.width = math.floor(plan.resize.width * dpr + 0.5)
            plan.resize.height = math.floor(plan.resize.height * dpr + 0.5)
        if plan.padding is not None:
            plan.padding = tuple(
                math.floor(p * dpr + 0.5) for p in plan.padding
            )  # type: ignore[assignment]

    # EXIF auto-rotate (mod.rs:91-95; transform.rs:82-114).
    if plan.auto_rotate:
        t = op_exif_orientation(t, orientation)

    # Crop (mod.rs:97-101).
    if plan.crop is not None:
        t = op_crop(t, plan.crop.width, plan.crop.gravity)

    # Resize with enlarge gate (mod.rs:103-131).
    resolved_target: Optional[int] = None
    if plan.resize is not None:
        target = resolve_resize_length(
            plan.resize.resizing_type, plan.resize.width, plan.resize.height
        )
        resolved_target = target
        if not plan.enlarge and target > len(t):
            pass  # gate: do not enlarge
        else:
            t = op_resize(
                t,
                plan.resize.resizing_type or "fit",
                target,
                plan.gravity,
                plan.enlarge,
                plan.resizing_algorithm,
            )

    # Min dims (mod.rs:133-146).
    if plan.min_width is not None or plan.min_height is not None:
        t = op_min_length(t, plan.min_width, plan.min_height, plan.resizing_algorithm)

    # Zoom (mod.rs:148-152).
    if plan.zoom is not None:
        t = op_zoom(t, plan.zoom, plan.resizing_algorithm)

    bg_token = default_bg_token(plan.background)

    # Extend to the resolved resize target (mod.rs:154-170).
    if plan.extend and resolved_target is not None and len(t) < resolved_target:
        t = op_extend(t, resolved_target, plan.gravity, bg_token)

    # Padding (mod.rs:172-176): 1-D uses left(=values[3]) / right(=values[1]).
    if plan.padding is not None:
        top, right, bottom, left = plan.padding
        _ = (top, bottom)  # y-axis margins do not apply in 1-D
        t = op_padding(t, left, right, bg_token)

    # Rotation (mod.rs:178-182).
    if plan.rotation is not None:
        t = op_rotate(t, plan.rotation)

    # Flip (mod.rs:184-188).
    if plan.flip is not None:
        t = op_flip(t, plan.flip.horizontal, plan.flip.vertical)

    # Adjust: brightness -> contrast -> saturation (mod.rs:190-194;
    # the reference parses all three but its libvips bindings can only apply
    # saturation, transform.rs:448-461 — the token engine applies all three,
    # a documented superset).
    if plan.adjust is not None:
        if plan.adjust.brightness != 0:
            t = op_brightness(t, plan.adjust.brightness)
        if abs(plan.adjust.contrast - 1.0) > 1e-9:
            t = op_contrast(t, plan.adjust.contrast)
        if abs(plan.adjust.saturation - 1.0) > 1e-9:
            t = op_saturation(t, plan.adjust.saturation)

    # Blur (mod.rs:196-200).
    if plan.blur is not None:
        t = op_blur(t, plan.blur)

    # Sharpen (mod.rs:202-206).
    if plan.sharpen is not None:
        t = op_sharpen(t, plan.sharpen)

    # Pixelate (mod.rs:208-212).
    if plan.pixelate is not None and plan.pixelate > 0:
        t = op_pixelate(t, plan.pixelate)

    # Watermark (mod.rs:214-222); watermark_url supplies a custom payload
    # (watermark.rs:25-97), otherwise the fixed sentinel block.
    if plan.watermark is not None:
        payload = (
            watermark_payload_tokens(plan.watermark_url)
            if plan.watermark_url
            else None
        )
        t = op_watermark(t, plan.watermark.opacity, plan.watermark.position, payload)

    # Background flatten, jpeg output only (mod.rs:223-229).
    if plan.background is not None and out_fmt.lower() == "jpeg":
        t = op_flatten(t, bg_token)

    # Encode (mod.rs:231-236; save.rs).
    quality = plan.quality
    if quality is None:
        quality = plan.save.format_quality.get(out_fmt.lower(), DEFAULT_QUALITY)
    result = op_encode(t, out_fmt, quality, plan.save.max_bytes, plan.save)
    return TransformOutput(
        result.tokens.astype(np.int64),
        result.dtype,
        result.size_bytes,
        result.quality,
        out_fmt.lower(),
    )
