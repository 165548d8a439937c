"""Rectangular kernel == per-row kernel, row for row, across the full
chain corpus and randomized inputs (the vectorized fast path must be a
pure optimization, never a semantic change)."""

from __future__ import annotations

import numpy as np
import pytest

from tests.test_oracle_parity import CHAINS
from tokforge.operators.kernel import apply_plan
from tokforge.operators.kernel_rect import apply_plan_rect
from tokforge.plans.options import parse_chain

EXTRA_CHAINS = [
    "max_bytes:40/format:jpeg/quality:95",
    "max_bytes:8/format:jpeg",
    "max_bytes:1000000/format:png",
    "skip_processing:int16/resize:fit:2",
]


@pytest.mark.parametrize("chain", CHAINS + EXTRA_CHAINS)
@pytest.mark.parametrize("n", [6, 31, 100])
def test_rect_equals_rowwise(chain, n):
    rng = np.random.default_rng(hash((chain, n)) % 2**32)
    m = 16
    mat = rng.integers(0, 50257, size=(m, n), dtype=np.int64)
    orientations = rng.integers(1, 9, size=m, dtype=np.int64)
    plan = parse_chain(chain)
    for sdt in ("int32", "int16", "uint8"):
        rect = apply_plan_rect(mat, plan, orientations, src_dtype=sdt)
        for i in range(m):
            row = apply_plan(mat[i], plan, orientation=int(orientations[i]), src_dtype=sdt)
            assert list(rect.tokens[i]) == list(row.tokens), (chain, n, sdt, i)
            assert rect.dtype == row.dtype
            assert rect.size_bytes[i] == row.size_bytes
            assert rect.quality[i] == row.quality
            assert rect.fmt == row.fmt


def test_rect_empty_matrix():
    plan = parse_chain("format:png")
    out = apply_plan_rect(
        np.empty((3, 0), dtype=np.int64), plan, np.ones(3, dtype=np.int64), "int32"
    )
    assert out.tokens.shape == (3, 0)
    assert list(out.size_bytes) == [0, 0, 0]


def _moving_mean_reference(mat: np.ndarray, window: int) -> np.ndarray:
    """Plain-numpy replicate-padded moving mean, floor(mean + 0.5)."""
    h = window // 2
    padded = np.pad(mat.astype(np.int64), ((0, 0), (h, h)), mode="edge")
    n = mat.shape[1]
    sums = sum(padded[:, k : k + n] for k in range(window))
    return np.floor(sums / window + 0.5).astype(np.int64)


@pytest.mark.parametrize("window", range(3, 22, 2))
def test_moving_mean_branches_match_reference(window):
    """Both _moving_mean_rect branches (shifted adds for w <= 8, cumsum
    above) accept the same odd-window domain and equal the plain
    definition — including negative inputs, which take the int64 path."""
    from tokforge.operators.kernel_rect import _moving_mean_rect

    rng = np.random.default_rng(window)
    for lo, hi in ((0, 50257), (-50257, 50257)):
        for n in (1, 5, window, 40):
            mat = rng.integers(lo, hi, size=(7, n)).astype(np.int32)
            got = _moving_mean_rect(mat, window)
            np.testing.assert_array_equal(got, _moving_mean_reference(mat, window))


def test_moving_mean_rejects_even_window():
    from tokforge.operators.kernel_rect import _moving_mean_rect

    mat = np.arange(12, dtype=np.int32).reshape(2, 6)
    for window in (4, 10):
        with pytest.raises(AssertionError):
            _moving_mean_rect(mat, window)
