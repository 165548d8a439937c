"""The streaming LSH lifecycle over the flat entry table equals the per-row
dict reference (tests/lsh_reference.py) on randomized multi-invocation
sequences: the same output rows and the same retained entries after every
invocation.  The batches carry in-batch band-key duplicates, re-filed doc
ids, unshingleable (NULL-sig) rows, ties in ``est_jaccard`` and entries
exactly one horizon old.  No Spark: both lifecycles run against an
in-memory GroupState."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from tests.lsh_reference import reference_lsh_state_func
from tests.test_cache_reference import _State
from tokforge.pipeline.dedup import N_HASHES
from tokforge.streaming.lsh_dedup import BAND_STATE, make_lsh_state_func

HORIZON_MS = 20_000
STEP_MS = 5_000  # event times on a 5 s grid: gaps of exactly one horizon occur


def _frame(doc_ids, ts_ms, sigs, band_idx, band_val):
    """A bucket's input rows as the Arrow conversion hands them over: a
    nullable long ``band_val`` arrives as float64 with NaN."""
    has_null = any(v is None for v in band_val)
    return pd.DataFrame(
        {
            "doc_id": pd.array(doc_ids, dtype=object),
            "ts": pd.to_datetime(np.asarray(ts_ms, dtype=np.int64), unit="ms"),
            "sig": pd.array(sigs, dtype=object),
            "band_idx": np.asarray(band_idx, dtype=np.int32),
            "band_val": np.array(
                [np.nan if v is None else v for v in band_val],
                dtype=np.float64 if has_null else np.int64,
            ),
        }
    )


def _batch(rng, t0, bases):
    """One random bucket batch.  A signature is one of ``bases`` with up
    to 4 positions redrawn from a 3-value alphabet, so near-dups are
    common and equal-position fractions tie often; band values fold 4
    positions mod 5, so bands collide with and without a near-dup behind
    them."""
    m = int(rng.integers(1, 16))
    docs, ts, sigs, bidx, bval = [], [], [], [], []
    for _ in range(m):
        docs.append(f"d{int(rng.integers(0, 12))}")
        ts.append(t0 + int(rng.integers(-3, 6)) * STEP_MS)
        b = int(rng.integers(0, 2))
        bidx.append(b)
        if rng.random() < 0.15:
            sigs.append(None)
            bval.append(None)
            continue
        sig = bases[int(rng.integers(0, len(bases)))].copy()
        sig[rng.integers(0, N_HASHES, int(rng.integers(0, 5)))] = rng.integers(0, 3)
        sigs.append(sig)
        bval.append(int(sig[4 * b : 4 * b + 4].sum()) % 5)
    if rng.random() < 0.5:  # a replayed row: same doc, key and time
        j = int(rng.integers(0, m))
        for col in (docs, ts, sigs, bidx, bval):
            col.append(col[j])
    return _frame(docs, ts, sigs, bidx, bval)


def _entries(state, decode):
    if not state.exists:
        return []
    cols = decode(state.get)
    return sorted(
        (bk, d, tuple(int(x) for x in sg), int(t)) for bk, d, sg, t in zip(*cols)
    )


def _flat_entries(stored):
    t = BAND_STATE.decode(stored)
    return t["bkeys"], t["doc_ids"], t["sigs"], t["ts_ms"]


def _rows(out: pd.DataFrame) -> list:
    return [tuple(r.values()) for r in out.to_dict("records")]


def _run_both(batches, threshold, horizon_ms):
    fn = make_lsh_state_func(threshold, horizon_ms)
    ref = reference_lsh_state_func(threshold, horizon_ms)
    st, st_ref = _State(), _State()
    outs = []
    for step, batch in enumerate(batches):
        got = list(fn((0,), iter([batch.copy()]), st))
        want = list(ref((0,), iter([batch.copy()]), st_ref))
        assert len(got) == len(want) == 1
        assert list(got[0].columns) == list(want[0].columns)
        assert _rows(got[0]) == _rows(want[0]), f"step {step}"
        assert _entries(st, _flat_entries) == _entries(st_ref, tuple), f"step {step}"
        outs.append(got[0])
    return outs, st


@pytest.mark.parametrize("threshold", [0.5, 0.75])
@pytest.mark.parametrize("seed", range(6))
def test_lifecycle_matches_dict_reference(seed, threshold):
    rng = np.random.default_rng(seed)
    t0 = 1_700_000_000_000
    bases = rng.integers(0, 3, (3, N_HASHES)).astype(np.int64)
    batches = []
    for _ in range(14):
        t0 += int(rng.integers(-1, 4)) * STEP_MS  # event time may step back
        batch = _batch(rng, t0, bases)
        if rng.random() < 0.3:  # a second chunk from the same invocation
            batches.append(pd.concat([batch, _batch(rng, t0, bases)], ignore_index=True))
        else:
            batches.append(batch)
    outs, _ = _run_both(batches, threshold, HORIZON_MS)
    allrows = pd.concat(outs, ignore_index=True)
    # the sequence exercised matches, misses and pass-through rows
    assert allrows["matched_doc"].notna().any()
    assert (allrows["matched_doc"].isna() & (allrows["est_jaccard"] == 0)).any()


def test_ties_and_horizon_edges():
    """Hand-built edges, checked against fixed expectations as well as the
    reference: an est_jaccard tie goes to the lowest doc id, an entry
    exactly one horizon old still matches and is retained, one a
    millisecond older neither matches nor survives eviction, a doc never
    matches its own earlier filing, and a NULL-sig row passes through."""
    base = np.arange(N_HASHES, dtype=np.int64)
    half = base.copy()
    half[4:] += 100  # shares band 0 and 4/8 positions with ``base``
    t = 1_700_000_000_000
    first = _frame(
        ["b", "a", "old", "x"],
        [t, t, t - 1, t],
        [half, half, half, base],
        [0, 0, 0, 0],
        [7, 7, 7, 7],
    )
    second = _frame(
        ["x", "y", "z"],
        [t + HORIZON_MS, t + HORIZON_MS, t + HORIZON_MS],
        [base, base, None],
        [0, 0, 0],
        [7, 7, None],
    )
    outs, st = _run_both([first, second], 0.5, HORIZON_MS)
    got = outs[1].set_index("doc_id")
    # x: its own filing is skipped; a, b and old tie at 0.5, old is past
    # the horizon, so the lowest live doc id wins
    assert got.loc["x", "matched_doc"] == "a" and got.loc["x", "est_jaccard"] == 0.5
    # y: x's earlier filing matches it fully, exactly one horizon later
    assert got.loc["y", "matched_doc"] == "x" and got.loc["y", "est_jaccard"] == 1.0
    assert got.loc["z", "matched_doc"] is None and got.loc["z", "est_jaccard"] == 0.0
    kept = {(d, t_) for _, d, _, t_ in _entries(st, _flat_entries)}
    assert ("a", t) in kept and ("old", t - 1) not in kept


def test_band_state_schema_is_flat():
    """Band key and doc id as array<string>, signatures and event times
    as binary; the signature block decodes to a (k, N_HASHES) matrix."""
    from pyspark.sql.types import ArrayType, BinaryType, StringType

    schema = BAND_STATE.state_schema
    assert schema.fieldNames() == ["bkeys", "doc_ids", "sigs", "ts_ms"]
    assert [f.dataType for f in schema.fields] == [
        ArrayType(StringType()),
        ArrayType(StringType()),
        BinaryType(),
        BinaryType(),
    ]
    sigs = np.arange(2 * N_HASHES, dtype=np.int64).reshape(2, N_HASHES)
    table = {
        "bkeys": np.array(["0:1", "1:2"], dtype=object),
        "doc_ids": np.array(["a", "b"], dtype=object),
        "sigs": sigs,
        "ts_ms": np.array([5, 6], dtype=np.int64),
    }
    back = BAND_STATE.decode(BAND_STATE.encode(table))
    assert back["sigs"].shape == (2, N_HASHES) and (back["sigs"] == sigs).all()
    assert list(BAND_STATE.take(back, np.array([1]))["doc_ids"]) == ["b"]
