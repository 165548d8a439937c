"""The cache bucket lifecycle over flat numpy state equals the per-row dict
reference (tests/cache_reference.py) on randomized multi-invocation
sequences: the same output rows and the same retained keys after every
invocation, for both namespaces, TTL on and off, capacity on and off.  The
batches carry in-batch duplicate keys, rows past their chain's
``expires:``, chains that fail to parse and sources over the size cap.
No Spark: both lifecycles run against an in-memory GroupState."""

from __future__ import annotations

import dataclasses
import types

import numpy as np
import pandas as pd
import pytest

from tests import cache_reference
from tokforge.engine.config import EngineConfig
from tokforge.streaming import cache_state
from tokforge.streaming.cache_state import INFO_CACHE, RESULT_CACHE

EXPIRES = 1_704_070_800
CHAINS = (
    "resize:fit:32/quality:80/format:int16",
    "crop:8:0/format:png",
    f"expires:{EXPIRES}/crop:8:0/format:png",
    "resize:fit:abc",  # fails to parse
)
LADDER = (6, 32, 100, 256)  # 256 tokens = 1024 bytes, over the cap below
CFG = EngineConfig(max_src_file_size=1000)


class _State:
    """In-memory GroupState that counts writes and timeout arms."""

    def __init__(self):
        self.value = None
        self.hasTimedOut = False  # noqa: N815 - GroupState API casing
        self.updates = 0
        self.arms = 0

    @property
    def exists(self):
        return self.value is not None

    @property
    def get(self):
        return self.value

    def update(self, v):
        self.updates += 1
        self.value = v

    def remove(self):
        self.value = None

    def setTimeoutDuration(self, ms):  # noqa: N802 - GroupState API casing
        self.arms += 1


def _batch(rng, doc_tokens):
    """One random bucket batch: a few docs x chains, so keys repeat within
    the batch and across batches; event times straddle EXPIRES."""
    m = int(rng.integers(1, 14))
    docs = rng.integers(0, len(doc_tokens), m)
    chains = rng.integers(0, len(CHAINS), m)
    ts_unix = EXPIRES + rng.integers(-3, 3, m) * 60
    doc_ids = [f"d{d}" for d in docs]
    return pd.DataFrame(
        {
            "cache_key": [f"{doc}|{CHAINS[c]}" for doc, c in zip(doc_ids, chains)],
            "doc_id": doc_ids,
            "ts": pd.to_datetime(ts_unix, unit="s"),
            "ts_unix": ts_unix.astype(np.int64),
            "tokens": [doc_tokens[d] for d in docs],
            "ops": [CHAINS[c] for c in chains],
            "orientation": (1 + docs % 8).astype(np.int32),
            "src_dtype": ["uint8" if d % 2 else "int16" for d in docs],
        }
    )


def _rows(out: pd.DataFrame) -> list:
    """Output rows as comparable tuples (token arrays as plain lists)."""
    return [
        tuple(
            list(np.asarray(v)) if c == "tokens_out" and v is not None else v
            for c, v in r.items()
        )
        for r in out.to_dict("records")
    ]


@pytest.mark.parametrize("ns", [RESULT_CACHE, INFO_CACHE], ids=["result", "info"])
@pytest.mark.parametrize("ttl_ms", [0, 5000])
@pytest.mark.parametrize("capacity", [0, 3])
@pytest.mark.parametrize("seed", [0, 1, 2])
def test_lifecycle_matches_dict_reference(monkeypatch, ns, ttl_ms, capacity, seed):
    clock = {"s": 1_000.0}
    fake_time = types.SimpleNamespace(time=lambda: clock["s"])
    monkeypatch.setattr(cache_state, "time", fake_time)
    monkeypatch.setattr(cache_reference, "time", fake_time)

    rng = np.random.default_rng(seed)
    doc_tokens = [
        rng.integers(0, 50_000, LADDER[d % 4]).astype(np.int32) for d in range(9)
    ]
    cfg = dataclasses.replace(CFG, cache_capacity_per_bucket=capacity)
    fn = ns.state_func(cfg, ttl_ms=ttl_ms)
    ref = cache_reference.reference_state_func(ns, cfg, ttl_ms=ttl_ms)
    st, st_ref = _State(), _State()
    statuses = set()
    for step in range(16):
        clock["s"] += float(rng.integers(0, 4)) + 0.001 * step
        timed_out = ttl_ms > 0 and step == 11
        st.hasTimedOut = st_ref.hasTimedOut = timed_out
        batch = _batch(rng, doc_tokens)
        got = list(fn((0,), iter([batch.copy()]), st))
        want = list(ref((0,), iter([batch.copy()]), st_ref))
        assert len(got) == len(want) == (0 if timed_out else 1)
        if got:
            assert list(got[0].columns) == list(want[0].columns)
            assert _rows(got[0]) == _rows(want[0]), f"step {step}"
            statuses |= set(got[0][ns.status])
        assert st.exists == st_ref.exists, f"step {step}"
        if st.exists:
            assert sorted(st.value[0]) == sorted(st_ref.value[0]), f"step {step}"
            assert len(st.value[0]) == len(set(st.value[0]))
            if capacity:
                assert len(st.value[0]) <= capacity
        assert (st.updates, st.arms) == (st_ref.updates, st_ref.arms), f"step {step}"
    # the sequence exercised every outcome
    assert statuses == {"HIT", "MISS", "ERROR"}


def test_state_schema_has_no_nested_array():
    """Both namespaces' state is keys + dtypes as array<string> and every
    other field as flat binary, field for field the layout whose
    checkpoints this code restores (docs/SEMANTICS.md "Cache state
    layout"); ``keys`` stays the first field."""
    from pyspark.sql.types import ArrayType, BinaryType, StringType, StructField, StructType

    def schema(*fields):
        return StructType(
            [StructField(n, ArrayType(StringType()) if t == "strings" else BinaryType()) for n, t in fields]
        )

    assert RESULT_CACHE.layout.state_schema == schema(
        ("keys", "strings"), ("dtypes", "strings"), ("lens", "binary"), ("toks", "binary"), ("last_ms", "binary")
    )
    assert INFO_CACHE.layout.state_schema == schema(
        ("keys", "strings"), ("n_outs", "binary"), ("dtypes", "strings"), ("sizes", "binary"), ("last_ms", "binary")
    )


def test_state_round_trips_through_bytes():
    """decode(encode(t)) == t, and a take() of the flat payload gathers the
    right token runs."""
    layout = RESULT_CACHE.layout
    new = {
        "keys": np.array(["a", "b", "c"], dtype=object),
        "dtypes": np.array(["int16", "uint8", "int16"], dtype=object),
        "lens": np.array([2, 0, 3], dtype="<i4"),
        "toks": np.array([1, 2, 7, 8, 9], dtype="<i4"),
        "last_ms": np.array([5, 6, 7], dtype="<i8"),
    }
    t = layout.concat(layout.empty(), new)
    back = layout.decode(layout.encode(t))
    assert list(back["keys"]) == ["a", "b", "c"]
    assert list(back["toks"]) == [1, 2, 7, 8, 9]
    assert list(back["last_ms"]) == [5, 6, 7]
    sub = layout.take(back, np.array([2, 0]))
    assert list(sub["keys"]) == ["c", "a"] and list(sub["toks"]) == [7, 8, 9, 1, 2]
    served = RESULT_CACHE.serve(back, np.array([2, -1, 1, 0]))
    assert [None if v is None else list(v) for v in served["tokens_out"]] == [
        [7, 8, 9],
        None,
        [],
        [1, 2],
    ]
    assert list(served["n_out"]) == [3, 0, 0, 2]
    assert list(served["dtype"]) == ["int16", None, "uint8", "int16"]
