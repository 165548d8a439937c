"""Reference bucket lifecycle for the stateful caches: the per-row dict
version that ``CacheNamespace.state_func`` replaced.  Its entry table is a
Python dict rebuilt from nested-list state on every invocation, and it
walks the rows one at a time, which is slow but obviously right; the
production lifecycle over flat numpy state must produce the same rows and
retain the same keys (tests/test_cache_reference.py).  Test-only: never
imported by tokforge."""

from __future__ import annotations

import time
from itertools import repeat

import numpy as np
import pandas as pd

from tokforge.engine.transform_arrow import expired_rows
from tokforge.streaming.cache_state import miss_core


def _result_miss_values(cols, pos, matrix):
    return repeat(cols["dtype"][pos[0]]), matrix.tolist()


def _serve_results(served):
    toks = [None if v is None else v[1] for v in served]
    return {
        "tokens_out": toks,
        "n_out": np.fromiter(
            (0 if t is None else len(t) for t in toks), dtype=np.int32, count=len(toks)
        ),
        "dtype": [None if v is None else v[0] for v in served],
    }


def _info_miss_values(cols, pos, matrix):
    return (
        repeat(matrix.shape[1]),
        repeat(cols["dtype"][pos[0]]),
        cols["size_bytes"][pos].tolist(),
    )


def _serve_info(served):
    return {
        "n_out": np.fromiter(
            (0 if v is None else v[0] for v in served), dtype=np.int32, count=len(served)
        ),
        "dtype": [None if v is None else v[1] for v in served],
        "size_bytes": np.fromiter(
            (0 if v is None else v[2] for v in served), dtype=np.int64, count=len(served)
        ),
    }


# per namespace key: (MISS fill, HIT serve), the old namespace callables
_VALUES = {
    "cache_key": (_result_miss_values, _serve_results),
    "doc_id": (_info_miss_values, _serve_info),
}


def reference_state_func(ns, config, ttl_ms: int = 0):
    """The dict lifecycle for namespace ``ns`` (a production
    ``CacheNamespace``: key, status, output schema, expiry gating).  State
    is ``(keys, *values, last_ms)`` as parallel Python lists."""
    miss_values, serve = _VALUES[ns.key]
    capacity = config.cache_capacity_per_bucket
    fields = ns.output_schema.fieldNames()

    def state_fn(key, pdf_iter, state):
        if state.hasTimedOut:
            state.remove()
            return

        chunks = list(pdf_iter)
        rows = chunks[0] if len(chunks) == 1 else pd.concat(chunks, ignore_index=True)
        m = len(rows)
        doc_ids = rows["doc_id"].to_numpy(dtype=object)
        ts_vals = rows["ts"].to_numpy()
        keys = rows[ns.key].to_numpy(dtype=object)
        order = np.lexsort((doc_ids, ts_vals)) if m > 1 else np.arange(m)
        entries: dict = {}
        if state.exists:
            keys_s, *values_s, last_s = state.get
            entries = {k: [*v, lm] for k, *v, lm in zip(keys_s, *values_s, last_s)}
        now_ms = int(time.time() * 1000)
        if ttl_ms > 0 and entries:
            entries = {k: v for k, v in entries.items() if now_ms - v[-1] <= ttl_ms}

        statuses = np.empty(m, dtype=object)
        errors = np.full(m, None, dtype=object)
        served: list = [None] * m

        if ns.expiry_gates_hits:
            ops_codes, ops_dict = pd.factorize(rows["ops"].to_numpy(dtype=object))
            expired = expired_rows(
                ops_codes, list(ops_dict), rows["ts_unix"].to_numpy(dtype=np.int64), config
            )
            statuses[expired] = "ERROR"
            errors[expired] = "Request expired"
        else:
            expired = np.zeros(m, dtype=bool)

        # classify in event-time order: state HIT, first-occurrence MISS,
        # or duplicate of a MISS in this batch
        first_of: dict = {}
        dup_of = np.full(m, -1, dtype=np.int64)
        for i in order.tolist():
            if expired[i]:
                continue
            ent = entries.get(keys[i])
            if ent is not None:
                statuses[i] = "HIT"
                served[i] = ent
                ent[-1] = now_ms
                continue
            j = first_of.get(keys[i])
            if j is None:
                first_of[keys[i]] = i
            else:
                dup_of[i] = j

        inserted = False
        if first_of:
            miss = np.fromiter(first_of.values(), dtype=np.int64, count=len(first_of))
            cols, buckets = miss_core(rows, miss, config)
            failed = cols["error"] != None  # noqa: E711
            statuses[miss[failed]] = "ERROR"
            errors[miss[failed]] = cols["error"][failed]
            for pos, matrix in buckets:
                statuses[miss[pos]] = "MISS"
                for i, values in zip(miss[pos].tolist(), zip(*miss_values(cols, pos, matrix))):
                    entries[keys[i]] = served[i] = [*values, now_ms]
                inserted = True

        for i in np.nonzero(dup_of >= 0)[0]:
            j = dup_of[i]
            if statuses[j] == "ERROR":
                statuses[i] = "ERROR"
                errors[i] = errors[j]
            else:
                statuses[i] = "HIT"
                served[i] = served[j]

        if capacity > 0 and len(entries) > capacity:
            victims = sorted(entries.items(), key=lambda kv: (kv[1][-1], kv[0]))
            for k, _ in victims[: len(entries) - capacity]:
                del entries[k]

        if entries:
            if inserted or ttl_ms > 0 or capacity > 0 or not state.exists:
                state.update((list(entries), *(list(c) for c in zip(*entries.values()))))
                if ttl_ms > 0:
                    state.setTimeoutDuration(ttl_ms)
        elif state.exists:
            state.remove()

        out = {
            ns.key: keys,
            "doc_id": doc_ids,
            "ts": ts_vals,
            ns.status: statuses,
            "error": errors,
            **serve(served),
        }
        yield pd.DataFrame({f: out[f] for f in fields})

    return state_fn
