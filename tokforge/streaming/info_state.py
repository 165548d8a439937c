"""The metadata (/info) cache as a SECOND keyed state namespace.

The reference keeps two cache namespaces in one store — processed results
and image-info probes (src/caching/cache.rs:240-256; the /info handler
probes-then-inserts in service.rs:347-408).  Here each namespace is its
own `applyInPandasWithState` operator with its own state schema: this one
is keyed by doc_id (info is per-source-document, independent of the ops
chain) and stores only the post-transform metadata — no token payload —
so state stays tiny and TTL-bounded.

Like the result cache (cache_state.py), the doc_id key space is hashed
into buckets and each bucket's state is a compact entry table: one Python
invocation per BUCKET, not per key — the per-group overhead of the
grouped-pandas API is the 100 TB bottleneck otherwise (measured; see
cache_state.py docstring).

The first request for a doc computes the info (MISS) and inserts; later
requests — same micro-batch or later ones while the TTL holds — serve the
stored row (HIT) without recomputing.
"""

from __future__ import annotations

import time
from typing import Iterator, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from tokforge.engine.config import DEFAULT_CONFIG, EngineConfig
from tokforge.operators.alloc import tune_allocator  # noqa: F401 - worker mallopt
from tokforge.streaming.cache_state import miss_core, resolve_buckets

INFO_OUTPUT_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("ts", TimestampType()),
        StructField("info_status", StringType()),
        StructField("n_out", IntegerType()),
        StructField("dtype", StringType()),
        StructField("size_bytes", LongType()),
        StructField("error", StringType()),
    ]
)

# One bucket's compacted info table: parallel arrays keyed by doc_id.
INFO_STATE_SCHEMA = StructType(
    [
        StructField("keys", ArrayType(StringType())),
        StructField("n_outs", ArrayType(IntegerType())),
        StructField("dtypes", ArrayType(StringType())),
        StructField("sizes", ArrayType(LongType())),
        StructField("last_ms", ArrayType(LongType())),
    ]
)


def make_info_state_func(
    config: EngineConfig = DEFAULT_CONFIG,
    ttl_ms: int = 0,
    capacity: int | None = None,
):
    """Stateful group function for the info namespace (key = hash bucket).
    ttl_ms <= 0 disables eviction; entries expire ttl_ms after last access
    (sliding), idle buckets drop whole via the group timeout.  ``capacity``
    (default config.cache_capacity_per_bucket, 0 = unbounded) caps this
    bucket's entries with lowest-recency-first eviction — both reference
    namespaces live in the same capacity-bounded foyer store
    (caching/config.rs:54-66, cache.rs:152-165)."""
    if capacity is None:
        capacity = config.cache_capacity_per_bucket

    def info_fn(
        key: Tuple[int],
        pdf_iter: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()
            return

        chunks = list(pdf_iter)
        rows = chunks[0] if len(chunks) == 1 else pd.concat(chunks, ignore_index=True)
        m = len(rows)
        doc_ids = rows["doc_id"].to_numpy(dtype=object)
        ts_vals = rows["ts"].to_numpy()
        order = np.lexsort((doc_ids, ts_vals)) if m > 1 else np.arange(m)
        entries: dict = {}  # doc_id -> [n_out, dtype, size, last_ms]
        if state.exists:
            keys, n_outs_s, dtypes_s, sizes_s, last_s = state.get
            entries = {
                k: [n, d, sz, lm]
                for k, n, d, sz, lm in zip(keys, n_outs_s, dtypes_s, sizes_s, last_s)
            }
        now_ms = int(time.time() * 1000)
        if ttl_ms > 0 and entries:
            entries = {k: v for k, v in entries.items() if now_ms - v[3] <= ttl_ms}

        statuses = np.empty(m, dtype=object)
        n_out = np.zeros(m, dtype=np.int32)
        dtypes = np.empty(m, dtype=object)
        sizes = np.zeros(m, dtype=np.int64)
        errors = np.full(m, None, dtype=object)

        # Same three-pass shape as cache_state.py: classify in event-time
        # order, run the MISS rows through the shared transform core, then
        # fill duplicates — no per-row kernel.  HITs are served ungated:
        # the /info flow (service.rs:347-408) has no expiry step before
        # its cache probe.
        first_of: dict = {}  # doc_id -> computing row index
        dup_of = np.full(m, -1, dtype=np.int64)
        for i in order:
            ent = entries.get(doc_ids[i])
            if ent is not None:
                statuses[i] = "HIT"
                n_out[i], dtypes[i], sizes[i] = ent[0], ent[1], ent[2]
                ent[3] = now_ms
                continue
            j = first_of.get(doc_ids[i])
            if j is None:
                first_of[doc_ids[i]] = i
            else:
                dup_of[i] = j

        inserted = False
        if first_of:
            miss = np.fromiter(first_of.values(), dtype=np.int64, count=len(first_of))
            cols, buckets = miss_core(rows, miss, config)
            failed = cols["error"] != None  # noqa: E711 - vectorized comparison
            statuses[miss[failed]] = "ERROR"
            errors[miss[failed]] = cols["error"][failed]
            for pos, matrix in buckets:
                width, dtype = matrix.shape[1], cols["dtype"][pos[0]]
                for i, size in zip(miss[pos].tolist(), cols["size_bytes"][pos].tolist()):
                    entries[doc_ids[i]] = [width, dtype, size, now_ms]
                statuses[miss[pos]] = "MISS"
                n_out[miss[pos]] = width
                dtypes[miss[pos]] = dtype
                sizes[miss[pos]] = cols["size_bytes"][pos]
                inserted = True

        for i in np.nonzero(dup_of >= 0)[0]:
            j = dup_of[i]
            if statuses[j] == "ERROR":
                statuses[i] = "ERROR"
                errors[i] = errors[j]
                continue
            statuses[i] = "HIT"
            n_out[i], dtypes[i], sizes[i] = n_out[j], dtypes[j], sizes[j]

        if capacity > 0 and len(entries) > capacity:
            # capacity-bounded LRU, same semantics as cache_state.py:
            # evict lowest last-access first; same-invocation ties break
            # by key (deterministic)
            victims = sorted(entries.items(), key=lambda kv: (kv[1][3], kv[0]))
            for k, _ in victims[: len(entries) - capacity]:
                del entries[k]

        if entries:
            # pure-HIT skip with TTL and capacity both off: recency
            # refreshes are unobservable then — see cache_state.py (r8)
            if inserted or ttl_ms > 0 or capacity > 0 or not state.exists:
                ks = list(entries.keys())
                state.update(
                    (
                        ks,
                        [entries[k][0] for k in ks],
                        [entries[k][1] for k in ks],
                        [entries[k][2] for k in ks],
                        [entries[k][3] for k in ks],
                    )
                )
                if ttl_ms > 0:
                    # re-arm on every invocation (Spark clears the pending
                    # timeout when the function runs; see cache_state.py)
                    state.setTimeoutDuration(ttl_ms)
        elif state.exists:
            state.remove()

        yield pd.DataFrame(
            {
                "doc_id": doc_ids,
                "ts": ts_vals,
                "info_status": statuses,
                "n_out": n_out,
                "dtype": dtypes,
                "size_bytes": sizes,
                "error": errors,
            }
        )

    return info_fn


def with_info_state(
    requests: DataFrame,
    config: EngineConfig = DEFAULT_CONFIG,
    ttl_ms: int = 0,
    buckets: int | None = None,
    capacity: int | None = None,
) -> DataFrame:
    """Attach the info-cache state to a (streaming) request DataFrame.
    Shuffles once on the doc_id HASH BUCKET — a DIFFERENT key space than
    the result cache's cache_key buckets, which is what makes it a genuine
    second namespace.  Bucket count resolves at call time
    (cache_state.resolve_buckets)."""
    buckets = resolve_buckets(buckets, requests)
    keyed = requests.withColumn(
        "_bucket", F.pmod(F.xxhash64(F.col("doc_id")), F.lit(buckets))
    ).withColumn("ts_unix", F.unix_timestamp("ts"))
    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if ttl_ms > 0
        else GroupStateTimeout.NoTimeout
    )
    return keyed.groupBy("_bucket").applyInPandasWithState(
        make_info_state_func(config, ttl_ms, capacity),
        INFO_OUTPUT_SCHEMA,
        INFO_STATE_SCHEMA,
        "append",
        timeout,
    )
