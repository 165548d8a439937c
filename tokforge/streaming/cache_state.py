"""The result and info caches as Spark state: imgforge's in-memory LRU
(reference: src/caching/cache.rs foyer store; probe service.rs:241-250,
insert :312-322) reborn as `applyInPandasWithState` with TTL eviction.

TWO NAMESPACES, ONE LIFECYCLE.  The reference keeps processed results and
image-info probes in one store, "same backends, separate namespace"
(cache.rs:240-256; the /info handler probes-then-inserts in
service.rs:347-408).  Here each namespace is its own state operator over
its own key space: ``RESULT_CACHE`` is keyed by cache_key and stores the
served tokens, ``INFO_CACHE`` is keyed by doc_id (info is per source
document, independent of the ops chain) and stores only the
post-transform metadata, so its state stays tiny.  Both run the one
bucket lifecycle in ``CacheNamespace.state_func``; a namespace is data
(key, status column, stored values, how a MISS fills them and a row
serves them, whether expiry gates HITs), never a second code path.

STATE COMPACTION (the 100 TB-critical shape): grouping by raw cache_key
means one Python invocation PER KEY — measured 208 us/row of pure
grouped-pandas overhead (~5k rows/s on 32 cores, while the stateless
transform path does 27M tokens/s).  Instead the key space is hashed into
`buckets` groups and each bucket's state holds a compact dict of entries
(parallel arrays), so one invocation serves ~rows/buckets requests and
the per-group overhead amortizes away — measured 6x end-to-end sustained
speedup at 720k keys (149.7s -> 24.8s for the full pipeline; the state
op itself ~40x).  Batching each bucket's MISS rows through the rect
kernel (instead of per-row apply_plan) bought a further 3.4x on the same
layout (24.8s -> 7.1s warmed, ~2.5M tokens served/s — BENCH.md).  Bucket
count bounds entry-list size; TTL evicts entries (processing-time, like
the LRU's expiry) and idle buckets drop whole via the group timeout.

Within a micro-batch, rows for a key are processed in event-time order:
the first computes (MISS) and inserts; every later row — same batch or a
later one while the TTL holds — serves the stored values (HIT) without
recomputing.
"""

from __future__ import annotations

import time
from dataclasses import dataclass
from itertools import repeat
from typing import Callable, Iterator, Tuple

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
from tokforge.engine.transform import cache_key_col
from tokforge.engine.transform_arrow import expired_rows, transform_core

CACHE_OUTPUT_SCHEMA = StructType(
    [
        StructField("cache_key", StringType()),
        StructField("doc_id", StringType()),
        StructField("ts", TimestampType()),
        StructField("cache_status", StringType()),
        StructField("tokens_out", ArrayType(IntegerType())),
        StructField("n_out", IntegerType()),
        StructField("dtype", StringType()),
        StructField("error", StringType()),
    ]
)

# One bucket's compacted entry table: parallel arrays keyed by cache_key.
CACHE_STATE_SCHEMA = StructType(
    [
        StructField("keys", ArrayType(StringType())),
        StructField("dtypes", ArrayType(StringType())),
        StructField("toks", ArrayType(ArrayType(IntegerType()))),
        StructField("last_ms", ArrayType(LongType())),
    ]
)

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

# Scale-adaptive bucket count: buckets per shuffle partition.  Each state
# task owns (buckets / shuffle_partitions) groups, so this bounds grouped-
# pandas invocations per task at a constant while total bucket count
# grows with the cluster (bigger clusters <-> bigger state).
BUCKETS_PER_PARTITION = 32


def resolve_buckets(buckets: "int | None", df: DataFrame) -> int:
    """Call-time bucket-count resolution: an explicit ``buckets`` wins,
    else BUCKETS_PER_PARTITION x spark.sql.shuffle.partitions.  The trade
    is per-invocation grouped-pandas overhead (measured ~0.25 ms/group on
    this box: 16384 groups cost ~4.8 s of pure machinery on a 200k-row
    batch, and the full streaming pass dropped 5.99s -> 2.87s at 1024
    buckets, rows identical) against per-bucket state-table size (every
    TOUCHED bucket (de)serializes its whole entry list, so sparse trickle
    batches over a huge state want MANY buckets, while availableNow/
    full-scan batches want few).  Bucketing never changes row output —
    only which group serves a key — pinned by
    tests/test_streaming.py::test_cache_bucket_count_invariance."""
    if buckets is not None:
        return buckets
    n_part = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return BUCKETS_PER_PARTITION * n_part


def miss_core(rows: pd.DataFrame, idx: np.ndarray, config: EngineConfig):
    """Run ``transform_core`` over the pandas rows ``idx`` of a state
    group: one concatenate builds the flat token buffer, ``pd.factorize``
    the ops / src_dtype codes.  Returns the core's (columns, buckets), row
    positions relative to ``idx``."""
    toks = rows["tokens"].to_numpy(dtype=object)[idx]
    lengths = np.fromiter((len(t) for t in toks), dtype=np.int64, count=len(toks))
    offsets = np.zeros(len(toks) + 1, dtype=np.int64)
    np.cumsum(lengths, out=offsets[1:])
    ops_codes, ops_dict = pd.factorize(rows["ops"].to_numpy(dtype=object)[idx])
    sdt_codes, sdt_dict = pd.factorize(rows["src_dtype"].to_numpy(dtype=object)[idx])
    return transform_core(
        np.concatenate(toks).astype(np.int32, copy=False),
        offsets,
        ops_codes,
        list(ops_dict),
        sdt_codes,
        list(sdt_dict),
        rows["orientation"].to_numpy(dtype=np.int64)[idx],
        rows["ts_unix"].to_numpy(dtype=np.int64)[idx],
        config,
    )


@dataclass(frozen=True)
class CacheNamespace:
    """One cache namespace, as data for the shared bucket lifecycle.

    An entry stores the ``state_schema`` fields between ``keys`` and
    ``last_ms``, in that order.  ``miss_values(cols, pos, matrix)`` turns
    one ``transform_core`` bucket into those values, one sequence per
    field; ``serve(served)`` turns each row's stored values (None for an
    ERROR row) into the output's value columns.  ``expiry_gates_hits``
    runs the expiry gate before the probe, so an expired request is
    rejected even when its entry is cached."""

    key: str
    status: str
    output_schema: StructType
    state_schema: StructType
    miss_values: Callable[[dict, np.ndarray, np.ndarray], tuple]
    serve: Callable[[list], dict]
    expiry_gates_hits: bool

    def state_func(
        self,
        config: EngineConfig = DEFAULT_CONFIG,
        ttl_ms: int = 0,
        capacity: int | None = None,
    ):
        """Build the stateful group function (key = hash bucket).  ttl_ms
        <= 0 disables eviction; with TTL, entries expire `ttl_ms` after
        their last ACCESS (sliding, the LRU recency rule) and an idle
        bucket's whole state drops via the group timeout.

        ``capacity`` (default: config.cache_capacity_per_bucket; 0 =
        unbounded) is the per-bucket entry cap, the foyer hard-capacity
        analog (reference: caching/config.rs:54-66 memory 1000 / disk
        10000; LRU eviction cache.rs:152-165): when a batch leaves a
        bucket over cap, lowest-recency entries are evicted first, so total
        state is bounded by buckets x capacity even under a hot-key storm
        where every distinct key recurs within one TTL window."""
        if capacity is None:
            capacity = config.cache_capacity_per_bucket
        fields = self.output_schema.fieldNames()

        def state_fn(
            key: Tuple[int],
            pdf_iter: Iterator[pd.DataFrame],
            state: GroupState,
        ) -> Iterator[pd.DataFrame]:
            if state.hasTimedOut:
                # no access for a full TTL: every entry inside is expired too
                state.remove()
                return

            chunks = list(pdf_iter)
            rows = chunks[0] if len(chunks) == 1 else pd.concat(chunks, ignore_index=True)
            m = len(rows)
            doc_ids = rows["doc_id"].to_numpy(dtype=object)
            ts_vals = rows["ts"].to_numpy()
            keys = rows[self.key].to_numpy(dtype=object)
            order = np.lexsort((doc_ids, ts_vals)) if m > 1 else np.arange(m)
            # state -> dict {key: [*values, last_access_ms]}
            entries: dict = {}
            if state.exists:
                keys_s, *values_s, last_s = state.get
                entries = {k: [*v, lm] for k, *v, lm in zip(keys_s, *values_s, last_s)}
            now_ms = int(time.time() * 1000)
            if ttl_ms > 0 and entries:
                # entry-level TTL (processing time — the same clock
                # ProcessingTimeTimeout uses; never in the row-output path)
                entries = {k: v for k, v in entries.items() if now_ms - v[-1] <= ttl_ms}

            statuses = np.empty(m, dtype=object)
            errors = np.full(m, None, dtype=object)
            served: list = [None] * m  # each row's entry values; None = ERROR

            if self.expiry_gates_hits:
                # Expiry runs BEFORE the cache probe (reference request
                # order: service.rs:232 then :241-250).  The other gates
                # (MIME, size caps, service.rs:300-306) run on MISS rows
                # only, inside the core.
                ops_codes, ops_dict = pd.factorize(rows["ops"].to_numpy(dtype=object))
                expired = expired_rows(
                    ops_codes, list(ops_dict), rows["ts_unix"].to_numpy(dtype=np.int64), config
                )
                statuses[expired] = "ERROR"
                errors[expired] = "Request expired"
            else:
                expired = np.zeros(m, dtype=bool)

            # Pass 1 — classify in event-time order, no kernel work: state
            # HIT, first-occurrence MISS (computes below), or duplicate of a
            # MISS in this same batch (serves the computed result, status HIT).
            first_of: dict = {}  # key -> computing row index
            dup_of = np.full(m, -1, dtype=np.int64)
            for i in order.tolist():
                if expired[i]:
                    continue
                ent = entries.get(keys[i])
                if ent is not None:
                    statuses[i] = "HIT"
                    served[i] = ent
                    ent[-1] = now_ms  # access refreshes recency
                    continue
                j = first_of.get(keys[i])
                if j is None:
                    first_of[keys[i]] = i
                else:
                    dup_of[i] = j

            # Pass 2 — MISS rows through the shared transform core (bucketed
            # by (ops, n, src_dtype), rect kernel): a cold cache or miss storm
            # pays vectorized cost, never per-row Python (service.rs:312-322
            # compute-and-insert).
            inserted = False
            if first_of:
                miss = np.fromiter(first_of.values(), dtype=np.int64, count=len(first_of))
                cols, buckets = miss_core(rows, miss, config)
                failed = cols["error"] != None  # noqa: E711 - vectorized comparison
                statuses[miss[failed]] = "ERROR"
                errors[miss[failed]] = cols["error"][failed]
                for pos, matrix in buckets:
                    statuses[miss[pos]] = "MISS"
                    for i, values in zip(
                        miss[pos].tolist(), zip(*self.miss_values(cols, pos, matrix))
                    ):
                        entries[keys[i]] = served[i] = [*values, now_ms]
                    inserted = True

            # Pass 3 — duplicates serve their computing row's result (HIT,
            # like a state hit) or replay its error.
            for i in np.nonzero(dup_of >= 0)[0]:
                j = dup_of[i]
                if statuses[j] == "ERROR":
                    statuses[i] = "ERROR"
                    errors[i] = errors[j]
                else:
                    statuses[i] = "HIT"
                    served[i] = served[j]

            if capacity > 0 and len(entries) > capacity:
                # Capacity-bounded LRU: evict lowest last-access first until
                # the bucket is back at cap.  Entries touched in THIS
                # invocation (hits refreshed + fresh misses) share one clock
                # reading, so ties break by key — deterministic, and a row
                # just served is never preferred for eviction over a stale
                # one.  A miss storm larger than cap still answers every row
                # (the computed result is served either way); the overflow is
                # simply not retained — exactly foyer's admission-then-evict
                # behavior at capacity.
                victims = sorted(entries.items(), key=lambda kv: (kv[1][-1], kv[0]))
                for k, _ in victims[: len(entries) - capacity]:
                    del entries[k]

            if entries:
                # Pure-HIT skip (r8): with TTL and capacity both OFF, the only
                # thing an all-hits invocation changed is last-access
                # refreshes, which nothing can ever observe (no expiry, no
                # eviction) — so the bucket's full entry table need not be
                # re-serialized into the state store.  A sustained replay
                # where every key repeats (the bench's 6 event-time drops)
                # otherwise rewrites the ENTIRE state once per micro-batch.
                # With ttl_ms > 0 (recency drives expiry + the timeout
                # re-arm) or capacity > 0 (recency drives LRU eviction, which
                # changes future HIT/MISS output) the write stays
                # unconditional.
                if inserted or ttl_ms > 0 or capacity > 0 or not state.exists:
                    state.update(
                        (list(entries), *(list(c) for c in zip(*entries.values())))
                    )
                    if ttl_ms > 0:
                        # re-arm the bucket-idle timeout on EVERY invocation
                        # (Spark clears a pending timeout when the function
                        # runs)
                        state.setTimeoutDuration(ttl_ms)
            elif state.exists:
                state.remove()

            out = {
                self.key: keys,
                "doc_id": doc_ids,
                "ts": ts_vals,
                self.status: statuses,
                "error": errors,
                **self.serve(served),
            }
            yield pd.DataFrame({f: out[f] for f in fields})

        return state_fn

    def attach(
        self,
        requests: DataFrame,
        config: EngineConfig,
        ttl_ms: int,
        buckets: int | None,
        capacity: int | None,
    ) -> DataFrame:
        """Shuffle ``requests`` once on this namespace's key HASH BUCKET
        (state compaction — see module docstring) and run the lifecycle
        over each bucket.  xxhash64 is deterministic, so replays land
        entries in the same buckets."""
        buckets = resolve_buckets(buckets, requests)
        keyed = requests.withColumn(
            "_bucket", F.pmod(F.xxhash64(F.col(self.key)), F.lit(buckets))
        ).withColumn("ts_unix", F.unix_timestamp("ts"))
        timeout = (
            GroupStateTimeout.ProcessingTimeTimeout
            if ttl_ms > 0
            else GroupStateTimeout.NoTimeout
        )
        return keyed.groupBy("_bucket").applyInPandasWithState(
            self.state_func(config, ttl_ms, capacity),
            self.output_schema,
            self.state_schema,
            "append",
            timeout,
        )


def _result_miss_values(cols: dict, pos: np.ndarray, matrix: np.ndarray) -> tuple:
    return repeat(cols["dtype"][pos[0]]), matrix.tolist()


def _serve_results(served: list) -> dict:
    toks = [None if v is None else v[1] for v in served]
    return {
        "tokens_out": toks,
        "n_out": np.fromiter(
            (0 if t is None else len(t) for t in toks), dtype=np.int32, count=len(toks)
        ),
        "dtype": [None if v is None else v[0] for v in served],
    }


def _info_miss_values(cols: dict, pos: np.ndarray, matrix: np.ndarray) -> tuple:
    return (
        repeat(matrix.shape[1]),
        repeat(cols["dtype"][pos[0]]),
        cols["size_bytes"][pos].tolist(),
    )


def _serve_info(served: list) -> dict:
    return {
        "n_out": np.fromiter(
            (0 if v is None else v[0] for v in served), dtype=np.int32, count=len(served)
        ),
        "dtype": [None if v is None else v[1] for v in served],
        "size_bytes": np.fromiter(
            (0 if v is None else v[2] for v in served), dtype=np.int64, count=len(served)
        ),
    }


# Processed results, keyed by cache_key: an entry is (dtype, tokens).
RESULT_CACHE = CacheNamespace(
    key="cache_key",
    status="cache_status",
    output_schema=CACHE_OUTPUT_SCHEMA,
    state_schema=CACHE_STATE_SCHEMA,
    miss_values=_result_miss_values,
    serve=_serve_results,
    expiry_gates_hits=True,
)

# Image metadata (/info), keyed by doc_id: an entry is (n_out, dtype,
# size_bytes), no token payload.  HITs are served ungated: the /info flow
# (service.rs:347-408) has no expiry step before its cache probe; MISS rows
# still take every gate inside the core.
INFO_CACHE = CacheNamespace(
    key="doc_id",
    status="info_status",
    output_schema=INFO_OUTPUT_SCHEMA,
    state_schema=INFO_STATE_SCHEMA,
    miss_values=_info_miss_values,
    serve=_serve_info,
    expiry_gates_hits=False,
)


def with_cache_state(
    requests: DataFrame,
    config: EngineConfig = DEFAULT_CONFIG,
    ttl_ms: int = 0,
    buckets: int | None = None,
    capacity: int | None = None,
) -> DataFrame:
    """Attach the result cache to a (streaming) request DataFrame, keyed
    by the cache key.  ``capacity`` (default config.cache_capacity_per_
    bucket) caps entries per bucket with LRU eviction, bounding total
    state at buckets x capacity."""
    keyed = requests.withColumn("cache_key", cache_key_col(config))
    return RESULT_CACHE.attach(keyed, config, ttl_ms, buckets, capacity)


def with_info_state(
    requests: DataFrame,
    config: EngineConfig = DEFAULT_CONFIG,
    ttl_ms: int = 0,
    buckets: int | None = None,
    capacity: int | None = None,
) -> DataFrame:
    """Attach the info cache to a (streaming) request DataFrame, keyed by
    doc_id — a DIFFERENT key space than the result cache's cache_key
    buckets, which is what makes it a genuine second namespace."""
    return INFO_CACHE.attach(requests, config, ttl_ms, buckets, capacity)
