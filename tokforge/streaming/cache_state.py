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
`buckets` groups and each bucket's state holds a compact entry table
(parallel columns), so one invocation serves ~rows/buckets requests and
the per-group overhead amortizes away — measured 6x end-to-end sustained
speedup at 720k keys (149.7s -> 24.8s for the full pipeline; the state
op itself ~40x).  Batching each bucket's MISS rows through the rect
kernel (instead of per-row apply_plan) bought a further 3.4x on the same
layout (24.8s -> 7.1s warmed, ~2.5M tokens served/s — BENCH.md).  Bucket
count bounds entry-table size; TTL evicts entries (processing-time, like
the LRU's expiry) and idle buckets drop whole via the group timeout.

STATE LAYOUT: no Python object per entry or per token.  A bucket's state
row is ``keys`` (and ``dtypes``) as ``array<string>`` and every other
column as one little-endian fixed-width ``binary``: the served tokens are
one flat int32 buffer plus an int32 length per entry (the flat-values-
plus-lengths shape ``transform_core`` works in), ``last_ms`` is int64,
INFO's ``n_outs`` / ``sizes`` int32 / int64.  Decoding is
``np.frombuffer``, encoding ``tobytes()``, so a touched bucket costs a
few memcpys instead of pickling its whole table value by value both
ways; ``CacheNamespace`` is the one codec for both namespaces.  The
lifecycle runs on those columns: ``pd.Index.get_indexer`` probes,
an ``alive`` mask applies TTL, ``pd.factorize`` + ``np.unique`` pick each
key's first row, MISS buckets append their kernel matrices to the
payload as they lie, and rows serve zero-copy views of it.  This layout
cannot restore a checkpoint written by the earlier nested-list layout
(docs/SEMANTICS.md "Cache state layout").

Within a micro-batch, rows for a key are processed in event-time order:
the first computes (MISS) and inserts; every later row — same batch or a
later one while the TTL holds — serves the stored values (HIT) without
recomputing.
"""

from __future__ import annotations

import time
from dataclasses import dataclass
from typing import Iterator, NamedTuple, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
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

# Scale-adaptive bucket count: buckets per shuffle partition.  Each state
# task owns (buckets / shuffle_partitions) groups, so this bounds grouped-
# pandas invocations per task at a constant while total bucket count
# grows with the cluster (bigger clusters <-> bigger state).
BUCKETS_PER_PARTITION = 8


def resolve_buckets(buckets: "int | None", df: DataFrame) -> int:
    """Call-time bucket-count resolution: an explicit ``buckets`` wins,
    else BUCKETS_PER_PARTITION x spark.sql.shuffle.partitions.  The trade
    is per-invocation grouped-pandas overhead (measured ~0.25 ms/group on
    a 32-core box: 16384 groups cost ~4.8 s of pure machinery on a
    200k-row batch, and the full streaming pass dropped 5.99s -> 2.87s at
    1024 buckets, rows identical) against per-bucket state-table size
    (every TOUCHED bucket decodes and re-encodes its whole entry table).
    With the flat binary state a table costs memcpys rather than a pickle
    per value, so the balance moved to fewer, larger buckets.  Sweep on
    perfbench stream_cold (4 cpus, 4 shuffle partitions, 20k entries at
    the last batch; seeds 1 / 2, bench_runs/perfbench_ab_binary_state.jsonl):

    ==================  =======  ==================  ==========
    buckets/partition   buckets  last_batch_ms       pass_s
    ==================  =======  ==================  ==========
    4                   16       1039 / 1235         4.55 / 5.01
    8                   32       970 / 1179          4.38 / 5.08
    16                  64       988 / 1336          4.30 / 5.48
    32                  128      1173 / 1288         4.86 / 5.48
    ==================  =======  ==================  ==========

    50-row batches over the same 20k-entry state (tools/
    bench_cache_trickle.py, flat state, 5 alternating pairs) showed no
    bucket-count cost: median batch 718 ms at 8 per partition against
    729 ms at 32 (8 faster in 2 of 5 pairs; the state operator's
    allUpdatesTimeMs 856 vs 957 ms, 5 of 5).  50 new keys touch most of
    32 buckets and about a third of 128, so this is not the regime of a
    few keys over very large tables, which was not measured.  Bucketing
    never changes row output — only which group serves a key — pinned by
    tests/test_streaming.py::test_cache_bucket_count_invariance.  The
    streaming LSH stage keeps its own count (lsh_dedup.py)."""
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


# Fixed-width state columns are little-endian whatever the host's order.
_I32, _I64 = np.dtype("<i4"), np.dtype("<i8")


class EntryTable(NamedTuple):
    """One bucket's entry table as flat numpy columns, one entry per
    cached key.  ``cols`` maps each stored state field to its column;
    ``toks`` is the flat int32 token payload, entry i's run sized by
    ``cols["lens"][i]`` (empty for a namespace without a ``lens``
    field)."""

    keys: np.ndarray  # object: the namespace key
    cols: dict
    toks: np.ndarray
    last_ms: np.ndarray  # last access, processing-time ms


def _starts(lens: np.ndarray) -> np.ndarray:
    """Run start of each entry in a flat payload sized by ``lens``."""
    out = np.zeros(len(lens), dtype=np.int64)
    np.cumsum(lens[:-1], out=out[1:])
    return out


@dataclass(frozen=True)
class CacheNamespace:
    """One cache namespace, as data for the shared bucket lifecycle and
    its one state codec.

    ``fields`` are the stored per-entry columns, ``(state field, dtype,
    transform_core column a MISS fills it from)``: ``object`` is an
    ``array<string>`` state field, a fixed-width dtype a ``binary`` one.
    A ``lens`` field means the namespace stores a token payload: one flat
    int32 ``binary`` ("toks"), entry i's run ``lens[i]`` long, which MISS
    rows fill from their kernel matrices and every row serves as
    ``tokens_out``.  ``serves`` maps each scalar output value column to the
    stored field a row serves it from (an ERROR row serves None / 0).
    ``expiry_gates_hits`` runs the expiry gate before the probe, so an
    expired request is rejected even when its entry is cached."""

    key: str
    status: str
    output_schema: StructType
    fields: tuple
    serves: tuple
    expiry_gates_hits: bool

    @property
    def tokens(self) -> bool:
        """Whether entries carry a token payload (sized by ``lens``)."""
        return any(name == "lens" for name, _, _ in self.fields)

    @property
    def state_schema(self) -> StructType:
        """keys, the stored fields, the token payload, last_ms — no nested
        array anywhere, so a bucket's state crosses the Python boundary as
        a handful of byte strings plus its key list."""
        return StructType(
            [StructField("keys", ArrayType(StringType()))]
            + [
                StructField(name, ArrayType(StringType()) if dt is object else BinaryType())
                for name, dt, _ in self.fields
            ]
            + ([StructField("toks", BinaryType())] if self.tokens else [])
            + [StructField("last_ms", BinaryType())]
        )

    def decode(self, stored: tuple) -> EntryTable:
        """State row -> EntryTable: ``np.frombuffer`` per binary field."""
        keys, *vals, last = stored
        cols = {
            name: np.array(v, dtype=object) if dt is object else np.frombuffer(v, dtype=dt)
            for (name, dt, _), v in zip(self.fields, vals)
        }
        toks = np.frombuffer(vals[-1], dtype=_I32) if self.tokens else np.empty(0, _I32)
        # copied: a HIT refreshes recency in place
        return EntryTable(np.array(keys, dtype=object), cols, toks, np.frombuffer(last, _I64).copy())

    def encode(self, table: EntryTable) -> tuple:
        """EntryTable -> state row: ``tobytes()`` per binary field."""
        return (
            list(table.keys),
            *(
                list(table.cols[name]) if dt is object else table.cols[name].tobytes()
                for name, dt, _ in self.fields
            ),
            *((table.toks.tobytes(),) if self.tokens else ()),
            table.last_ms.tobytes(),
        )

    def empty(self) -> EntryTable:
        return EntryTable(
            np.empty(0, dtype=object),
            {name: np.empty(0, dtype=dt) for name, dt, _ in self.fields},
            np.empty(0, _I32),
            np.empty(0, _I64),
        )

    def take(self, table: EntryTable, idx: np.ndarray) -> EntryTable:
        """The entries ``idx``, in that order; the token payload is
        gathered in one fancy index over the flat buffer."""
        toks = table.toks
        if self.tokens:
            lens = table.cols["lens"][idx]
            shift = _starts(table.cols["lens"])[idx] - _starts(lens)
            toks = toks[np.repeat(shift, lens) + np.arange(int(lens.sum()))]
        return EntryTable(
            table.keys[idx],
            {name: col[idx] for name, col in table.cols.items()},
            toks,
            table.last_ms[idx],
        )

    def concat(self, a: EntryTable, b: EntryTable) -> EntryTable:
        return EntryTable(
            np.concatenate([a.keys, b.keys]),
            {name: np.concatenate([a.cols[name], b.cols[name]]) for name in a.cols},
            np.concatenate([a.toks, b.toks]),
            np.concatenate([a.last_ms, b.last_ms]),
        )

    def serve(self, table: EntryTable, src: np.ndarray) -> dict:
        """Output value columns for rows served from entries ``src`` (-1 =
        an ERROR row).  Tokens are zero-copy views into the payload."""
        ok = src >= 0
        at = src[ok]
        out = {}
        for col, name in self.serves:
            stored = table.cols[name]
            vals = (
                np.full(len(src), None, dtype=object)
                if stored.dtype == object
                else np.zeros(len(src), dtype=stored.dtype)
            )
            vals[ok] = stored[at]
            out[col] = vals
        if self.tokens:
            lens = table.cols["lens"]
            start = np.zeros(len(src), dtype=np.int64)
            start[ok] = _starts(lens)[at]
            end = start.copy()
            end[ok] += lens[at]
            toks = table.toks
            out["tokens_out"] = [toks[a:b] if k else None for k, a, b in zip(ok, start, end)]
        return out

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
            table = self.decode(state.get) if state.exists else self.empty()
            now_ms = int(time.time() * 1000)
            if ttl_ms > 0 and len(table.keys):
                # entry-level TTL (processing time — the same clock
                # ProcessingTimeTimeout uses; never in the row-output path)
                alive = now_ms - table.last_ms <= ttl_ms
                if not alive.all():
                    table = self.take(table, np.nonzero(alive)[0])

            statuses = np.empty(m, dtype=object)
            errors = np.full(m, None, dtype=object)
            src = np.full(m, -1, dtype=np.int64)  # each row's entry; -1 = ERROR

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

            # State HIT: serve the entry; the access refreshes recency.
            found = pd.Index(table.keys).get_indexer(keys)
            hit = (found >= 0) & ~expired
            statuses[hit] = "HIT"
            src[hit] = found[hit]
            table.last_ms[found[hit]] = now_ms

            # Every other live row, in event-time order: the first row of
            # each key computes (MISS); later rows are its duplicates.
            cand = order[(found[order] < 0) & ~expired[order]]
            codes, _ = pd.factorize(keys[cand], use_na_sentinel=False)
            miss = cand[np.unique(codes, return_index=True)[1]]
            computing = miss[codes]

            # MISS rows through the shared transform core (bucketed by
            # (ops, n, src_dtype), rect kernel): a cold cache or miss storm
            # pays vectorized cost, never per-row Python (service.rs:312-322
            # compute-and-insert).  Each computed bucket's matrix appends
            # to the payload as it lies.
            inserted = False
            if len(miss):
                cols, buckets = miss_core(rows, miss, config)
                failed = cols["error"] != None  # noqa: E711 - vectorized comparison
                statuses[miss[failed]] = "ERROR"
                errors[miss[failed]] = cols["error"][failed]
                if buckets:
                    pos = np.concatenate([p for p, _ in buckets])
                    new = EntryTable(
                        keys[miss[pos]],
                        {name: cols[c][pos].astype(dt) for name, dt, c in self.fields},
                        np.concatenate([mat.ravel() for _, mat in buckets], dtype=_I32)
                        if self.tokens
                        else np.empty(0, _I32),
                        np.full(len(pos), now_ms, dtype=_I64),
                    )
                    statuses[miss[pos]] = "MISS"
                    src[miss[pos]] = len(table.keys) + np.arange(len(pos))
                    table = self.concat(table, new)
                    inserted = True

            # Duplicates serve their computing row's entry (HIT, like a
            # state hit) or replay its error.
            dup = computing != cand
            dups, of = cand[dup], computing[dup]
            statuses[dups] = "HIT"
            errors[dups] = errors[of]
            statuses[dups[errors[of] != None]] = "ERROR"  # noqa: E711
            src[dups] = src[of]
            served = self.serve(table, src)

            if capacity > 0 and len(table.keys) > capacity:
                # Capacity-bounded LRU: evict lowest last-access first until
                # the bucket is back at cap.  Entries touched in THIS
                # invocation (hits refreshed + fresh misses) share one clock
                # reading, so ties break by key — deterministic, and a row
                # just served is never preferred for eviction over a stale
                # one.  A miss storm larger than cap still answers every row
                # (the computed result is served either way); the overflow is
                # simply not retained — exactly foyer's admission-then-evict
                # behavior at capacity.
                lru = np.lexsort((table.keys, table.last_ms))
                table = self.take(table, np.sort(lru[len(table.keys) - capacity :]))

            if len(table.keys):
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
                    state.update(self.encode(table))
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
                **served,
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


# Processed results, keyed by cache_key: an entry is (dtype, tokens).
RESULT_CACHE = CacheNamespace(
    key="cache_key",
    status="cache_status",
    output_schema=CACHE_OUTPUT_SCHEMA,
    fields=(("dtypes", object, "dtype"), ("lens", _I32, "n_out")),
    serves=(("n_out", "lens"), ("dtype", "dtypes")),
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
    fields=(("n_outs", _I32, "n_out"), ("dtypes", object, "dtype"), ("sizes", _I64, "size_bytes")),
    serves=(("n_out", "n_outs"), ("dtype", "dtypes"), ("size_bytes", "sizes")),
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
