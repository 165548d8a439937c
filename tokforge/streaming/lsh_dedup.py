"""Streaming NEAR-duplicate detection at ingest — the LSH companion to the
exact-hash stage (streaming/dedup.py): a paraphrase that shares most
shingles with a recently-seen document has a different md5 and sails
through exact dedup, but lands in the same MinHash band bucket and is
flagged here.

Spark shape (the 100 TB design):

    readStream -> signatures (ONE mapInArrow pass, the numpy fast path
    shared byte-for-byte with batch dedup.py) -> explode into N_BANDS
    (band_idx, band_val) keys -> shuffle once on the band-bucket hash ->
    applyInPandasWithState: each bucket's state holds the recent
    signatures filed under its band keys within the event-time horizon ->
    per-doc verdict = OR over its bands (stateless, inside foreachBatch —
    every band row of a doc is emitted in the SAME micro-batch).

State is an LSH INDEX, not a corpus: each doc files N_BANDS entries
(band key, signature, event ts) and entries evict once the bucket's
max-seen event time passes their ts + horizon — so state is bounded by
(docs within one horizon) x N_BANDS, independent of corpus size, and the
RocksDB provider tier (engine/config.py state_store) spills it off-heap.
A bucket's index is the caches' flat entry table (``BAND_STATE``, the one
``cache_state.EntryLayout`` codec: strings as ``array<string>``, the
signatures and event times as little-endian ``binary``) under the
caches' bucket count: a touched bucket decodes with ``np.frombuffer``
and builds no Python list per stored signature.
Like the exact stage, a near-dup arriving later than the horizon is
re-admitted; cross-horizon near-dedup belongs to the batch layer
(pipeline/dedup.py LSH + ngram-Jaccard), which this stage feeds.

Match rule: band collision proposes a candidate (the batch q_lsh_pairs
banding rule, identical band_val fold), then the 8-hash signature
verifies: est_jaccard = fraction of equal MinHash positions >= threshold.
Reference analog: the processed-result cache probing a narrow namespace
before admitting work (service.rs:241-250), applied to content identity.
"""

from __future__ import annotations

from typing import Iterator, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from tokforge.pipeline.dedup import (
    FEATURE_SPACE,
    N_BANDS,
    N_HASHES,
    band_val_col,
    signatures_arrow,
)
from tokforge.streaming.cache_state import EntryLayout, resolve_buckets
from tokforge.streaming.sink import IdempotentParquetSink
from tokforge.streaming.source import read_request_stream

DEFAULT_THRESHOLD = 0.5  # >= 4 of 8 MinHash positions equal
DEFAULT_HORIZON_MS = 10 * 60 * 1000

BAND_OUTPUT_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("ts", TimestampType()),
        StructField("band_idx", IntegerType()),
        StructField("matched_doc", StringType()),
        StructField("est_jaccard", DoubleType()),
    ]
)

# One bucket's LSH index in the caches' flat entry-table layout: one entry
# per filed (doc, band) — band key "band_idx:band_val" and doc id as
# strings, the signature as one fixed-width int64 row, the event time.
BAND_STATE = EntryLayout(
    (
        ("bkeys", object),
        ("doc_ids", object),
        ("sigs", np.dtype(("<i8", (N_HASHES,)))),
        ("ts_ms", np.dtype("<i8")),
    )
)


def signatures_with_ts(stream: DataFrame) -> DataFrame:
    """(doc_id, ts, sig) for a (streaming) request DataFrame: literally
    the batch Arrow signature pass (pipeline/dedup.py signatures_arrow,
    same coarse FEATURE_SPACE as the batch LSH) with the event-time ``ts``
    riding the same Arrow batch — identical signatures by construction."""
    return signatures_arrow(
        stream, FEATURE_SPACE, passthrough=(("ts", "timestamp"),)
    )


def banded(sig_stream: DataFrame) -> DataFrame:
    """Explode each signed doc into its N_BANDS (band_idx, band_val) keys.
    Docs too short to shingle (NULL sig) keep a NULL band_val — the state
    stage passes them through unflagged and unindexed."""
    return sig_stream.select(
        "doc_id",
        "ts",
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).cast("int").alias("band_idx"),
                        band_val_col(i).alias("band_val"),
                    )
                    for i in range(N_BANDS)
                ]
            )
        ).alias("band"),
    ).select(
        "doc_id", "ts", "sig",
        F.col("band.band_idx").alias("band_idx"),
        F.col("band.band_val").alias("band_val"),
    )


def make_lsh_state_func(
    threshold: float = DEFAULT_THRESHOLD,
    horizon_ms: int = DEFAULT_HORIZON_MS,
):
    def lsh_fn(
        key: Tuple[int],
        pdf_iter: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        chunks = list(pdf_iter)
        rows = chunks[0] if len(chunks) == 1 else pd.concat(chunks, ignore_index=True)
        m = len(rows)
        doc_ids = rows["doc_id"].to_numpy(dtype=object)
        ts_vals = rows["ts"].to_numpy()
        bidx = rows["band_idx"].to_numpy()

        # Rows file in event-time order (ties by doc_id): first-seen-wins,
        # the exact stage's dropDuplicatesWithinWatermark orientation.  An
        # unshingleable doc (NULL sig) passes through, never indexed.
        order = np.lexsort((doc_ids, ts_vals))
        filed = order[(rows["sig"].notna() & rows["band_val"].notna()).to_numpy()[order]]
        bval = rows["band_val"].to_numpy()[filed].astype(np.int64)
        sig_rows = [*rows["sig"].to_numpy()[filed], np.empty(0, np.int64)]
        new = {
            "bkeys": np.array(
                [f"{b}:{v}" for b, v in zip(bidx[filed].tolist(), bval.tolist())], dtype=object
            ),
            "doc_ids": doc_ids[filed],
            "sigs": np.concatenate(sig_rows).reshape(-1, N_HASHES),
            "ts_ms": ts_vals[filed].astype("datetime64[ms]").astype(np.int64),
        }
        table = BAND_STATE.decode(state.get) if state.exists else BAND_STATE.empty()
        n_old = len(table["bkeys"])
        table = BAND_STATE.concat(table, new)
        docs, sigs, ts_ms = table["doc_ids"], table["sigs"], table["ts_ms"]

        # A filed row's candidates are the entries under its band key filed
        # before it: stored entries, then earlier rows.  Entry positions
        # grouped by band key (a stable sort keeps filing order) make them
        # one slice of ``by_key``; only rows with a non-empty slice loop.
        codes = pd.factorize(table["bkeys"])[0]
        by_key = np.argsort(codes, kind="stable")
        first = np.searchsorted(codes[by_key], codes)
        slot = np.empty_like(by_key)
        slot[by_key] = np.arange(len(by_key))
        matched = np.full(m, None, dtype=object)
        est = np.zeros(m, dtype=np.float64)
        for p in n_old + np.nonzero(slot[n_old:] > first[n_old:])[0]:
            cand = by_key[first[p] : slot[p]]
            frac = (sigs[cand] == sigs[p]).mean(axis=1)
            # the horizon holds at MATCH time too: an entry filed more than
            # one horizon before THIS row's event time is dead for it, even
            # if eviction has not swept it yet
            ok = (frac >= threshold) & (docs[cand] != docs[p])
            ok &= ts_ms[p] - ts_ms[cand] <= horizon_ms
            if ok.any():
                i = filed[p - n_old]
                est[i] = frac[ok].max()
                matched[i] = docs[cand[ok & (frac == est[i])]].min()  # ties: lowest doc id

        # event-time horizon eviction: the streaming analog of the batch
        # layer owning anything older — state never outgrows the horizon
        keep = ts_ms >= ts_ms.max(initial=0) - horizon_ms
        if not keep.all():
            table = BAND_STATE.take(table, np.nonzero(keep)[0])
        if len(table["bkeys"]):
            state.update(BAND_STATE.encode(table))
        elif state.exists:
            state.remove()

        yield pd.DataFrame(
            {
                "doc_id": doc_ids,
                "ts": ts_vals,
                "band_idx": bidx,
                "matched_doc": matched,
                "est_jaccard": est,
            }
        )

    return lsh_fn


def with_lsh_state(
    stream: DataFrame,
    threshold: float = DEFAULT_THRESHOLD,
    horizon_ms: int = DEFAULT_HORIZON_MS,
    buckets: int | None = None,
) -> DataFrame:
    """Attach the streaming LSH index to a request stream: one shuffle on
    the band-bucket hash (state compaction, with the caches' bucket count:
    ``cache_state.resolve_buckets``).  All rows of one (band_idx,
    band_val) hash to the same bucket for ANY bucket count, so on a feed
    that arrives in event-time order the verdicts are bucket-count
    invariant.  Eviction follows each bucket's own max event time, so a
    row arriving behind it can find entries already evicted, and which
    ones depends on the keys sharing its bucket."""
    buckets = resolve_buckets(buckets, stream)
    bands = banded(signatures_with_ts(stream)).withColumn(
        "_bucket",
        F.pmod(F.xxhash64(F.col("band_idx"), F.col("band_val")), F.lit(buckets)),
    )
    return bands.groupBy("_bucket").applyInPandasWithState(
        make_lsh_state_func(threshold, horizon_ms),
        BAND_OUTPUT_SCHEMA,
        BAND_STATE.state_schema,
        "append",
        GroupStateTimeout.NoTimeout,
    )


def doc_verdicts(band_rows: DataFrame) -> DataFrame:
    """Per-doc OR over the band verdicts.  Stateless — run it INSIDE
    foreachBatch: all band rows of a doc are emitted in the same
    micro-batch, so the batch-local reduction is exact.

    The winner is (max est_jaccard, then MIN matched_doc) — the same
    total order the per-band state stage uses, so the hierarchical max
    equals a single global argmax over all of the doc's candidates.
    That property is what lets the driver-gated face mirror the whole
    stream in one SQL window (streaming/queries.py SQL_STREAM_LSH_DEDUP)
    instead of reproducing the band/bucket decomposition."""
    from pyspark.sql import Window

    win = Window.partitionBy("doc_id", "ts").orderBy(
        F.desc("est_jaccard"), F.asc_nulls_last("matched_doc"), "band_idx"
    )
    return (
        band_rows.withColumn("__rn", F.row_number().over(win))
        .filter(F.col("__rn") == 1)
        .select(
            "doc_id",
            "ts",
            "matched_doc",
            "est_jaccard",
            F.col("matched_doc").isNotNull().alias("near_dup"),
        )
    )


class _VerdictSink(IdempotentParquetSink):
    """Exactly-once sink that collapses band rows to per-doc verdicts
    before writing (the OR stage lives batch-side, where it is exact)."""

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        super().__call__(doc_verdicts(batch_df), batch_id)


def lsh_dedup_stream(
    spark: SparkSession,
    in_path: str,
    out_dir: str,
    checkpoint_dir: str,
    threshold: float = DEFAULT_THRESHOLD,
    horizon_ms: int = DEFAULT_HORIZON_MS,
    buckets: int | None = None,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
):
    """Full near-dup-at-ingest job: file stream -> Arrow signatures ->
    band-bucket keyed state -> per-doc verdicts -> idempotent exactly-once
    sink.  Returns (query, sink)."""
    stream = read_request_stream(spark, in_path, max_files_per_trigger)
    verdict_rows = with_lsh_state(stream, threshold, horizon_ms, buckets)
    sink = _VerdictSink(out_dir)
    return sink.start(verdict_rows, checkpoint_dir, available_now), sink
