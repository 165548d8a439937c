"""CEP sequence-pattern detection over the request stream — the operator
that makes "CEP job" literal: a MATCH_RECOGNIZE-style contiguous ordered
pattern per key, with event-time ordering, a WITHIN horizon, and
overlapping matches (AFTER MATCH SKIP TO NEXT ROW).

The reference has no CEP surface (single request/response —
src/service.rs handles each request in isolation); SURVEY §2.6 and the
north rule add it: the escalation shapes its middleware only counts
(monitoring.rs:37-69 counters over status classes; middleware.rs:38-51
per-client 429s) become detectable SEQUENCES — e.g. "429, 429, 429 within
60 s from one source" or "MISS followed by two HITs" — each emitted as a
first-class match row.

Semantics (shared by ALL THREE faces — batch, stream, DuckDB mirror):

- Events of one key are totally ordered by (ts, id) — the same tiebreak
  every stateful op here uses (ratelimit.py, lsh_dedup.py).
- A pattern ``[p0 .. p(L-1)]`` matches L CONTIGUOUS events in that order
  whose labels equal the pattern symbols (``"*"`` matches any label) and
  whose span satisfies ``ts_last - ts_first <= within_s``.
- Matches may overlap (SQL MATCH_RECOGNIZE ``AFTER MATCH SKIP TO NEXT
  ROW``): every event is a candidate match end.

Spark shape (the 100 TB design):

- Batch face ``detect_pattern_batch``: pure JVM window ``lead()``s — one
  hash shuffle on the key plus a per-key sort, no Python in the path.
  The same L-1 leads render verbatim in DuckDB (tests keep the mirror).
- Streaming face ``with_pattern_state``: ``applyInPandasWithState`` keyed
  by ``key_col`` with an EVENT-TIME REORDER BUFFER — arrivals are held in
  state until the watermark passes them, then finalized in (ts, id) order
  against a tail of the last L-1 finalized events.  That is the Flink-CEP
  discipline (matches are decided on watermark-complete prefixes, so
  cross-micro-batch disorder inside the allowed lateness cannot corrupt
  contiguity).  State per key is strictly bounded: L-1 tail events plus
  pending events inside one watermark horizon — never corpus-sized.
  ``GroupStateTimeout.EventTimeTimeout`` flushes keys that go quiet: the
  timeout is re-armed to the earliest pending event, so a key's buffered
  suffix finalizes as soon as the GLOBAL watermark passes it even if the
  key itself never receives another row.
- Skew: the per-key state work is O(events) label comparisons (same
  adjudication as the rate limiter — the key serializes by definition and
  does trivial work; heavy compute stays in the salted transform path).
"""

from __future__ import annotations

from typing import Iterator, Sequence, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

WILDCARD = "*"

PATTERN_OUTPUT_SCHEMA = StructType(
    [
        StructField("key", StringType()),
        StructField("start_ts", TimestampType()),
        StructField("end_ts", TimestampType()),
        StructField("first_id", StringType()),
        StructField("last_id", StringType()),
    ]
)

# Reorder buffer: pending events (ts > last-seen watermark, unordered) +
# the last L-1 FINALIZED events (the contiguity tail).  Arrays of scalars
# only — the state store holds them as one compact row per key.
PATTERN_STATE_SCHEMA = StructType(
    [
        StructField("pend_ts", ArrayType(LongType())),  # event time, ms
        StructField("pend_id", ArrayType(StringType())),
        StructField("pend_ev", ArrayType(StringType())),
        StructField("tail_ts", ArrayType(LongType())),
        StructField("tail_id", ArrayType(StringType())),
        StructField("tail_ev", ArrayType(StringType())),
    ]
)


def _check_pattern(pattern: Sequence[str]) -> list[str]:
    pat = list(pattern)
    if not pat:
        raise ValueError("pattern must have at least one symbol")
    if any(not isinstance(p, str) or not p for p in pat):
        raise ValueError(f"pattern symbols must be non-empty strings: {pat!r}")
    return pat


def detect_pattern_batch(
    events: DataFrame,
    pattern: Sequence[str],
    within_s: int,
    key_col: str = "source",
    event_col: str = "event",
    ts_col: str = "ts",
    id_col: str = "doc_id",
) -> DataFrame:
    """Batch face: one ``lead()`` per pattern position over the per-key
    (ts, id) order.  Entirely JVM-side; the plan is a single hash shuffle
    on ``key_col`` + per-key sort + one window node carrying all L-1
    leads (Catalyst collapses them into one WindowExec)."""
    pat = _check_pattern(pattern)
    L = len(pat)
    w = Window.partitionBy(key_col).orderBy(ts_col, id_col)

    conds = []
    for j, p in enumerate(pat):
        if p == WILDCARD:
            continue
        e_j = F.col(event_col) if j == 0 else F.lead(event_col, j).over(w)
        conds.append(e_j == p)
    end_ts = F.col(ts_col) if L == 1 else F.lead(ts_col, L - 1).over(w)
    end_id = F.col(id_col) if L == 1 else F.lead(id_col, L - 1).over(w)

    cond = end_ts.isNotNull() & (
        F.unix_timestamp(end_ts) - F.unix_timestamp(ts_col) <= within_s
    )
    for c in conds:
        cond = cond & c

    return (
        events.select(
            F.col(key_col).alias("key"),
            F.col(ts_col).alias("start_ts"),
            F.col(id_col).alias("first_id"),
            end_ts.alias("end_ts"),
            end_id.alias("last_id"),
            cond.alias("__m"),
        )
        .filter(F.col("__m"))
        .select("key", "start_ts", "end_ts", "first_id", "last_id")
    )


def sql_detect_pattern(
    pattern: Sequence[str],
    within_s: int,
    source_cte: str = "events",
    key_col: str = "source",
    event_col: str = "event",
    ts_col: str = "ts",
    id_col: str = "doc_id",
) -> str:
    """The DuckDB mirror of ``detect_pattern_batch`` — the identical L-1
    leads over the identical (ts, id) order, emitted as a SELECT over
    ``source_cte``.  Kept next to the kernel so the three faces share one
    expression order."""
    pat = _check_pattern(pattern)
    L = len(pat)
    over = f"OVER (PARTITION BY {key_col} ORDER BY {ts_col}, {id_col})"
    conds = []
    for j, p in enumerate(pat):
        if p == WILDCARD:
            continue
        ev = event_col if j == 0 else f"lead({event_col}, {j}) {over}"
        conds.append(f"({ev}) = '{p}'")
    end_ts = ts_col if L == 1 else f"lead({ts_col}, {L - 1}) {over}"
    end_id = id_col if L == 1 else f"lead({id_col}, {L - 1}) {over}"
    cond = " AND ".join(
        [
            f"end_ts IS NOT NULL",
            f"CAST(epoch(end_ts) AS BIGINT) - CAST(epoch(start_ts) AS BIGINT)"
            f" <= {within_s}",
            *[f"c{j}" for j in range(len(conds))],
        ]
    )
    cflags = "".join(f", {c} AS c{j}" for j, c in enumerate(conds))
    return f"""SELECT key, start_ts, end_ts, first_id, last_id
FROM (
  SELECT {key_col} AS key, {ts_col} AS start_ts, ({end_ts}) AS end_ts,
         {id_col} AS first_id, ({end_id}) AS last_id{cflags}
  FROM {source_cte}
)
WHERE {cond}"""


def _reorder(
    pending: list, pdf_iter: Iterator[pd.DataFrame], state: GroupState
) -> Tuple[list, list, int]:
    """The event-time reorder step both stateful detectors share: append
    this invocation's arrivals to ``pending`` as ``[ts_ms, id, event]``,
    sort by (ts, id), and split at the current watermark.  Returns
    ``(ready, pending, wm)`` — the watermark-complete prefix in event
    order, the rest, and the watermark.

    The watermark only advances between micro-batches, so every row at or
    below it has arrived (later ones were dropped as late) — exactly the
    prefix on which detection decisions are final."""
    if not state.hasTimedOut:
        for rows in pdf_iter:
            if not len(rows):
                continue
            # Unit-safe: go through datetime64[ms] so ns-, us- or
            # ms-backed (incl. Arrow) timestamps all land in ms —
            # a raw int64 view of a us-unit series would be 1000x off.
            ts_ms = rows["ts"].to_numpy().astype("datetime64[ms]").astype(np.int64)
            ids = rows["doc_id"].to_numpy(dtype=object)
            evs = rows["event"].to_numpy(dtype=object)
            pending.extend(
                [int(t), str(d), str(e)] for t, d, e in zip(ts_ms, ids, evs)
            )
    wm = state.getCurrentWatermarkMs()
    pending.sort(key=lambda r: (r[0], r[1]))
    n_ready = 0
    while n_ready < len(pending) and pending[n_ready][0] <= wm:
        n_ready += 1
    return pending[:n_ready], pending[n_ready:], wm


def make_pattern_state_func(pattern: Sequence[str], within_s: int):
    """Build the keyed-state function.  Per invocation: append arrivals to
    the pending buffer, finalize (in (ts, id) order) everything at or
    below the current watermark, slide the L-length window over
    tail+finalized, and emit a match row per qualifying window end."""
    pat = _check_pattern(pattern)
    L = len(pat)
    within_ms = int(within_s) * 1000

    def matches_at(evs: list, e: int) -> bool:
        s = e - L + 1
        if s < 0:
            return False
        if evs[e][0] - evs[s][0] > within_ms:
            return False
        return all(
            p == WILDCARD or evs[s + j][2] == p for j, p in enumerate(pat)
        )

    def pat_fn(
        key: Tuple[str],
        pdf_iter: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            pend_ts, pend_id, pend_ev, tail_ts, tail_id, tail_ev = state.get
            pending = [
                list(t) for t in zip(pend_ts, pend_id, pend_ev)
            ]
            tail = [list(t) for t in zip(tail_ts, tail_id, tail_ev)]
        else:
            pending, tail = [], []

        ready, pending, wm = _reorder(pending, pdf_iter, state)

        out_key, out_start, out_end, out_fid, out_lid = [], [], [], [], []
        if ready:
            seq = tail + ready
            for e in range(len(tail), len(seq)):
                if matches_at(seq, e):
                    s = e - L + 1
                    out_key.append(key[0])
                    out_start.append(seq[s][0])
                    out_end.append(seq[e][0])
                    out_fid.append(seq[s][1])
                    out_lid.append(seq[e][1])
            tail = seq[len(seq) - (L - 1) :] if L > 1 else []

        # Tail GC: any future match touching a tail event must span from
        # that event to a LATER-than-watermark event, so once
        # wm - newest_tail_ts > within the tail can never participate in a
        # match again — the state self-cleans even for keys that go
        # silent forever (at 10^12 sources, lingering L-1-row tails would
        # otherwise accumulate into corpus-scale state).
        if not pending and tail and wm > tail[-1][0] + within_ms:
            tail = []
        if pending or tail:
            state.update(
                (
                    [r[0] for r in pending],
                    [r[1] for r in pending],
                    [r[2] for r in pending],
                    [r[0] for r in tail],
                    [r[1] for r in tail],
                    [r[2] for r in tail],
                )
            )
            if pending:
                # re-arm: fire as soon as the watermark passes the
                # earliest buffered event, even if this key goes quiet
                state.setTimeoutTimestamp(pending[0][0] + 1)
            else:
                # no pending: arm the tail's expiry so GC actually runs
                state.setTimeoutTimestamp(tail[-1][0] + within_ms + 1)
        else:
            state.remove()

        if out_key:
            yield pd.DataFrame(
                {
                    "key": np.array(out_key, dtype=object),
                    "start_ts": pd.to_datetime(out_start, unit="ms"),
                    "end_ts": pd.to_datetime(out_end, unit="ms"),
                    "first_id": np.array(out_fid, dtype=object),
                    "last_id": np.array(out_lid, dtype=object),
                }
            )

    return pat_fn


def with_pattern_state(
    events: DataFrame,
    pattern: Sequence[str],
    within_s: int,
    key_col: str = "source",
) -> DataFrame:
    """Attach the CEP detector to a watermarked stream of
    ``(key_col, doc_id, event, ts)`` rows.  One shuffle on the key."""
    return events.groupBy(key_col).applyInPandasWithState(
        make_pattern_state_func(pattern, within_s),
        PATTERN_OUTPUT_SCHEMA,
        PATTERN_STATE_SCHEMA,
        "append",
        GroupStateTimeout.EventTimeTimeout,
    )


def classify_event(status_col: str = "n_tok") -> "F.Column":
    """Default event alphabet for the request stream: the admission-size
    class the reference's counters bucket by (small/medium/large payload —
    monitoring.rs size histograms).  Pure column expression."""
    c = F.col(status_col)
    return (
        F.when(c < 24, F.lit("S")).when(c < 40, F.lit("M")).otherwise(F.lit("L"))
    )


def _event_stream(
    spark: SparkSession,
    in_path: str,
    watermark: str,
    classifier: "F.Column | None",
) -> DataFrame:
    """The detectors' input: file stream (Iceberg stand-in) -> event
    classifier -> ``(source, doc_id, event, ts)`` -> watermark."""
    from tokforge.streaming.source import read_request_stream

    return (
        read_request_stream(spark, in_path)
        .withColumn(
            "event", classify_event() if classifier is None else classifier
        )
        .select("source", "doc_id", "event", "ts")
        .withWatermark("ts", watermark)
    )


def pattern_stream(
    spark: SparkSession,
    in_path: str,
    out_dir: str,
    checkpoint_dir: str,
    pattern: Sequence[str],
    within_s: int,
    watermark: str = "10 minutes",
    available_now: bool = True,
    classifier: "F.Column | None" = None,
):
    """Full CEP job: file stream (Iceberg stand-in) -> event classifier ->
    watermark -> keyed pattern state -> exactly-once sink.  Returns
    (query, sink).  ``classifier`` overrides the default payload-size
    alphabet (any deterministic column expression over the request row)."""
    from tokforge.streaming.sink import IdempotentParquetSink

    stream = _event_stream(spark, in_path, watermark, classifier)
    matched = with_pattern_state(stream, pattern, within_s)
    sink = IdempotentParquetSink(out_dir)
    return sink.start(matched, checkpoint_dir, available_now), sink


# ---------------------------------------------------------------------------
# Absence detection — "A with no B within T" (the CEP case windowed SQL
# cannot stream: the alert fires on the PASSAGE OF TIME, not on a row).
# ---------------------------------------------------------------------------

ABSENCE_OUTPUT_SCHEMA = StructType(
    [
        StructField("key", StringType()),
        StructField("doc_id", StringType()),
        StructField("start_ts", TimestampType()),
        StructField("deadline_ts", TimestampType()),
    ]
)

ABSENCE_STATE_SCHEMA = StructType(
    [
        StructField("pend_ts", ArrayType(LongType())),
        StructField("pend_id", ArrayType(StringType())),
        StructField("pend_ev", ArrayType(StringType())),
        StructField("open_ts", ArrayType(LongType())),  # unclosed A events
        StructField("open_id", ArrayType(StringType())),
    ]
)


def detect_absence_batch(
    events: DataFrame,
    a: str,
    b: str,
    within_s: int,
    key_col: str = "source",
    event_col: str = "event",
    ts_col: str = "ts",
    id_col: str = "doc_id",
) -> DataFrame:
    """Batch face: every `a` event for which NO `b` event of the same key
    follows it in the (ts, id) total order with ``b.ts <= a.ts +
    within_s`` (same-ts later-id `b` counts as following — ties resolve
    by the id tiebreak everywhere in this module).

    NOT a range join: one per-key window in time-DESCENDING order carries
    the running min of b-timestamps over the rows STRICTLY LATER than the
    current one — ``next_b_ts`` — so the check is a scalar compare.  One
    shuffle + per-key sort; no O(nA*nB) pair expansion at any key."""
    w = (
        Window.partitionBy(key_col)
        .orderBy(F.col(ts_col).desc(), F.col(id_col).desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    next_b = F.min(
        F.when(F.col(event_col) == b, F.unix_timestamp(ts_col))
    ).over(w)
    return (
        events.withColumn("__next_b_s", next_b)
        .filter(
            (F.col(event_col) == a)
            & (
                F.col("__next_b_s").isNull()
                | (
                    F.col("__next_b_s")
                    > F.unix_timestamp(ts_col) + F.lit(within_s)
                )
            )
        )
        .select(
            F.col(key_col).alias("key"),
            F.col(id_col).alias("doc_id"),
            F.col(ts_col).alias("start_ts"),
            F.timestamp_seconds(
                F.unix_timestamp(ts_col) + F.lit(within_s)
            ).alias("deadline_ts"),
        )
    )


def sql_detect_absence(
    a: str,
    b: str,
    within_s: int,
    source_cte: str = "events",
    key_col: str = "source",
    event_col: str = "event",
    ts_col: str = "ts",
    id_col: str = "doc_id",
) -> str:
    """DuckDB mirror of ``detect_absence_batch`` — the identical
    descending-window running min."""
    return f"""SELECT key, doc_id, start_ts, start_ts + INTERVAL {within_s} SECOND AS deadline_ts
FROM (
  SELECT {key_col} AS key, {id_col} AS doc_id, {ts_col} AS start_ts,
         {event_col} AS ev,
         min(CASE WHEN {event_col} = '{b}'
                  THEN CAST(epoch({ts_col}) AS BIGINT) END)
           OVER (PARTITION BY {key_col}
                 ORDER BY {ts_col} DESC, {id_col} DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS next_b_s
  FROM {source_cte}
)
WHERE ev = '{a}'
  AND (next_b_s IS NULL
       OR next_b_s > CAST(epoch(start_ts) AS BIGINT) + {within_s})"""


def make_absence_state_func(a: str, b: str, within_s: int):
    """Keyed-state absence detector over the same reorder discipline as
    the pattern matcher: finalized events are replayed in (ts, id) order;
    an `a` opens a deadline, a later `b` inside the horizon closes every
    open deadline it satisfies, and the watermark passing a deadline —
    not any row — fires the alert (EventTimeTimeout keeps that true for
    keys that never receive another event)."""
    within_ms = int(within_s) * 1000

    def abs_fn(
        key: Tuple[str],
        pdf_iter: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            pend_ts, pend_id, pend_ev, open_ts, open_id = state.get
            pending = [list(t) for t in zip(pend_ts, pend_id, pend_ev)]
            open_a = [list(t) for t in zip(open_ts, open_id)]
        else:
            pending, open_a = [], []

        ready, pending, wm = _reorder(pending, pdf_iter, state)

        for t, d, e in ready:
            if e == a:
                open_a.append([t, d])
            if e == b:
                # a `b` closes every open deadline whose `a` PRECEDES it
                # in the (ts, id) total order (being in open_a encodes
                # that — including a same-ts lower-id `a`, which is also
                # what the batch face's strictly-later-rows window sees)
                # and whose horizon it meets
                open_a = [
                    o for o in open_a
                    if not (o[0] <= t <= o[0] + within_ms)
                ]

        # fire every deadline the watermark has passed: all events <= wm
        # are final, so no closing b can still arrive for these
        fired = [o for o in open_a if o[0] + within_ms < wm]
        open_a = [o for o in open_a if o[0] + within_ms >= wm]

        if pending or open_a:
            state.update(
                (
                    [r[0] for r in pending],
                    [r[1] for r in pending],
                    [r[2] for r in pending],
                    [o[0] for o in open_a],
                    [o[1] for o in open_a],
                )
            )
            # earliest thing that needs the clock: a buffered arrival or
            # an open deadline's expiry, whichever comes first
            nxt = []
            if pending:
                nxt.append(pending[0][0] + 1)
            if open_a:
                nxt.append(min(o[0] for o in open_a) + within_ms + 1)
            state.setTimeoutTimestamp(min(nxt))
        else:
            state.remove()

        if fired:
            fired.sort(key=lambda o: (o[0], o[1]))
            yield pd.DataFrame(
                {
                    "key": np.array([key[0]] * len(fired), dtype=object),
                    "doc_id": np.array([o[1] for o in fired], dtype=object),
                    "start_ts": pd.to_datetime(
                        [o[0] for o in fired], unit="ms"
                    ),
                    "deadline_ts": pd.to_datetime(
                        [o[0] + within_ms for o in fired], unit="ms"
                    ),
                }
            )

    return abs_fn


def with_absence_state(
    events: DataFrame,
    a: str,
    b: str,
    within_s: int,
    key_col: str = "source",
) -> DataFrame:
    """Attach the absence detector to a watermarked event stream."""
    return events.groupBy(key_col).applyInPandasWithState(
        make_absence_state_func(a, b, within_s),
        ABSENCE_OUTPUT_SCHEMA,
        ABSENCE_STATE_SCHEMA,
        "append",
        GroupStateTimeout.EventTimeTimeout,
    )


def absence_stream(
    spark: SparkSession,
    in_path: str,
    out_dir: str,
    checkpoint_dir: str,
    a: str,
    b: str,
    within_s: int,
    watermark: str = "10 minutes",
    available_now: bool = True,
    classifier: "F.Column | None" = None,
):
    """Full absence-CEP job: file stream -> classifier -> watermark ->
    keyed absence state -> exactly-once sink.  Returns (query, sink)."""
    from tokforge.streaming.sink import IdempotentParquetSink

    stream = _event_stream(spark, in_path, watermark, classifier)
    alerts = with_absence_state(stream, a, b, within_s)
    sink = IdempotentParquetSink(out_dir)
    return sink.start(alerts, checkpoint_dir, available_now), sink
