"""Distributed BPE tokenizer training and application over the request
token stream — the tokenizer-building stage of a training-data pipeline.

Reference analog: the reference engine treats the vocabulary as a fixed
input (`constants.py` VOCAB; the reference's option/format tables in
options.rs / save.rs are likewise compile-time vocabularies); this layer
is the upstream job that CREATES such a vocabulary from the corpus — the
piece a 100 TB tokens pipeline runs before anything else.

Three faces:

* ``pair_counts(req)`` — adjacent-token-pair frequencies across the
  corpus.  ONE mapInArrow pass does per-batch PARTIAL aggregation in
  numpy (``np.unique`` over int64-coded pairs), so the Python->JVM
  hand-off carries at most distinct-pairs-per-batch rows instead of one
  row per corpus token; the JVM groupBy-sum adds its usual map-side
  combine on top.  At 100 TB the shuffle volume is bounded by the pair
  vocabulary (<= |V|^2, in practice a few M rows), not by the corpus.
* ``train_bpe(req, n_merges)`` — iterative merge learning: count pairs,
  take the global argmax (count desc, then (tok_a, tok_b) asc — a top-1
  ``TakeOrderedAndProject`` reduction, never a full sort), rewrite the
  corpus with the merge, repeat.  Every round lands through a parquet
  stage boundary (pipeline/stage.py): lineage stays flat, each round is
  durable/resumable, and Catalyst re-plans against real file stats —
  the same write-ahead iteration shape as dedup.connected_components.
  ``batch_size > 1`` learns up to that many TOKEN-DISJOINT merges per
  round (the scalable-BPE batching trick): pairs sharing no token can
  neither create nor destroy each other's occurrences, so one corpus
  pass applies them all with a deterministic result; a candidate that
  shares a token with an earlier pick this round is DEFERRED to the
  next count.  This cuts corpus passes from n_merges to about
  n_merges/batch_size, at a documented approximation: a pair whose
  count changes due to this round's merges cannot win until the next
  round.  ``batch_size=1`` is exact sequential BPE.
* ``apply_bpe(req, merges)`` — encode a corpus with a learned merge
  table: merges applied in rank order, each exhaustively (left-to-right
  non-overlapping).  Trained tables are CAUSAL — a merge consuming a
  token minted by merge r was necessarily learned after r, so it holds
  a later rank — which makes rank-order application equivalent to the
  iterative lowest-rank-first encoder.  One narrow mapInArrow pass; the
  merge table rides the task closure (broadcast-sized by construction).

All token rewriting happens on one flat numpy buffer per Arrow batch
(the `_flat_tokens` layout shared with dedup.signatures_arrow); the
left-to-right non-overlap rule is vectorized with a run-parity trick —
for a == b the match positions form runs (e.g. "aaaa"), and keeping
even offsets within each run reproduces the sequential scan exactly.
For a != b two matches can never be adjacent (that would require
b == a), so runs only arise in the a == b case.

Tested three ways (tests/test_bpe.py): a pure-Python per-document
reference for the full train/apply loop, a DuckDB zipped-unnest mirror
for pair counts, and crafted overlap/boundary cases for the kernel.

Scale shape at 100 TB: each training round is (a) one narrow pass with
batch-local pre-aggregation, (b) a pair-vocabulary-sized shuffle,
(c) a top-1 reduce, (d) one narrow rewrite pass, (e) a durable parquet
boundary.  Nothing in the loop is proportional to corpus row count
except the two narrow passes, and nothing global is ever sorted.
"""

from __future__ import annotations

import shutil
from typing import Iterable

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tokforge.constants import VOCAB
from tokforge.pipeline.dedup import _flat_tokens
from tokforge.pipeline.stage import make_scratch_dir, stage_boundary

# Pair code = tok_a * PAIR_BASE + tok_b.  PAIR_BASE must exceed every token
# id the trainer can mint (VOCAB + n_merges); 2^20 = 1,048,576 leaves room
# for ~1M merges and the product stays far inside int64.
PAIR_BASE = 1 << 20

_TOKENS_SCHEMA = "doc_id string, tokens array<int>"


def pair_counts(req: DataFrame) -> DataFrame:
    """Corpus-wide adjacent-pair frequencies: (tok_a, tok_b, cnt).

    Per-batch numpy partial aggregation; adjacency never crosses a row
    boundary (rowmap equality guard, same rule as the shingle kernel).
    """
    import pyarrow as pa

    def fn(batches):
        for batch in batches:
            values, rowmap, _ = _flat_tokens(batch)
            if len(values) and int(values.max()) >= PAIR_BASE:
                raise ValueError(
                    f"token id {int(values.max())} >= PAIR_BASE ({PAIR_BASE}); "
                    "pair codes would collide"
                )
            if len(values) >= 2:
                adj = rowmap[:-1] == rowmap[1:]
                codes = values[:-1][adj] * PAIR_BASE + values[1:][adj]
                uniq, cnt = np.unique(codes, return_counts=True)
            else:
                uniq = np.empty(0, dtype=np.int64)
                cnt = np.empty(0, dtype=np.int64)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array((uniq // PAIR_BASE).astype(np.int32), type=pa.int32()),
                    pa.array((uniq % PAIR_BASE).astype(np.int32), type=pa.int32()),
                    pa.array(cnt.astype(np.int64), type=pa.int64()),
                ],
                ["tok_a", "tok_b", "cnt"],
            )

    partial = req.select("tokens").mapInArrow(fn, "tok_a int, tok_b int, cnt long")
    return partial.groupBy("tok_a", "tok_b").agg(F.sum("cnt").alias("cnt"))


def _merge_flat(values, rowmap, pairs):
    """Apply token-disjoint merges ``(a, b, new_id)`` left-to-right
    non-overlapping over the flat buffer.  Returns (values, rowmap).

    Disjointness makes the per-pair match sets non-interfering: a match
    of one pair adjacent to a match of another would need a shared
    token.  Within one pair, overlap needs b == a, and those matches
    form consecutive runs resolved by the run-parity rule.
    """
    n = len(values)
    if n < 2 or not pairs:
        return values, rowmap
    all_idx = []
    all_nid = []
    adj = rowmap[:-1] == rowmap[1:]
    for a, b, nid in pairs:
        m = adj & (values[:-1] == a) & (values[1:] == b)
        idx = np.flatnonzero(m)
        if a == b and idx.size > 1:
            run_start = np.empty(idx.size, dtype=bool)
            run_start[0] = True
            run_start[1:] = idx[1:] != idx[:-1] + 1
            starts = idx[run_start]
            run_id = np.cumsum(run_start) - 1
            idx = idx[((idx - starts[run_id]) % 2) == 0]
        if idx.size:
            all_idx.append(idx)
            all_nid.append(np.full(idx.size, nid, dtype=np.int64))
    if not all_idx:
        return values, rowmap
    idx = np.concatenate(all_idx)
    nids = np.concatenate(all_nid)
    order = np.argsort(idx)  # disjoint pairs -> no duplicate positions
    idx = idx[order]
    nids = nids[order]
    out = values.copy()
    out[idx] = nids
    keep = np.ones(n, dtype=bool)
    keep[idx + 1] = False
    return out[keep], rowmap[keep]


def _rewrite_corpus(req: DataFrame, pairs: list) -> DataFrame:
    """One narrow mapInArrow pass applying token-disjoint merges."""
    import pyarrow as pa

    def fn(batches):
        for batch in batches:
            values, rowmap, _ = _flat_tokens(batch)
            m = batch.num_rows
            out_v, out_rm = _merge_flat(values, rowmap, pairs)
            new_len = (
                np.bincount(out_rm, minlength=m)
                if len(out_rm)
                else np.zeros(m, dtype=np.int64)
            )
            offs = np.zeros(m + 1, dtype=np.int64)
            np.cumsum(new_len, out=offs[1:])
            arr = pa.ListArray.from_arrays(
                pa.array(offs.astype(np.int32), type=pa.int32()),
                pa.array(out_v.astype(np.int32), type=pa.int32()),
            )
            yield pa.RecordBatch.from_arrays(
                [batch.column("doc_id"), arr], ["doc_id", "tokens"]
            )

    return req.select("doc_id", "tokens").mapInArrow(fn, _TOKENS_SCHEMA)


def _expand_flat(values, rowmap, a: int, b: int, nid: int):
    """Replace every ``nid`` with the pair (a, b) — one vectorized
    repeat/scatter pass (the inverse of _merge_flat for one merge)."""
    hit = values == nid
    if not hit.any():
        return values, rowmap
    counts = np.where(hit, 2, 1)
    rep = np.repeat(np.arange(len(values), dtype=np.int64), counts)
    out = values[rep]
    occ = np.arange(len(rep), dtype=np.int64) - np.repeat(
        np.concatenate(([0], np.cumsum(counts)[:-1])), counts
    )
    first = hit[rep] & (occ == 0)
    out[first] = a
    out[hit[rep] & (occ == 1)] = b
    return out, rowmap[rep]


def expand_bpe(req: DataFrame, merges: Iterable[dict]) -> DataFrame:
    """Decode a BPE-encoded corpus back to base tokens: merges applied
    in REVERSE rank order, each expanding its minted id into its pair.
    Exact inverse of :func:`apply_bpe` (roundtrip asserted in
    tests/test_bpe.py) because minted ids are fresh — no base token can
    collide with a merge id, so expansion order within one rank is
    irrelevant and later merges (whose pairs may contain earlier minted
    ids) unwind first.  One narrow pass, same shape as apply."""
    import pyarrow as pa

    table = [
        (int(m["tok_a"]), int(m["tok_b"]), int(m["new_id"]))
        for m in sorted(merges, key=lambda m: m["rank"], reverse=True)
    ]
    req = req.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.col("tokens").cast("array<int>").alias("tokens"),
    )

    def fn(batches):
        for batch in batches:
            values, rowmap, _ = _flat_tokens(batch)
            m = batch.num_rows
            for a, b, nid in table:
                values, rowmap = _expand_flat(values, rowmap, a, b, nid)
            new_len = (
                np.bincount(rowmap, minlength=m)
                if len(rowmap)
                else np.zeros(m, dtype=np.int64)
            )
            offs = np.zeros(m + 1, dtype=np.int64)
            np.cumsum(new_len, out=offs[1:])
            arr = pa.ListArray.from_arrays(
                pa.array(offs.astype(np.int32), type=pa.int32()),
                pa.array(values.astype(np.int32), type=pa.int32()),
            )
            yield pa.RecordBatch.from_arrays(
                [batch.column("doc_id"), arr], ["doc_id", "tokens"]
            )

    return req.select("doc_id", "tokens").mapInArrow(fn, _TOKENS_SCHEMA)


def train_bpe(
    req: DataFrame,
    n_merges: int,
    batch_size: int = 1,
    min_count: int = 2,
    scratch_dir: str | None = None,
):
    """Learn up to ``n_merges`` BPE merges from (doc_id, tokens).

    Returns ``(merges, corpus)``: ``merges`` is a rank-ordered list of
    ``{"rank", "tok_a", "tok_b", "new_id", "count"}`` dicts (new ids are
    VOCAB + rank), ``corpus`` the rewritten DataFrame reading from the
    final round's parquet (valid until interpreter exit — scratch under
    TOKFORGE_SCRATCH_DIR when set, atexit-cleaned; intermediate rounds
    are deleted eagerly as soon as the next round lands, the dedup
    clustering hygiene rule).

    Stops early when no pair reaches ``min_count`` (merging a pair seen
    once buys nothing).  ``batch_size`` > 1 applies the token-disjoint
    batching rule documented in the module docstring; candidates that
    interact with an earlier pick in the same round are deferred, not
    skipped.
    """
    if n_merges < 1:
        raise ValueError(f"n_merges must be >= 1, got {n_merges}")
    if batch_size < 1:
        raise ValueError(f"batch_size must be >= 1, got {batch_size}")
    if VOCAB + n_merges > PAIR_BASE:
        raise ValueError(
            f"VOCAB + n_merges = {VOCAB + n_merges} exceeds PAIR_BASE "
            f"({PAIR_BASE}): minted ids would collide in pair codes"
        )
    scratch = make_scratch_dir("tokforge-bpe-", scratch_dir)
    current = req.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.col("tokens").cast("array<int>").alias("tokens"),
    )
    merges: list[dict] = []
    prev_path: str | None = None
    rnd = 0
    while len(merges) < n_merges:
        k = min(batch_size, n_merges - len(merges))
        cand = (
            pair_counts(current)
            .filter(F.col("cnt") >= min_count)
            .orderBy(F.desc("cnt"), F.asc("tok_a"), F.asc("tok_b"))
            .limit(k)
            .collect()
        )
        picked = []
        used: set[int] = set()
        for r in cand:
            a, b = int(r["tok_a"]), int(r["tok_b"])
            if a in used or b in used:
                continue  # interacts with an earlier pick -> defer to next round
            nid = VOCAB + len(merges) + len(picked)
            picked.append((a, b, nid, int(r["cnt"])))
            used.update((a, b))
        if not picked:
            break
        for a, b, nid, cnt in picked:
            merges.append(
                {
                    "rank": len(merges),
                    "tok_a": a,
                    "tok_b": b,
                    "new_id": nid,
                    "count": cnt,
                }
            )
        current = _rewrite_corpus(current, [(a, b, nid) for a, b, nid, _ in picked])
        path = f"{scratch}/round_{rnd}"
        current = stage_boundary(current, path)
        if prev_path is not None:
            shutil.rmtree(prev_path, ignore_errors=True)
        prev_path = path
        rnd += 1
    return merges, current


def is_causal_merge_table(merges: Iterable[dict]) -> bool:
    """True iff every merge's inputs predate it: each ``tok_a``/``tok_b``
    is either a base-vocab token or the ``new_id`` of a STRICTLY earlier
    rank.  Tables produced by :func:`train_bpe` are causal by
    construction; an imported table (e.g. a public tokenizer's merge
    list re-ranked) may not be.

    Why it matters: rank-order exhaustive application (the vectorized
    fast path) equals standard lowest-rank-first BPE exactly when the
    table is causal — a merge can only create NEW adjacencies involving
    its own output token, so an already-passed earlier rank can become
    applicable again only if its input contains a later rank's output,
    which causality forbids.  Non-causal example where the two diverge:
    ``r0: (Y, b) -> Z`` with ``r1: (a, a) -> Y`` — on ``[a, a, b]``
    standard BPE yields ``[Z]``, rank-order yields ``[Y, b]``.
    """
    ordered = sorted(merges, key=lambda m: m["rank"])
    minted: set[int] = {int(m["new_id"]) for m in ordered}
    seen: set[int] = set()
    for m in ordered:
        for t in (int(m["tok_a"]), int(m["tok_b"])):
            if t in minted and t not in seen:
                return False
        seen.add(int(m["new_id"]))
    return True


def _encode_standard(seq: list[int], ranks: dict) -> list[int]:
    """Reference lowest-rank-first BPE encode of one document: repeat
    (find lowest-rank pair present; replace its left-to-right
    non-overlapping occurrences) until no merge applies.  Exact for ANY
    merge table; O(len * merges-applied) — the per-document price of
    exactness on non-causal tables."""
    while True:
        best = None
        for x, y in zip(seq, seq[1:]):
            r = ranks.get((x, y))
            if r is not None and (best is None or r[0] < best[0]):
                best = (r[0], r[1], x, y)
        if best is None:
            return seq
        _, nid, x, y = best
        out: list[int] = []
        i = 0
        n = len(seq)
        while i < n:
            if i + 1 < n and seq[i] == x and seq[i + 1] == y:
                out.append(nid)
                i += 2
            else:
                out.append(seq[i])
                i += 1
        seq = out


def apply_bpe(
    req: DataFrame, merges: Iterable[dict], exact: bool | None = None
) -> DataFrame:
    """Encode (doc_id, tokens) with a merge table, matching standard
    lowest-rank-first BPE semantics on ANY table.

    Two physical paths behind one semantic contract:

    * causal table (every :func:`train_bpe` output — validated by
      :func:`is_causal_merge_table`): merges applied in rank order, each
      exhaustively left-to-right — k vectorized sweeps of the flat
      Arrow batch buffer, provably equal to the standard encoder.
    * non-causal table (imported, e.g. a public tokenizer's): the
      vectorized rank-order result can diverge, so the encoder switches
      to the exact per-document lowest-rank-first loop automatically.
      ``exact=True`` forces this path; ``exact=False`` forces the fast
      path (caller asserts causality at their own risk).

    Either way it is one narrow mapInArrow pass with the merge table in
    the task closure (broadcast-sized by construction) — the shape that
    carries to 100 TB; only the per-batch kernel differs.
    """
    import pyarrow as pa

    ordered = sorted(merges, key=lambda m: m["rank"])
    table = [
        (int(m["tok_a"]), int(m["tok_b"]), int(m["new_id"])) for m in ordered
    ]
    if exact is None:
        exact = not is_causal_merge_table(ordered)
    req = req.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.col("tokens").cast("array<int>").alias("tokens"),
    )

    def emit(batch, values, rowmap, m):
        new_len = (
            np.bincount(rowmap, minlength=m)
            if len(rowmap)
            else np.zeros(m, dtype=np.int64)
        )
        offs = np.zeros(m + 1, dtype=np.int64)
        np.cumsum(new_len, out=offs[1:])
        arr = pa.ListArray.from_arrays(
            pa.array(offs.astype(np.int32), type=pa.int32()),
            pa.array(values.astype(np.int32), type=pa.int32()),
        )
        return pa.RecordBatch.from_arrays(
            [batch.column("doc_id"), arr], ["doc_id", "tokens"]
        )

    def fn_fast(batches):
        for batch in batches:
            values, rowmap, _ = _flat_tokens(batch)
            for pair in table:
                values, rowmap = _merge_flat(values, rowmap, [pair])
            yield emit(batch, values, rowmap, batch.num_rows)

    def fn_exact(batches):
        ranks = {(a, b): (r, nid) for r, (a, b, nid) in enumerate(table)}
        for batch in batches:
            col = batch.column("tokens").to_pylist()
            enc = [_encode_standard(list(t or []), ranks) for t in col]
            values = np.fromiter(
                (v for t in enc for v in t), dtype=np.int64
            )
            rowmap = np.repeat(
                np.arange(len(enc), dtype=np.int64),
                [len(t) for t in enc],
            )
            yield emit(batch, values, rowmap, batch.num_rows)

    return req.select("doc_id", "tokens").mapInArrow(
        fn_exact if exact else fn_fast, _TOKENS_SCHEMA
    )
