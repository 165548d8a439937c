"""Deterministic span corruption — constructing the denoising training
objective (T5/UL2-style) from packed token sequences: mask a derived
set of token blocks, emit ``inputs`` (unmasked tokens with each masked
block collapsed to one sentinel) and ``targets`` (sentinel + original
tokens for each masked block, in order).

Reference analog: the watermark op injects reserved-sentinel-range
tokens into the stream (kernel.op_watermark, constants.SENTINEL_BASE);
corruption sentinels live in their own reserved block directly above it
so the two injections stay distinguishable downstream.

Mask selection is PURE INTEGER HASH math — block k of document d is
masked iff ``(d * 104651 + (k + seed) * 95231) % 1000 < millis`` — so
the op is exactly reproducible across engines (no RNG state, no
wall-clock) and re-runnable per epoch by bumping ``seed``.  Sentinels
are SEQUENTIAL per document (T5 convention): the j-th masked block gets
sentinel ``CORRUPT_SENT_BASE + j % CORRUPT_SENT_RANGE``.

One kernel, ``span_corrupt``: a narrow mapInArrow pass over the flat
token buffer (the _flat_tokens layout) — mask/rank/sentinel insertion all
via vectorized cumsum/repeat, no shuffle, no per-row Python.  Its
references are the DuckDB mirror ``sql_span_corrupt`` (the gated row's
oracle) and the pure-Python ``py_corrupt`` in tests/test_corrupt.py.

At 100 TB this is a map-only stage: corruption runs AFTER packing (the
inputs are fixed-length chunks), so the pass streams through parquet at
scan bandwidth and writes the (inputs, targets) pair back out — no
aggregation anywhere.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tokforge.constants import SENTINEL_MAX
from tokforge.pipeline.dedup import _flat_tokens

# Corruption sentinels: their own reserved block above the watermark
# sentinel range (50300-50399), so injected-vs-masked stays decidable.
CORRUPT_SENT_BASE = SENTINEL_MAX + 1  # 50400
CORRUPT_SENT_RANGE = 64

# Mask-hash multipliers: deliberately DISTINCT from the corpus-synthesis
# pair (sources/requests.py MUL_A/MUL_B) — sharing them would correlate
# the mask with the synthetic token content.
_MASK_MUL_DOC = 104651
_MASK_MUL_BLK = 95231
_MASK_DEN = 1000


def sql_span_corrupt(block: int = 8, millis: int = 250, seed: int = 1) -> str:
    """DuckDB twin of :func:`span_corrupt` over the ``req`` CTE
    (doc_num = the numeric doc id)."""
    cs, rng = CORRUPT_SENT_BASE, CORRUPT_SENT_RANGE
    return f"""b AS (
  SELECT doc_id, doc_num, tokens, n_tok,
         CAST(floor((n_tok + {block - 1}) / {block}) AS INT) AS nb
  FROM req
),
m AS (
  SELECT *, list_transform(range(nb),
      k -> ((doc_num * {_MASK_MUL_DOC} + (k + {seed}) * {_MASK_MUL_BLK}) % {_MASK_DEN}) < {millis}) AS mask
  FROM b
),
rk AS (
  SELECT *, list_transform(range(nb),
      k -> len(list_filter(mask[1:k], x -> x))) AS rnk
  FROM m
),
corrupted AS (
  SELECT doc_id,
         CAST(n_tok AS BIGINT) AS n_tok,
         CAST(len(list_filter(mask, x -> x)) AS BIGINT) AS n_masked,
         flatten(list_transform(range(nb),
             k -> CASE WHEN mask[k+1]
                  THEN [CAST({cs} + rnk[k+1] % {rng} AS INT)]
                  ELSE tokens[k*{block}+1 : least((k+1)*{block}, n_tok)] END)) AS inputs,
         flatten(list_transform(range(nb),
             k -> CASE WHEN mask[k+1]
                  THEN list_prepend(CAST({cs} + rnk[k+1] % {rng} AS INT),
                                    tokens[k*{block}+1 : least((k+1)*{block}, n_tok)])
                  ELSE CAST([] AS INT[]) END)) AS targets
  FROM rk
)"""


def span_corrupt(
    req: DataFrame, block: int = 8, millis: int = 250, seed: int = 1
) -> DataFrame:
    """(doc_id, n_tok, n_masked, inputs, targets) in one vectorized pass
    over the flat token buffer."""
    import pyarrow as pa

    if not (0 <= millis <= _MASK_DEN):
        raise ValueError(f"millis must be in [0, {_MASK_DEN}], got {millis}")
    if block < 1:
        raise ValueError(f"block must be >= 1, got {block}")

    def fn(batches):
        for batch in batches:
            values, rowmap, lengths = _flat_tokens(batch)
            m = batch.num_rows
            docs = np.asarray(
                batch.column("doc_id").cast(pa.int64()), dtype=np.int64
            )
            nv = len(values)
            starts = np.zeros(m + 1, dtype=np.int64)
            np.cumsum(lengths, out=starts[1:])
            pos = np.arange(nv, dtype=np.int64) - starts[rowmap]
            blk = pos // block
            # C-style remainder, the mirror's: a negative doc's residue
            # is negative and masks every block (numpy's % would floor)
            masked = np.fmod(
                docs[rowmap] * _MASK_MUL_DOC + (blk + seed) * _MASK_MUL_BLK,
                _MASK_DEN,
            ) < millis
            blk_start = pos % block == 0
            # per-row sequential rank of each MASKED block: cumsum of
            # masked block-starts, rebased at each row start.  Only
            # valid (and only consumed) at block-START slots — mid-block
            # positions would be off by one, but no sentinel is read
            # there.
            mstart = masked & blk_start
            cs = np.cumsum(mstart)
            row_base = np.concatenate(([0], cs))[starts[rowmap]]
            rank = cs - mstart.astype(np.int64) - row_base
            sent = (CORRUPT_SENT_BASE + rank % CORRUPT_SENT_RANGE).astype(np.int64)

            # inputs: unmasked tokens pass through; each masked block
            # collapses to its sentinel at the block-start slot
            in_keep = ~masked | mstart
            in_vals = np.where(mstart, sent, values)[in_keep]
            in_rows = rowmap[in_keep]

            # targets: sentinel inserted before each masked block's tokens
            if nv:
                counts = np.where(masked, np.where(blk_start, 2, 1), 0)
                rep = np.repeat(np.arange(nv, dtype=np.int64), counts)
                occ = np.arange(len(rep), dtype=np.int64) - np.repeat(
                    np.concatenate(([0], np.cumsum(counts)[:-1])), counts
                )
                tg_vals = values[rep]
                is_sent = (occ == 0) & mstart[rep]
                tg_vals = np.where(is_sent, sent[rep], tg_vals)
                tg_rows = rowmap[rep]
            else:
                tg_vals = np.empty(0, dtype=np.int64)
                tg_rows = np.empty(0, dtype=np.int64)

            n_masked = np.bincount(rowmap[mstart], minlength=m).astype(np.int64)

            def list_arr(vals, rows):
                ln = np.bincount(rows, minlength=m) if len(rows) else np.zeros(m, dtype=np.int64)
                offs = np.zeros(m + 1, dtype=np.int64)
                np.cumsum(ln, out=offs[1:])
                return pa.ListArray.from_arrays(
                    pa.array(offs.astype(np.int32), type=pa.int32()),
                    pa.array(vals.astype(np.int32), type=pa.int32()),
                )

            yield pa.RecordBatch.from_arrays(
                [
                    batch.column("doc_id"),
                    pa.array(lengths.astype(np.int64), type=pa.int64()),
                    pa.array(n_masked, type=pa.int64()),
                    list_arr(in_vals, in_rows),
                    list_arr(tg_vals, tg_rows),
                ],
                ["doc_id", "n_tok", "n_masked", "inputs", "targets"],
            )

    return req.select(
        F.col("doc_id").cast("string").alias("doc_id"), "tokens"
    ).mapInArrow(
        fn,
        "doc_id string, n_tok long, n_masked long, inputs array<int>, targets array<int>",
    )
