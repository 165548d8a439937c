"""Substring-level duplicate analysis over the token corpus — the
missing member of the dedup family: whole-document dedup (exact /
MinHash-LSH / SimHash) treats a document as one unit, but real training
corpora duplicate SPANS (boilerplate, licenses, quoted passages), and
the standard remedy is exact substring matching over token k-grams
("Deduplicating Training Data Makes Language Models Better",
Lee et al. 2022 — suffix-array method; this module is the distributed
k-gram formulation of the same detection).

Faces:

* ``duplicate_spans(req, k, min_count)`` — every MAXIMAL span whose
  k-grams all occur >= min_count times corpus-wide (intra-doc repeats
  count: a doc repeating its own boilerplate is a duplicate too).
  Shape: (1) a partial-aggregated Arrow pass emits per-batch k-gram
  counts (the bpe.pair_counts shape — shuffle bounded by distinct
  grams per batch), (2) one narrow pass emits (doc_id, pos, gram),
  joined hash-to-hash against the >=min_count gram table (the single
  corpus-sized shuffle — inherent to exact substring detection; the
  ``stride`` knob on the position pass trades recall for volume),
  (3) marked positions fold into maximal runs with the classic
  ``pos - row_number()`` island trick — a per-document window over
  MARKED positions only, never the corpus.
* ``dup_coverage(req, k, min_count)`` — per-document duplicated-token
  count and ratio: spans from adjacent runs can overlap by up to k-1
  tokens, so coverage union-merges intervals first (running-max
  gaps-and-islands window, again over spans only).
* ``repetition_stats(req, k)`` — INTRA-document repetition (the
  Gopher-style duplicate-n-gram quality filter): per doc, total vs
  distinct k-gram counts and the duplicate-gram ratio.  One narrow
  Arrow pass, per-row ``np.unique`` via lexsort, zero shuffle.

The k-gram hash is dedup.py's one rolling fold (``_kgram_flat`` /
``sql_kgram_fold``, ``h = fold(window, t0 % P, (h * SHINGLE_MULT + t) % P)``);
MinHash uses it at k = SHINGLE_K, so the substring layer and the MinHash
layer score the same underlying gram identity.  All integer math; DuckDB
mirrors in tests/test_substr.py.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from tokforge.pipeline.dedup import _flat_tokens, _kgram_flat


def kgram_counts(req: DataFrame, k: int) -> DataFrame:
    """Corpus-wide k-gram frequencies (g, cnt): per-batch partial
    aggregation (np.unique) before the gram-keyed shuffle."""
    import pyarrow as pa

    def fn(batches):
        for batch in batches:
            values, rowmap, _ = _flat_tokens(batch)
            g, _, _ = _kgram_flat(values, rowmap, k)
            if len(g):
                uniq, cnt = np.unique(g, return_counts=True)
            else:
                uniq = np.empty(0, dtype=np.int64)
                cnt = np.empty(0, dtype=np.int64)
            yield pa.RecordBatch.from_arrays(
                [pa.array(uniq, type=pa.int64()), pa.array(cnt, type=pa.int64())],
                ["g", "cnt"],
            )

    partial = req.select("tokens").mapInArrow(fn, "g long, cnt long")
    return partial.groupBy("g").agg(F.sum("cnt").alias("cnt"))


def kgram_positions(req: DataFrame, k: int, stride: int = 1) -> DataFrame:
    """(doc_id, pos, g) for every gram start position (``stride`` > 1
    samples every stride-th position — the recall/volume knob for the
    corpus-sized join at 100 TB)."""
    import pyarrow as pa

    if stride < 1:
        raise ValueError(f"stride must be >= 1, got {stride}")

    def fn(batches):
        for batch in batches:
            values, rowmap, lengths = _flat_tokens(batch)
            m = batch.num_rows
            starts = np.zeros(m + 1, dtype=np.int64)
            np.cumsum(lengths, out=starts[1:])
            g, rows, idx = _kgram_flat(values, rowmap, k)
            pos = idx - starts[rows]
            if stride > 1:
                keep = pos % stride == 0
                g, rows, pos = g[keep], rows[keep], pos[keep]
            doc = pa.compute.take(batch.column("doc_id"), pa.array(rows))
            yield pa.RecordBatch.from_arrays(
                [
                    doc,
                    pa.array(pos.astype(np.int32), type=pa.int32()),
                    pa.array(g, type=pa.int64()),
                ],
                ["doc_id", "pos", "g"],
            )

    return req.select(
        F.col("doc_id").cast("string").alias("doc_id"), "tokens"
    ).mapInArrow(fn, "doc_id string, pos int, g long")


def duplicate_spans(
    req: DataFrame, k: int = 8, min_count: int = 2, stride: int = 1
) -> DataFrame:
    """Maximal duplicated spans: (doc_id, span_start, n_pos, span_len).
    A run of ``n_pos`` consecutive duplicated gram starts (consecutive =
    ``stride`` apart) covers ``(n_pos - 1) * stride + k`` tokens.

    With ``stride`` > 1 the run is over SAMPLED positions: the island id
    divides pos by stride first, so sampled runs still merge into one
    maximal span (not n_pos singletons).  The merged span is gap-free in
    token space whenever ``stride <= k`` (adjacent sampled grams overlap
    or abut); with ``stride > k`` the span may bridge unexamined holes —
    that is the documented recall trade of the knob.  Containment of the
    stride=1 spans inside the stride>1 spans (at stride <= k) is pinned
    by tests/test_substr.py."""
    if min_count < 2:
        raise ValueError(f"min_count must be >= 2, got {min_count}")
    dup = (
        kgram_counts(req, k)
        .filter(F.col("cnt") >= min_count)
        .select("g")
    )
    marked = kgram_positions(req, k, stride).join(dup, "g").select("doc_id", "pos")
    w = Window.partitionBy("doc_id").orderBy("pos")
    runs = marked.withColumn(
        "rid",
        (F.col("pos") / F.lit(stride)).cast("long") - F.row_number().over(w),
    )
    return runs.groupBy("doc_id", "rid").agg(
        F.min("pos").cast("long").alias("span_start"),
        F.count("*").alias("n_pos"),
        (F.max("pos") - F.min("pos") + k).cast("long").alias("span_len"),
    ).drop("rid")


def dup_coverage(
    req: DataFrame, k: int = 8, min_count: int = 2, stride: int = 1
) -> DataFrame:
    """Per-document duplicated-token coverage: (doc_id, n_tok,
    dup_tokens, dup_ratio).  Adjacent spans can overlap by up to k-1
    tokens, so intervals union-merge first (gaps-and-islands over the
    span list, running max of interval end)."""
    spans = duplicate_spans(req, k, min_count, stride).withColumn(
        "span_end", F.col("span_start") + F.col("span_len") - 1
    )
    w = Window.partitionBy("doc_id").orderBy("span_start")
    prev_end = F.max("span_end").over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    islands = spans.withColumn(
        "island",
        F.sum(
            F.when(
                F.col("span_start") > F.coalesce(prev_end, F.lit(-1)), 1
            ).otherwise(0)
        ).over(w),
    )
    merged = islands.groupBy("doc_id", "island").agg(
        (F.max("span_end") - F.min("span_start") + 1).alias("ilen")
    )
    per_doc = merged.groupBy("doc_id").agg(F.sum("ilen").alias("dup_tokens"))
    base = req.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.size("tokens").cast("long").alias("n_tok"),
    )
    return base.join(per_doc, "doc_id", "left").select(
        "doc_id",
        "n_tok",
        F.coalesce("dup_tokens", F.lit(0)).cast("long").alias("dup_tokens"),
        F.round(
            F.coalesce("dup_tokens", F.lit(0)).cast("double")
            / F.greatest("n_tok", F.lit(1)),
            6,
        ).alias("dup_ratio"),
    )


def repetition_stats(req: DataFrame, k: int = 3) -> DataFrame:
    """Intra-document repetition (Gopher-style duplicate-n-gram filter):
    (doc_id, n_grams, n_distinct_grams, rep_ratio) with
    rep_ratio = (n_grams - distinct) / n_grams.  One narrow pass."""
    import pyarrow as pa

    def fn(batches):
        for batch in batches:
            values, rowmap, _ = _flat_tokens(batch)
            m = batch.num_rows
            g, rows, _ = _kgram_flat(values, rowmap, k)
            total = np.bincount(rows, minlength=m).astype(np.int64) if len(rows) else np.zeros(m, dtype=np.int64)
            if len(g):
                order = np.lexsort((g, rows))
                gs, rs = g[order], rows[order]
                new = np.empty(len(gs), dtype=bool)
                new[0] = True
                new[1:] = (rs[1:] != rs[:-1]) | (gs[1:] != gs[:-1])
                distinct = np.bincount(rs[new], minlength=m).astype(np.int64)
            else:
                distinct = np.zeros(m, dtype=np.int64)
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column("doc_id"),
                    pa.array(total, type=pa.int64()),
                    pa.array(distinct, type=pa.int64()),
                ],
                ["doc_id", "n_grams", "n_distinct_grams"],
            )

    out = req.select(
        F.col("doc_id").cast("string").alias("doc_id"), "tokens"
    ).mapInArrow(fn, "doc_id string, n_grams long, n_distinct_grams long")
    return out.select(
        "doc_id",
        "n_grams",
        "n_distinct_grams",
        F.round(
            (F.col("n_grams") - F.col("n_distinct_grams")).cast("double")
            / F.greatest("n_grams", F.lit(1)),
            6,
        ).alias("rep_ratio"),
    )


def remove_spans(req: DataFrame, spans: DataFrame) -> DataFrame:
    """Cut token ranges out of the corpus: (doc_id, tokens) with every
    [span_start, span_start + span_len) range deleted — the EDIT action
    the span detectors feed (Lee et al. remove the duplicated text;
    which spans to cut — all, all-but-one occurrence, above a coverage
    threshold — is the caller's policy, expressed as the ``spans``
    DataFrame it passes in).

    Shape: spans aggregate to one (starts, lens) pair of arrays per doc
    (map-side combinable), join the corpus on doc_id (the spans side is
    small whenever dup coverage is — AQE broadcasts it), then ONE narrow
    Arrow pass deletes the ranges with a vectorized difference-array
    mask.  Docs without spans pass through untouched via the left join.
    Overlapping spans are handled (coverage counts, not toggles).
    """
    import pyarrow as pa

    agg = spans.groupBy(F.col("doc_id").cast("string").alias("doc_id")).agg(
        F.collect_list(
            F.struct(
                F.col("span_start").cast("long").alias("s"),
                F.col("span_len").cast("long").alias("l"),
            )
        ).alias("spans")
    )
    joined = req.select(
        F.col("doc_id").cast("string").alias("doc_id"), "tokens"
    ).join(agg, "doc_id", "left")

    def fn(batches):
        import pyarrow.compute as pc

        for batch in batches:
            values, rowmap, lengths = _flat_tokens(batch)
            m = batch.num_rows
            starts_all = np.zeros(m + 1, dtype=np.int64)
            np.cumsum(lengths, out=starts_all[1:])
            # difference-array coverage over the flat buffer: +1 at each
            # span start, -1 past its end (clamped to the row), cumsum > 0
            # marks deleted positions; overlaps just deepen the count
            diff = np.zeros(len(values) + 1, dtype=np.int64)
            sp = batch.column("spans")
            if isinstance(sp, pa.ChunkedArray):
                sp = sp.combine_chunks()
            counts = (
                pc.fill_null(pc.list_value_length(sp), 0)
                .to_numpy(zero_copy_only=False)
                .astype(np.int64)
            )
            flat = sp.flatten()  # drops null rows; aligned with counts==0
            if len(flat):
                sp_rows = np.repeat(np.arange(m, dtype=np.int64), counts)
                st = flat.field("s").to_numpy(zero_copy_only=False).astype(np.int64)
                ln = flat.field("l").to_numpy(zero_copy_only=False).astype(np.int64)
                row_n = lengths[sp_rows]
                a = np.clip(st, 0, row_n) + starts_all[sp_rows]
                b = np.clip(st + ln, 0, row_n) + starts_all[sp_rows]
                np.add.at(diff, a, 1)
                np.add.at(diff, b, -1)
            covered = np.cumsum(diff[:-1]) > 0
            keep = ~covered
            out_v = values[keep]
            out_rm = rowmap[keep]
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

    return joined.mapInArrow(fn, "doc_id string, tokens array<int>")

