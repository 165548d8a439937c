"""Sequence packing — assign documents to fixed-length training
sequences ("concat then chunk every L tokens", the GPT-style packing
that follows sampling/interleaving in a training-data pipeline).

Two deliverables:

* the doc -> chunk MAP (``pack_sequences``): for each document, which
  training sequence its first token lands in (``chunk_first``), which
  one its last token lands in (``chunk_last``), and the offset of its
  first token inside that first chunk;
* the MATERIALIZED chunks (``emit_chunks``): the actual fixed-length
  token sequences, the analog of the reference's encode stage emitting
  real payloads (save.rs:74-178) rather than a plan for them.

Semantics (mirrored in DuckDB by tests/test_pack.py):

* Documents are laid out per stratum in the deterministic md5 order
  shared with pipeline.sample/interleave; ``cum_before`` is the running
  token total before the doc.
* ``chunk_first = floor(cum_before / L)``,
  ``chunk_last = floor((cum_before + w - 1) / L)`` (a doc spanning a
  boundary continues into the next chunk — no padding, no discard),
  ``offset = cum_before % L``.

Scale shape: the running total is pipeline.sample's ``_running_total``
— per-(stratum, hex-prefix bucket) totals, a window over that tiny
table, offsets broadcast back, a local window per bucket; no stratum
ever sorts in one task.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tokforge.pipeline.sample import _order_key, _running_total, token_weight_col
from tokforge.sources.requests import array_digest, load_documents


def pack_sequences(
    docs: DataFrame,
    seq_len: int,
    stratum_col: str = "lang",
    weight: "F.Column | None" = None,
    id_col: str = "doc_id",
) -> DataFrame:
    """Returns docs + (w, cum_before, chunk_first, chunk_last, offset)."""
    w = weight if weight is not None else token_weight_col()
    d = docs.withColumn("w", w).withColumn("__key", _order_key(id_col))
    return (
        _running_total(d, [stratum_col], ["__key", id_col], "w")
        .withColumn("cum_before", F.col("__run") - F.col("w"))
        .withColumn("chunk_first", F.floor(F.col("cum_before") / seq_len))
        .withColumn(
            "chunk_last",
            F.floor((F.col("cum_before") + F.col("w") - 1) / seq_len),
        )
        .withColumn("offset", F.col("cum_before") % seq_len)
        .drop("__key", "__run")
    )


def emit_chunks(
    docs: DataFrame,
    seq_len: int,
    stratum_col: str = "lang",
    id_col: str = "doc_id",
    text_col: str = "text",
    tokens_col: str | None = None,
) -> DataFrame:
    """Materialize the packed training sequences: per (stratum, chunk_id),
    the actual ``tokens`` array of length ``seq_len`` (the final chunk of
    each stratum is the only partial one) plus ``n_fill`` (real tokens in
    the chunk — padding is the trainer's choice, not baked in here).

    Shape at 100 TB: each doc row explodes into one row per chunk it
    touches, carrying EXACTLY the token slice that lands in that chunk
    (``F.slice`` on the split array — pure JVM column algebra, no Python).
    The single shuffle is the groupBy on (stratum, chunk_id): the minimal
    movement that turns doc-sharded input into chunk-contiguous output,
    with perfectly uniform groups (every group holds <= seq_len tokens),
    so there is no skew and no group ever exceeds a few KB.  Within a
    chunk, slices reassemble in ``cum_before`` order via
    array_sort(collect_list(struct(cum_before, slice))) — cum_before is
    unique per doc within a stratum, so the order is total.

    Gap-free tiling vs the map and a DuckDB mirror digest are asserted by
    tests/test_pack.py.

    ``tokens_col`` packs an int-token ARRAY column directly instead of
    whitespace-splitting ``text_col`` — the same algebra is type-generic,
    so the emitted chunks are real training sequences ready for the
    objective-construction stage (pipeline/corrupt.py), asserted end to
    end by tests/test_pack_corrupt.py."""
    if tokens_col is not None:
        mapped = pack_sequences(
            docs, seq_len, stratum_col,
            weight=F.size(tokens_col).cast("long"), id_col=id_col,
        )
        toks = F.col(tokens_col)
    else:
        mapped = pack_sequences(docs, seq_len, stratum_col, id_col=id_col)
        toks = F.split(F.col(text_col), " ")
    per_chunk = (
        # Zero-weight docs (empty tokens_col array) contribute nothing to
        # any chunk; worse, one whose cum_before is an exact seq_len
        # multiple gets chunk_last = chunk_first - 1 and F.sequence would
        # step DOWN to a spurious 2-element range, minting an empty chunk
        # group the mirror doesn't have.  Drop them before the explode.
        mapped.filter(F.col("w") > 0)
        .withColumn(
            "__chunk", F.explode(F.sequence("chunk_first", "chunk_last"))
        )
        # the doc's local token range [lo, hi) that lands in this chunk
        .withColumn(
            "__lo", F.greatest(F.lit(0), F.col("__chunk") * seq_len - F.col("cum_before"))
        )
        .withColumn(
            "__hi",
            F.least(F.col("w"), (F.col("__chunk") + 1) * seq_len - F.col("cum_before")),
        )
        .select(
            stratum_col,
            F.col("__chunk").alias("chunk_id"),
            F.struct(
                F.col("cum_before"),
                F.slice(
                    toks, (F.col("__lo") + 1).cast("int"), (F.col("__hi") - F.col("__lo")).cast("int")
                ).alias("slice"),
            ).alias("__piece"),
        )
    )
    pieces = F.array_sort(F.collect_list("__piece"))
    tokens = F.flatten(F.transform(pieces, lambda p: p["slice"]))
    return per_chunk.groupBy(stratum_col, "chunk_id").agg(
        tokens.alias("tokens"),
    ).withColumn("n_fill", F.size("tokens"))


def q_pack(spark: SparkSession, sf_dir: str, seq_len: int = 256) -> DataFrame:
    """Per-language packing map over the documents table (pytest-covered;
    the materialized-chunk digest is the driver-gated face, q_pack_chunks)."""
    docs = load_documents(spark, sf_dir)
    return pack_sequences(docs, seq_len).select(
        "doc_id", "lang", "w", "cum_before", "chunk_first", "chunk_last", "offset"
    )


_PACK_L = 256


def q_pack_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-gated face of the chunk emitter: per (lang, chunk_id) the
    fill count and an md5 digest of the materialized token sequence
    (scalar-only — the driver's canonicalizer cannot hash array cells)."""
    docs = load_documents(spark, sf_dir)
    out = emit_chunks(docs, _PACK_L)
    return out.select(
        "lang",
        "chunk_id",
        F.col("n_fill").cast("long").alias("n_fill"),
        array_digest("tokens").alias("chunk_md5"),
    )


# Mirror of the full emit: per-doc md5 order + running totals, tokens
# unnested with their global position, regrouped by floor(pos / L) with the
# in-chunk order preserved by the position.
SQL_PACK_CHUNKS = f"""WITH d AS (
  SELECT doc_id, lang, string_split(text, ' ') AS toks,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS w,
         md5(CAST(doc_id AS VARCHAR)) AS k
  FROM documents
), c AS (
  SELECT *, COALESCE(SUM(w) OVER (
      PARTITION BY lang ORDER BY k, doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
  FROM d
), flat AS (
  SELECT lang,
         cum_before + generate_subscripts(toks, 1) - 1 AS pos,
         unnest(toks) AS tok
  FROM c
)
SELECT lang,
       CAST(floor(pos / {_PACK_L}) AS BIGINT) AS chunk_id,
       CAST(count(*) AS BIGINT) AS n_fill,
       md5(string_agg(tok, ',' ORDER BY pos)) AS chunk_md5
FROM flat
GROUP BY 1, 2"""


def chunk_boundaries(
    docs: DataFrame,
    seq_len: int,
    stratum_col: str = "lang",
    weight: "F.Column | None" = None,
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-chunk DOCUMENT-BOUNDARY map — what a trainer needs to build
    block-diagonal attention masks (and EOD-token insertion points) over
    packed sequences: for every (stratum, chunk_id), the sorted offsets
    at which a NEW document starts inside that chunk.

    Derivation is pure column algebra over the packing map: a document
    starts in chunk ``chunk_first`` at offset ``cum_before % L``; the
    groupBy on (stratum, chunk_first) is the same uniform-group shuffle
    as emit_chunks (<= seq_len starts per group).  A chunk with no entry
    in this map is fully covered by a continuing document (pinned by
    tests/test_pack.py against emit_chunks' materialized tiling).

    Output: (stratum, chunk_id, n_starts, boundaries) with boundaries a
    sorted int array; the driver-facing digest face is the caller's
    choice (arrays digest through md5(join) like every gated face).
    """
    mapped = pack_sequences(docs, seq_len, stratum_col, weight=weight, id_col=id_col)
    return (
        mapped.filter(F.col("w") > 0)
        .groupBy(stratum_col, F.col("chunk_first").alias("chunk_id"))
        .agg(
            F.count("*").cast("long").alias("n_starts"),
            F.sort_array(
                F.collect_list(F.col("offset").cast("int"))
            ).alias("boundaries"),
        )
    )
