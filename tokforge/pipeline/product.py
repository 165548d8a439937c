"""The corpus PRODUCT — every pipeline layer composed into one lineage,
the way a production training-data run actually executes them:

    quality gate -> duplicated-span removal -> exact dedup ->
    near-dup collapse (SimHash) -> benchmark decontamination ->
    train/val hash split -> per-(split, lang) token-budget sample ->
    weighted source interleave -> sequence-pack map -> epoch-1 order

and ONE driver-gated row whose DuckDB oracle replays the ENTIRE chain —
the cross-layer invariants (edited tokens feeding the packer's tiling,
the split feeding the sampling strata, the interleave order living next
to the epoch permutation) that per-operator rows cannot pin.  Output is
the per-document product manifest: one row per surviving document with
every stage's verdict as a scalar column.

Policy choices (documented, both engines identical):

* near-dup = SimHash-identical collapse (Hamming 0 over 16 bits, keep
  the lowest doc id) — the conservative end of the SimHash family; the
  banded MinHash-LSH policy keeps its own gated rows (dedup_lsh_pairs,
  stream_lsh_dedup) and the cluster-canonical policy its pytest suite.
* a document emptied by span removal is dropped (fully-duplicated doc).
* decontamination screens the EDITED corpus against 3-gram features of
  the RAW eval slice (doc_num % 97 == 0) — eval text is external input,
  never edited.
* the epoch-1 step index runs over the full product (both splits): the
  data loader filters by split, the order is one global permutation.

Scale shape: the chain composes the already-audited shapes — narrow
Arrow passes (span detection/removal, SimHash), gram- and digest-keyed
shuffles with map-side combine, the md5-order + hex-prefix bucket
decomposition for sample/interleave/pack/epoch (never a single-task
sort), broadcast eval grams.  Each running-total stage embeds its child plan
twice, so every stage lands behind a stage_boundary lineage cut — the
pipeline/stage.py discipline (exponential-plan trap, CLAUDE.md).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from tokforge.pipeline.dedup import simhash_arrow, sql_kgram_fold, sql_simhash_expr
from tokforge.pipeline.epoch import EPOCH_SEED, epoch_order
from tokforge.pipeline.gate import quality_gate, sql_quality_gate_ctes
from tokforge.pipeline.interleave import weighted_interleave
from tokforge.pipeline.pack import pack_sequences
from tokforge.pipeline.sample import budget_sample, hash_split, sql_hash_split
from tokforge.pipeline.stage import stage_boundary
from tokforge.pipeline.substr import (
    duplicate_spans,
    kgram_positions,
    remove_spans,
)
from tokforge.sources.requests import (
    array_digest,
    load_documents,
    requests_df,
    sql_requests_cte,
)

# same thresholds as the gated quality_gate row
from tokforge.pipeline.corpusops import _GATE_PARAMS  # noqa: PLC2701

SPAN_K = 4
SPAN_MIN_COUNT = 2
DECON_K = 3
DECON_MIN_SHARED = 2
DECON_MOD = 97
SPLIT_FRAC = 0.25
BUDGET = 3000
SEQ_LEN = 64
EPOCH = 1
# dyadic mix weights (exact double division) — the assembly-layer rule
ILV_WEIGHTS = {f"src{i}": float(2 ** (i % 5)) for i in range(20)}


def corpus_product(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed chain; returns the per-document product manifest."""
    req = requests_df(spark, sf_dir, "product")
    meta = load_documents(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("doc_id"), "lang"
    )
    base = (
        req.select("doc_id", "source", "tokens")
        .join(meta, "doc_id")
        .withColumn("doc_num", F.col("doc_id").cast("long"))
    )

    # 1. quality gate
    keep = (
        quality_gate(spark, sf_dir, **_GATE_PARAMS)
        .filter("keep")
        .select("doc_id")
    )
    g = stage_boundary(base.join(keep, "doc_id"))

    # 2. duplicated-span removal over the gated corpus (empty docs drop)
    spans = duplicate_spans(
        g.select("doc_id", "tokens"), k=SPAN_K, min_count=SPAN_MIN_COUNT
    )
    ed = remove_spans(g.select("doc_id", "tokens"), spans).filter(
        F.size("tokens") > 0
    )
    d2 = stage_boundary(
        ed.join(g.select("doc_id", "doc_num", "source", "lang"), "doc_id")
    )

    # 3. exact dedup on the edited stream (keep lowest doc id)
    d3 = d2.withColumn("tokens_md5", array_digest("tokens"))
    w_ex = Window.partitionBy("tokens_md5").orderBy("doc_num")
    d3 = d3.withColumn("__rk", F.row_number().over(w_ex)).filter(
        "__rk = 1"
    ).drop("__rk")

    # 4. near-dup collapse: SimHash-identical (keep lowest doc id)
    sh = simhash_arrow(d3.select("doc_id", "tokens"))
    d4 = d3.join(sh, "doc_id")
    w_sh = Window.partitionBy("simhash16").orderBy("doc_num")
    d4 = d4.withColumn("__rk", F.row_number().over(w_sh)).filter(
        "__rk = 1"
    ).drop("__rk")

    # 5. decontamination: shared 3-grams vs the raw eval slice
    train_g = (
        kgram_positions(d4.select("doc_id", "tokens"), DECON_K)
        .select("doc_id", "g")
        .distinct()
    )
    eval_g = (
        kgram_positions(
            req.filter(F.col("doc_id").cast("long") % DECON_MOD == 0).select(
                "doc_id", "tokens"
            ),
            DECON_K,
        )
        .select("g")
        .distinct()
    )
    shared = (
        train_g.join(F.broadcast(eval_g), "g").groupBy("doc_id").count()
    )
    d5 = (
        d4.join(shared, "doc_id", "left")
        .filter(F.coalesce("count", F.lit(0)) < DECON_MIN_SHARED)
        .drop("count")
    )

    # 6. train/val split + composite stratum
    d6 = stage_boundary(
        hash_split(d5, SPLIT_FRAC).withColumn(
            "strat", F.concat_ws(":", "split", "lang")
        )
    )

    # 7. per-(split, lang) token budget
    s7 = budget_sample(
        d6, BUDGET, stratum_col="strat", weight=F.size("tokens").cast("long")
    ).withColumnRenamed("w", "tok_w").withColumnRenamed("cum", "cum_budget")
    s7 = stage_boundary(s7)

    # 8. weighted source interleave (explicit dyadic weights)
    i8 = weighted_interleave(s7, ILV_WEIGHTS)
    i8 = stage_boundary(
        i8.withColumnRenamed("rank_in_stratum", "ilv_rank")
        .withColumnRenamed("pos", "ilv_pos")
        .drop("w", "__key")
    )

    # 9. sequence-pack map per (split, lang)
    p9 = pack_sequences(
        i8, SEQ_LEN, stratum_col="strat", weight=F.col("tok_w")
    ).drop("w")

    # 10. deterministic epoch-1 order over the product
    e10 = epoch_order(p9, EPOCH, id_cols=("doc_id",))

    return e10.select(
        "doc_id",
        "lang",
        "source",
        "split",
        F.col("tok_w").alias("n_tok_final"),
        "tokens_md5",
        F.col("cum_budget").cast("long").alias("cum"),
        F.col("cum_before").cast("long").alias("cum_before"),
        F.col("chunk_first").cast("long").alias("chunk_first"),
        F.col("chunk_last").cast("long").alias("chunk_last"),
        F.col("offset").cast("long").alias("offset"),
        F.col("ilv_rank").cast("long").alias("ilv_rank"),
        "ilv_pos",
        F.col("step").cast("long").alias("step"),
    )


def q_corpus_product(spark: SparkSession, sf_dir: str) -> DataFrame:
    return corpus_product(spark, sf_dir)


def _sql_corpus_product() -> str:
    span_fold = sql_kgram_fold(SPAN_K)
    dec_fold = sql_kgram_fold(DECON_K)
    ilv_cases = " ".join(
        f"WHEN source = '{s}' THEN CAST({w!r} AS DOUBLE)"
        for s, w in ILV_WEIGHTS.items()
    )
    return f"""WITH {sql_requests_cte()},
{sql_quality_gate_ctes(**_GATE_PARAMS)},
meta AS (SELECT CAST(doc_id AS VARCHAR) AS doc_id, lang FROM documents),
g0 AS (
  SELECT r.doc_id, r.doc_num, r.source, m.lang, r.tokens
  FROM req r
  JOIN meta m USING (doc_id)
  JOIN gate ON gate.doc_id = r.doc_id AND gate.reasons = 0
),
gpos AS (
  SELECT doc_id,
         unnest(range(0, len(tokens) - {SPAN_K} + 1)) AS pos,
         unnest(list_transform(range(0, len(tokens) - {SPAN_K} + 1),
                               s -> {span_fold})) AS g
  FROM g0
),
gcnt AS (
  SELECT g FROM (SELECT g, count(*) AS c FROM gpos GROUP BY 1)
  WHERE c >= {SPAN_MIN_COUNT}
),
marked AS (SELECT doc_id, pos FROM gpos JOIN gcnt USING (g)),
runs AS (
  SELECT doc_id, pos,
         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS rid
  FROM marked
),
spans AS (
  SELECT doc_id, CAST(min(pos) AS BIGINT) AS s0,
         CAST(max(pos) - min(pos) + {SPAN_K} AS BIGINT) AS sl
  FROM runs GROUP BY doc_id, rid
),
tokpos AS (
  SELECT doc_id, unnest(tokens) AS t, unnest(range(len(tokens))) AS p
  FROM g0
),
keptp AS (
  SELECT tp.doc_id, tp.t, tp.p FROM tokpos tp
  WHERE NOT EXISTS (
    SELECT 1 FROM spans s
    WHERE s.doc_id = tp.doc_id AND tp.p >= s.s0 AND tp.p < s.s0 + s.sl
  )
),
edited AS (SELECT doc_id, list(t ORDER BY p) AS tokens FROM keptp GROUP BY doc_id),
e2 AS (
  SELECT e.doc_id, g0.doc_num, g0.source, g0.lang, e.tokens,
         md5(coalesce(array_to_string(e.tokens, ','), '')) AS tokens_md5
  FROM edited e JOIN g0 USING (doc_id)
),
ex AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY tokens_md5 ORDER BY doc_num) AS rk
    FROM e2
  ) WHERE rk = 1
),
shx AS (SELECT *, {sql_simhash_expr("tokens")} AS sh16 FROM ex),
nd AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY sh16 ORDER BY doc_num) AS rk2
    FROM shx
  ) WHERE rk2 = 1
),
evg AS (
  SELECT DISTINCT g FROM (
    SELECT unnest(list_transform(range(0, len(tokens) - {DECON_K} + 1),
                                 s -> {dec_fold})) AS g
    FROM req WHERE doc_num % {DECON_MOD} = 0
  )
),
trg AS (
  SELECT DISTINCT doc_id, g FROM (
    SELECT doc_id,
           unnest(list_transform(range(0, len(tokens) - {DECON_K} + 1),
                                 s -> {dec_fold})) AS g
    FROM nd
  )
),
shared AS (SELECT doc_id, count(*) AS sc FROM trg JOIN evg USING (g) GROUP BY doc_id),
dc AS (
  SELECT nd.* FROM nd LEFT JOIN shared USING (doc_id)
  WHERE coalesce(shared.sc, 0) < {DECON_MIN_SHARED}
),
spl AS (SELECT *, {sql_hash_split(SPLIT_FRAC)} AS split FROM dc),
st AS (
  SELECT *, split || ':' || lang AS strat,
         CAST(len(tokens) AS BIGINT) AS tok_w,
         md5(CAST(doc_id AS VARCHAR)) AS k
  FROM spl
),
bs AS (
  SELECT * FROM (
    SELECT *, CAST(sum(tok_w) OVER (PARTITION BY strat ORDER BY k, doc_id
                                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
    FROM st
  ) WHERE cum - tok_w < {BUDGET}
),
ilv AS (
  SELECT *,
         CAST(row_number() OVER (PARTITION BY source ORDER BY k, doc_id)
              AS BIGINT) AS ilv_rank,
         CASE {ilv_cases} END AS mw
  FROM bs
),
i2 AS (
  SELECT *, CAST(ilv_rank AS DOUBLE) / mw AS ilv_pos
  FROM ilv WHERE mw IS NOT NULL
),
pk AS (
  SELECT *,
         CAST(coalesce(sum(tok_w) OVER (PARTITION BY strat ORDER BY k, doc_id
                                        ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND 1 PRECEDING), 0) AS BIGINT)
           AS cum_before
  FROM i2
),
pk2 AS (
  SELECT *,
         CAST(floor(cum_before / {SEQ_LEN}) AS BIGINT) AS chunk_first,
         CAST(floor((cum_before + tok_w - 1) / {SEQ_LEN}) AS BIGINT) AS chunk_last,
         CAST(cum_before % {SEQ_LEN} AS BIGINT) AS "offset"
  FROM pk
),
ep AS (
  SELECT *, md5('{EPOCH_SEED}:{EPOCH}:' || CAST(doc_id AS VARCHAR)) AS ek
  FROM pk2
)
SELECT doc_id, lang, source, split,
       tok_w AS n_tok_final, tokens_md5,
       cum, cum_before, chunk_first, chunk_last, "offset",
       ilv_rank, ilv_pos,
       CAST(row_number() OVER (ORDER BY ek, doc_id) - 1 AS BIGINT) AS step
FROM ep"""


PRODUCT_QUERIES = {
    "corpus_product": (q_corpus_product, _sql_corpus_product()),
}
