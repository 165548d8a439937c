import atexit
import os
import shutil
import sys
import tempfile
sys.path.insert(0, '/root/repo')
from tokforge.engine.session import build_spark
from tokforge.engine.config import EngineConfig
from tokforge.engine.transform_arrow import transform_requests_arrow
from tokforge.sources.requests import requests_df
import pyspark.sql.functions as F

spark = build_spark(master="local[8]"); spark.sparkContext.setLogLevel("ERROR")
SF = "/root/testdata/sf0.001"

def fmt(df):
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")

sections = []

# The request table as production meets it, a parquet scan (requests_df
# synthesizes n_tok/tokens in a mapInArrow pass of its own); the fixed
# directory name keeps the regenerated snapshot stable.
req_dir = os.path.join(tempfile.gettempdir(), "tokforge_plans_requests")
atexit.register(shutil.rmtree, req_dir, ignore_errors=True)
requests_df(spark, SF, "resize:fit:64/format:int16").write.mode("overwrite").parquet(req_dir)
req = spark.read.parquet(req_dir)
out = transform_requests_arrow(req, EngineConfig(), verify=False).select("doc_id", "n_out", "size_bytes")
sections.append(("Flagship transform path (scan -> one mapInArrow -> project)",
"""The hot path, over a parquet request table.  What to check: ONE
`MapInArrow` node, no `Exchange` anywhere, whole-stage codegen around the
column algebra.""", fmt(out)))

from tokforge.pipeline.similarity import q_knn_bruteforce, q_ivf_search, q_embed_near_dup
sections.append(("knn_bruteforce (collected queries, one scoring pass, two-phase top-k)",
"""What to check: no join at all — the tiny query set is collected
(capped) and closed over by ONE `MapInArrow` that scores every corpus
batch with the numpy cosine fold and emits only its local top-k
candidates; the only exchange below it is the round-robin spread of the
scan.  The rank is TWO `Window` stages — the first partitioned by
(qid, SPARK_PARTITION_ID()) = local top-k, the second over the bounded
survivors — plus Spark's `WindowGroupLimit` pushdown before each
exchange.  No single-reducer rank over the corpus.""", fmt(q_knn_bruteforce(spark, SF))))

sections.append(("ann_ivf_search (cell-pruned probe; rotated out r7 — kept for the shape)",
"""What to check: the corpus takes its cell in one `MapInArrow` over the
scan (cosine to each collected centroid) plus a JVM argmax — no shuffle,
no per-vector window; the probes and their cells are a collected closure
(no probe subtree, no join), and knn's scoring `MapInArrow` scores each
cell's rows against the probes naming it, then the same two-phase
top-k.""", fmt(q_ivf_search(spark, SF))))

from tokforge.pipeline.similarity import q_ivf_search_trained
sections.append(("ivf_search_trained (gated r7: exact-trained codebook, nprobe=2)",
"""What to check: SAME scale contract as the untrained probe — the
trained integer-sum centroids are closed over by the assignment
`MapInArrow` over the quantized scan (training itself ran as one pass +
one map-side-combinable agg per Lloyd round, constant lineage depth),
each query's 2 probe cells travel with the collected probe set (no
join, no nested loop), then knn's scoring `MapInArrow` and the
two-phase top-k.""",
fmt(q_ivf_search_trained(spark, SF))))

sections.append(("embed_near_dup (multi-probe sign-LSH blocking)",
"""What to check: the join is a hash EQUI-join on bucket == probe (a
nested-loop/cartesian here would mean the blocking key fell out), the
B side explodes to bits+1 probe rows, one `MapInArrow` scores the
candidate pairs with the cosine fold, and the threshold filter runs
before the distinct.""", fmt(q_embed_near_dup(spark, SF))))

from tokforge.engine.queries import q_admission_policy
sections.append(("admission_policy (bearer + MIME + skip_processing)",
"""What to check: the constant bearer comparison is folded by Catalyst
into a JVM `Filter` on doc_id below the transform's `MapInArrow`, so
rejected rows never reach the transform (the predicate cannot cross
requests_df's synthesis `MapInArrow`); admission adds no `Exchange` and
no Python crossing of its own: the transform's is the only `MapInArrow`
above the synthesis.""",
fmt(q_admission_policy(spark, SF))))

from tokforge.pipeline.dedup import q_ngram_jaccard
sections.append(("dedup_ngram_jaccard (verify-after-LSH)",
"""What to check: the Jaccard stage joins the LSH candidate pairs to the
per-doc token sets by doc id — two hash joins, cost O(candidates); the
signature exchange under the LSH self-join is REUSED (ReusedExchange),
never recomputed.""", fmt(q_ngram_jaccard(spark, SF))))

from tokforge.pipeline.pack import q_pack_chunks
sections.append(("pack_chunks (materialized training sequences)",
"""What to check: the CORPUS-side wide ops are exactly two — the bucket
window's hash exchange (local running sum per (lang, md5-prefix bucket))
and the final group on (lang, chunk_id) that reassembles each
fixed-length sequence from the doc slices landing in it.  Every other
`Exchange` in the tree operates on the aggregated per-(lang, bucket)
offsets table (16^prefix rows per stratum), which re-joins as a
`BroadcastExchange`; the doc->chunk explode and the `slice` of each
doc's landing range are narrow.""",
fmt(q_pack_chunks(spark, SF))))

from tokforge.pipeline.assembly import q_gate_budget_sample
sections.append(("budget_sample (token-budget stratified prefix)",
"""What to check: the running-total decomposition keeps every sort LOCAL — a
running sum within (stratum, md5-prefix bucket) plus a broadcast offsets
join; no global window over a stratum, no single-task stage; full
buckets are pruned before any per-row work.""",
fmt(q_gate_budget_sample(spark, SF))))

from tokforge.pipeline.epoch import epoch_order
from tokforge.sources.requests import load_documents
sections.append(("epoch_order (per-epoch permutation + step index)",
"""What to check: the step index is a LOCAL running count within each
md5-prefix bucket plus a `BroadcastHashJoin` against the 256-row offsets
table — the only wide operation over the corpus is the bucket window's
hash exchange; the offsets aggregation is map-side combinable.  Resume
(`step >= N`) composes as a plain Filter on top.""",
fmt(epoch_order(load_documents(spark, SF).select("doc_id", "source"),
                epoch=0, id_cols=("doc_id",)))))

from tokforge.streaming.patterns import detect_pattern_batch, detect_absence_batch
ev = req.select(
    "source", "doc_id",
    (F.element_at("tokens", 1) % 3).cast("string").alias("event"), "ts")
sections.append(("CEP batch faces (pattern leads / absence running-min)",
"""What to check (pattern): ALL pattern positions collapse into ONE
`Window` node (L-1 leads share the (source | ts,doc_id) spec) after ONE
hash exchange on the key — adding pattern length adds expressions, not
stages.  (absence): the 'no B within T' check is the same single-window
shape over the DESCENDING order (running min of B timestamps), NOT a
range join — no O(nA*nB) pair expansion at any key.""",
fmt(detect_pattern_batch(ev, ["0", "*", "2"], 600))
+ "\n\n--- absence ---\n\n"
+ fmt(detect_absence_batch(ev, "0", "2", 600))))

from tokforge.pipeline.bpe import pair_counts
sections.append(("BPE pair-count argmax (one training round's reduction)",
"""What to check: `MapInArrow` feeds a PARTIAL `HashAggregate` before
the pair-keyed `Exchange` (the Arrow pass already pre-aggregated per
batch, the JVM adds map-side combine on top — shuffle volume is the
pair vocabulary, not corpus tokens), and the argmax is
`TakeOrderedAndProject` with limit 1 — no full sort anywhere.""",
fmt(pair_counts(req).orderBy(F.desc("cnt"), F.asc("tok_a"), F.asc("tok_b")).limit(1))))

from tokforge.pipeline.stats import length_quantiles
sections.append(("length_quantiles (exact, corpus never sorted)",
"""What to check: the only corpus-wide operation is the two-phase
count aggregate on (source, n_tok); the `Sort`/`Window` pair runs on
the DISTINCT-VALUE table after it, and the quantile fractions arrive
via `BroadcastNestedLoopJoin` of a literal 3-row side.  Volume
evidence in BENCH.md: same ~2.2 s wall at 49k and 31.5M tokens.""",
fmt(length_quantiles(req))))

from tokforge.pipeline.corrupt import span_corrupt
sections.append(("span_corrupt (objective construction is map-only)",
"""What to check: the whole op is Scan -> ONE `MapInArrow` — zero
`Exchange`, zero aggregation.  The mask derives from integer
hash math over (doc_id, block, seed), so task retry/speculation
regenerates identical rows with no stored state.""",
fmt(span_corrupt(req))))

with open('/root/repo/docs/PLANS.md', 'w') as f:
    f.write("""# Physical plans of the headline queries (evidence, not intention)

Captured from `.explain("formatted")` on sf0.001 (plan SHAPE is
data-size independent; AQE may re-plan exchanges at runtime).  Each
section says what property the plan must exhibit — the same properties
tests/test_plan_quality.py asserts on every run.  Regenerate with
`python tools/gen_plans.py`.

""")
    for title, why, plan in sections:
        f.write(f"## {title}\n\n{why}\n\n```\n{plan.strip()}\n```\n\n")
spark.stop()
print("wrote docs/PLANS.md")
