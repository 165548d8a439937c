import sys
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

req = requests_df(spark, SF, "resize:fit:64/format:int16")
out = transform_requests_arrow(req, EngineConfig(), verify=False).select("doc_id", "n_out", "size_bytes")
sections.append(("Flagship transform path (scan -> one mapInArrow -> project)",
"""The hot path.  What to check: ONE `MapInArrow` node, no `Exchange`
anywhere, `ReadSchema` restricted to doc_id+source (request synthesis is
column-pruned), whole-stage codegen around the column algebra.""", fmt(out)))

from tokforge.pipeline.similarity import q_knn_bruteforce, q_ivf_search, q_embed_near_dup
sections.append(("knn_bruteforce (broadcast queries, two-phase top-k)",
"""What to check: the scoring join IS a `BroadcastNestedLoopJoin Cross`
by design — brute-force knn scores every (corpus row x query) pair, with
the tiny query set on the broadcast side, so the corpus never shuffles.
The rank is TWO `Window` stages — the first partitioned by
(qid, SPARK_PARTITION_ID()) = local top-k, the second over the bounded
survivors — plus Spark's `WindowGroupLimit` pushdown before each
exchange.  No single-reducer rank over the corpus.""", fmt(q_knn_bruteforce(spark, SF))))

sections.append(("ann_ivf_search (cell-pruned probe; rotated out r7 — kept for the shape)",
"""What to check: cell assignment is inline column algebra over literal
centroid arrays (no shuffle, no per-vector window), probes broadcast,
the only exchange keys on `cell`, then the same two-phase top-k.""", fmt(q_ivf_search(spark, SF))))

from tokforge.pipeline.similarity import q_ivf_search_trained
sections.append(("ivf_search_trained (gated r7: exact-trained codebook, nprobe=2)",
"""What to check: SAME scale contract as the untrained probe — the
trained integer-sum centroids arrive as literals (training itself ran
as one scan + one map-side-combinable agg per Lloyd round, constant
lineage depth), corpus assignment is inline column algebra, the
exploded 2-cell probes broadcast into a hash equi-join on `cell`
(no nested loop), then the two-phase top-k.""",
fmt(q_ivf_search_trained(spark, SF))))

sections.append(("embed_near_dup (multi-probe sign-LSH blocking)",
"""What to check: the join is a hash EQUI-join on bucket == probe (a
nested-loop/cartesian here would mean the blocking key fell out), the
B side explodes to bits+1 probe rows, distinct before the threshold
filter.""", fmt(q_embed_near_dup(spark, SF))))

from tokforge.engine.queries import q_admission_policy
sections.append(("admission_policy (bearer + MIME + skip_processing)",
"""What to check: the constant bearer comparison is folded by Catalyst
into a doc_id predicate that reaches the scan (`PushedFilters` /
`DataFilters`), so rejected rows never leave the parquet reader; the
whole composite is still ONE `MapInArrow` pass with zero `Exchange` —
admission adds no shuffle and no extra Python crossing.""",
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
ev = requests_df(spark, SF, "resize:fit:64/format:int16").select(
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

from tokforge.pipeline.corrupt import span_corrupt_arrow
sections.append(("span_corrupt_arrow (objective construction is map-only)",
"""What to check: the whole op is Scan -> Project -> ONE `MapInArrow`
— zero `Exchange`, zero aggregation.  The mask derives from integer
hash math over (doc_id, block, seed), so task retry/speculation
regenerates identical rows with no stored state.""",
fmt(span_corrupt_arrow(req))))

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
