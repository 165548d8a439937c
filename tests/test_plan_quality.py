"""Physical-plan assertions: the properties that make the engine survive a
100x scale-up (column pruning, predicate pushdown, broadcast joins,
shuffle-free transform path) must be visible in .explain output — not
assumed."""

from __future__ import annotations

import pyspark.sql.functions as F

from tests.conftest import SF_MEDIUM, SF_SMALL
from tokforge.engine.config import EngineConfig
from tokforge.engine.transform_arrow import transform_requests_arrow
from tokforge.sources.requests import load_events, requests_df

CFG = EngineConfig()


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def optimized_of(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_request_scan_prunes_columns(spark):
    """Request synthesis must read only doc_id+source from parquet."""
    df = requests_df(spark, SF_SMALL, "crop:4:0/format:png")
    plan = plan_of(df)
    scan = [line for line in plan.splitlines() if "FileScan" in line][0]
    assert "ReadSchema" in scan
    assert "text" not in scan and "n_chars" not in scan and "lang" not in scan


def test_transform_path_is_shuffle_free(spark):
    """scan -> mapInArrow -> project: no Exchange anywhere (the hot path is
    embarrassingly parallel end to end)."""
    req = requests_df(spark, SF_SMALL, "crop:4:0/format:png")
    out = transform_requests_arrow(req, CFG, verify=False)
    plan = plan_of(out.select("doc_id", "n_out"))
    assert "Exchange" not in plan
    assert "MapInArrow" in plan or "ArrowEvalPython" in plan


def test_event_filter_pushdown(spark):
    ev = load_events(spark, SF_SMALL).filter(F.col("event_type") == "click")
    scan = [line for line in plan_of(ev).splitlines() if "FileScan" in line][0]
    assert "PushedFilters" in scan and "event_type" in scan


def test_knn_scores_in_one_arrow_pass(spark):
    """Round-8 shape: the query set is a collected dim table closed over
    by ONE mapInArrow scoring pass; the corpus is never cross-joined row
    by row (no BroadcastNestedLoopJoin) and never windowed whole — the
    local prefilter bounds the Arrow stage's output at ~k per batch."""
    from tokforge.pipeline.similarity import q_knn_bruteforce

    plan = plan_of(q_knn_bruteforce(spark, SF_SMALL))
    assert "MapInArrow" in plan or "ArrowEvalPython" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_lsh_join_reuses_signature_exchange(spark):
    """The LSH self-join must materialize the signature ONCE: Spark's
    ReuseExchange does not fire across MapInArrow nodes (they don't
    canonicalize equal), so the sig table is persisted and both join sides
    must read the in-memory relation — exactly one Arrow signature pass
    (and one source scan) in the whole plan."""
    from tokforge.pipeline.dedup import q_lsh_pairs

    plan = plan_of(q_lsh_pairs(spark, SF_SMALL))
    # both self-join sides must read the persisted signatures (the
    # MapInArrow text appearing under InMemoryRelation is just the cached
    # plan's lineage dump, not a second execution)
    assert plan.count("InMemoryTableScan") >= 2 or "ReusedExchange" in plan, plan


def test_lsh_sig_cache_bounded_and_clearable(spark):
    """Repeated LSH invocations must NOT leak one persisted table per call
    (round-3 verdict finding): the signature table is memoized per
    (application, sf_dir, replicas) and clear_sig_cache() releases every
    block it created.  The assertion is DELTA-based (no new persistent
    RDDs vs the test's start), so unrelated session state left cached by
    other suites cannot pollute it while a per-call leak here still
    trips it."""
    from tokforge.pipeline.dedup import _SIG_CACHE, clear_sig_cache, q_lsh_pairs, q_ngram_jaccard

    def persistent_ids():
        # JavaSparkContext's view is a java.util.Map -> iterable keySet
        return {int(k) for k in spark.sparkContext._jsc.getPersistentRDDs().keySet()}

    before = persistent_ids()
    clear_sig_cache()
    q_lsh_pairs(spark, SF_SMALL).count()
    q_lsh_pairs(spark, SF_SMALL).count()
    q_ngram_jaccard(spark, SF_SMALL).count()  # calls q_lsh_pairs internally
    keys = [k for k in _SIG_CACHE if k[1] == SF_SMALL]
    assert len(keys) == 1, f"one cached sig table per input expected: {keys}"
    clear_sig_cache()
    after = persistent_ids()
    assert after <= before, f"LSH leaked persisted blocks: {after - before}"
    assert not _SIG_CACHE


def test_knn_topk_is_two_phase(spark):
    """No single reducer may see the whole scored corpus: the rank must be
    a local per-partition top-k (window keyed by (qid, partition id))
    followed by a final rank over the bounded survivors."""
    from tokforge.pipeline.similarity import q_knn_bruteforce

    plan = plan_of(q_knn_bruteforce(spark, SF_SMALL))
    assert plan.count("Window") >= 2, "expected local + final window stages"
    assert "SPARK_PARTITION_ID" in plan.upper() or "_pid" in plan


def _assert_collected_probes_two_passes(plan: str) -> None:
    """The IVF search contract: the probe side is a small collected
    closure, so the plan reads the corpus once and nothing else (no probe
    subtree, no BroadcastExchange needed); the corpus goes through one
    MapInArrow for its cell and one for its scores; no pair scan."""
    assert plan.count("FileScan") == 1, plan
    assert plan.count("MapInArrow") == 2, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_ivf_search_broadcasts_probes_no_corpus_window(spark):
    """The IVF probe ships the (collected, capped) query side to every
    scoring task; cell assignment is one scoring pass over the scan (no
    per-vector window or shuffle over the corpus)."""
    from tokforge.pipeline.similarity import q_ivf_search

    _assert_collected_probes_two_passes(plan_of(q_ivf_search(spark, SF_SMALL)))


def test_jaccard_verifies_lsh_candidates(spark):
    """The Jaccard stage is the verify-after-blocking step: it must score
    exactly the LSH candidate pairs, never a bucketed all-pairs join."""
    from tokforge.pipeline.dedup import q_lsh_pairs, q_ngram_jaccard

    n_cand = q_lsh_pairs(spark, SF_SMALL).count()
    n_jacc = q_ngram_jaccard(spark, SF_SMALL).count()
    assert n_jacc == n_cand


def test_near_dup_bucket_space_scales(spark):
    """The near-dup blocking key space must grow with the corpus (round-1
    scale-killer: 8 static buckets -> O(n^2/8) pairs).  With 12 sign bits
    the observed distinct-bucket count must exceed any tiny static cap."""
    from tokforge.pipeline.similarity import NEAR_DUP_BITS, _bucket_spark
    from tokforge.sources.requests import load_embeddings

    assert NEAR_DUP_BITS >= 12
    emb = load_embeddings(spark, SF_SMALL)
    n_buckets = (
        emb.select(_bucket_spark(F.col("embedding")).alias("b"))
        .distinct()
        .count()
    )
    assert n_buckets > 32


def test_candidate_joins_are_equi_joins(spark):
    """The blocked similarity/dedup joins must plan as hash/sort-merge
    equi-joins on the blocking key — a BroadcastNestedLoopJoin or
    CartesianProduct means the blocking predicate fell out of the join
    condition and the shape is all-pairs again."""
    from tokforge.pipeline.dedup import q_ngram_jaccard
    from tokforge.pipeline.similarity import q_embed_near_dup, q_ivf_search

    for q in (q_embed_near_dup, q_ngram_jaccard, q_ivf_search):
        plan = plan_of(q(spark, SF_SMALL))
        assert "CartesianProduct" not in plan, q.__name__
        assert "BroadcastNestedLoopJoin" not in plan, q.__name__


def test_whole_stage_codegen_on_relational_path(spark):
    """The relational side (filters/aggregations) stays in codegen spans;
    the map-only Arrow path itself is a single Python node with nothing
    left to fuse."""
    ev = (
        load_events(spark, SF_SMALL)
        .filter(F.col("value") > 10)
        .groupBy("event_type")
        .agg(F.sum("value"))
    )
    ev.collect()  # AQE finalizes (and codegens) the plan on execution
    formatted = ev._sc._jvm.PythonSQLUtils.explainString(
        ev._jdf.queryExecution(), "formatted"
    )
    # '*' marks operators inside WholeStageCodegen spans
    assert "* HashAggregate" in formatted and "* Filter" in formatted


def test_lsh_candidate_density_is_scale_free(spark):
    """Candidate-pair DENSITY (pairs / C(n,2)) must stay ~constant as the
    corpus scales — the J^r banding model (dedup.py: r=4, 2 bands).  A
    regression of the banding knobs (e.g. r=4 -> r=2, or a shrunk bucket
    space) multiplies density by orders of magnitude and shows up here as
    super-quadratic pair growth.  Measured on this fixture: 7.7e-4 at
    x1 (500 docs), 1.24e-3 at x16 (8000 docs)."""
    from tokforge.pipeline.dedup import q_lsh_pairs

    dens = {}
    for reps in (1, 16):
        n = 500 * reps
        pairs = q_lsh_pairs(spark, SF_MEDIUM, replicas=reps).count()
        dens[reps] = pairs / (n * (n - 1) / 2)
    # absolute bound: candidates are a tiny fraction of all pairs
    assert dens[1] < 3e-3 and dens[16] < 3e-3, dens
    # scale-free bound: 16x the corpus may not even triple the density
    # (a J^2-style regression multiplies it ~30-100x on this fixture)
    assert dens[16] <= 3 * dens[1], dens


def test_admission_policy_filter_is_jvm_side_and_shuffle_free(spark):
    """The bearer gate must collapse to a JVM-side filter (Catalyst folds
    the constant bearer comparison into a doc_id predicate below the
    transform's MapInArrow; it cannot cross the request synthesis pass)
    and the transform adds one MapInArrow pass — admission never pays a
    shuffle or a Python crossing of its own."""
    from tokforge.engine.queries import _POLICY_CHAIN, q_admission_policy

    plan = plan_of(q_admission_policy(spark, SF_SMALL))
    req = plan_of(requests_df(spark, SF_SMALL, _POLICY_CHAIN))
    assert "Exchange" not in plan
    assert plan.count("MapInArrow") == req.count("MapInArrow") + 1, plan
    assert "Filter" in plan[plan.index("MapInArrow") :], plan
    assert "PushedFilters" in plan or "DataFilters" in plan


def test_cep_batch_faces_single_window_single_exchange(spark):
    """Pattern face: every lead shares one window spec, so Catalyst emits
    ONE Window node after ONE hash exchange on the key — pattern length
    adds expressions, not stages.  Absence face: same single-window shape
    over the descending order (running min), NOT a range join — no
    nested-loop / cartesian pair expansion."""
    from tokforge.streaming.patterns import (
        detect_absence_batch,
        detect_pattern_batch,
    )

    ev = requests_df(spark, SF_SMALL, "crop:4:0/format:png").select(
        "source",
        "doc_id",
        (F.element_at("tokens", 1) % 3).cast("string").alias("event"),
        "ts",
    )

    for df in (
        detect_pattern_batch(ev, ["0", "*", "2", "1"], 600),
        detect_absence_batch(ev, "0", "2", 600),
    ):
        plan = plan_of(df)
        assert plan.count("Window") == 1, plan
        assert plan.count("Exchange") <= 2, plan  # hash + AQE read at most
        assert "NestedLoop" not in plan and "Cartesian" not in plan, plan


def test_bpe_pair_count_argmax_shape(spark):
    """The training round's reduction must show (a) a PARTIAL aggregate
    between MapInArrow and the pair-keyed Exchange (batch-local numpy
    pre-agg + JVM map-side combine -> shuffle bounded by the pair
    vocabulary) and (b) TakeOrderedAndProject for the argmax — never a
    global Sort."""
    from tokforge.pipeline.bpe import pair_counts

    req = requests_df(spark, SF_SMALL, "crop:4:0/format:png")
    top1 = (
        pair_counts(req)
        .orderBy(F.desc("cnt"), F.asc("tok_a"), F.asc("tok_b"))
        .limit(1)
    )
    plan = plan_of(top1)
    assert "TakeOrderedAndProject" in plan, plan
    assert "MapInArrow" in plan, plan
    # exactly one shuffle (the pair-keyed one); partial agg sits below it
    assert plan.count("Exchange") == 1, plan
    before_exchange = plan[: plan.index("Exchange")]
    assert "HashAggregate" in before_exchange, plan
    assert "Sort " not in plan, plan


def test_span_corrupt_arrow_is_map_only(spark):
    """Objective construction is a narrow pass: no Exchange, no
    aggregation, one MapInArrow on top of its input's."""
    from tokforge.pipeline.corrupt import span_corrupt

    req = requests_df(spark, SF_SMALL, "crop:4:0/format:png")
    plan = plan_of(span_corrupt(req))
    assert "Exchange" not in plan, plan
    assert "Aggregate" not in plan, plan
    assert plan.count("MapInArrow") == plan_of(req).count("MapInArrow") + 1, plan


def test_length_quantiles_window_runs_on_aggregate(spark):
    """The corpus-wide work is ONE two-phase count aggregate; the
    Sort/Window pair operates on the distinct-(source, n_tok) table
    AFTER it, and the quantile fractions broadcast."""
    from tokforge.pipeline.stats import length_quantiles

    req = requests_df(spark, SF_SMALL, "crop:4:0/format:png")
    plan = plan_of(length_quantiles(req))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, plan
    # exactly ONE Sort, and its input subtree (plan prints root-first, so
    # the child appears AFTER it) contains the count aggregate — the Sort
    # orders the aggregated distinct-value table, never the corpus
    assert plan.count("Sort ") == 1, plan
    assert "HashAggregate" in plan[plan.index("Sort ") :], plan
    # two hash shuffles total: (source, n_tok) for the count, (source)
    # for the window — nothing else moves corpus-derived rows
    assert plan.count("Exchange hashpartitioning") == 2, plan


def test_repetition_stats_is_map_only(spark):
    """The Gopher-style intra-doc repetition filter is one narrow Arrow
    pass: no Exchange, no aggregation, per-row distinct counting stays
    inside the batch."""
    from tokforge.pipeline.substr import repetition_stats

    req = requests_df(spark, SF_SMALL, "crop:4:0/format:png")
    plan = plan_of(repetition_stats(req, k=3))
    assert "Exchange" not in plan, plan
    assert "Aggregate" not in plan, plan
    assert plan.count("MapInArrow") == plan_of(req).count("MapInArrow") + 1, plan


def test_hash_split_is_narrow_projection(spark):
    """The train/val split is a pure projection over the scan: zero
    Exchange, zero aggregation, no Python."""
    from tokforge.pipeline.sample import hash_split
    from tokforge.sources.requests import load_documents

    plan = plan_of(hash_split(load_documents(spark, SF_SMALL), 0.25))
    assert "Exchange" not in plan, plan
    assert "Aggregate" not in plan, plan
    assert "Python" not in plan and "MapInArrow" not in plan, plan


def test_apply_bpe_is_map_only_both_paths(spark):
    """Encoding with a merge table is one narrow Arrow pass — on the
    vectorized causal path AND the exact non-causal path (the r7
    fallback changes the per-batch kernel, never the distributed shape)."""
    from tokforge.pipeline.bpe import apply_bpe

    req = requests_df(spark, SF_SMALL, "bpe").select("doc_id", "tokens")
    merges = [{"rank": 0, "tok_a": 1, "tok_b": 2, "new_id": 60001}]
    base = plan_of(req).count("MapInArrow")
    for exact in (False, True):
        plan = plan_of(apply_bpe(req, merges, exact=exact))
        assert "Exchange" not in plan, (exact, plan)
        assert plan.count("MapInArrow") == base + 1, (exact, plan)


def test_ivf_trained_search_broadcasts_probes_no_corpus_window(spark):
    """The trained-IVF search keeps the IVF scale contract: each query's
    nprobe cells travel with the collected probe set (never a nested-loop
    pair scan), and the corpus takes its cell in one scoring pass over the
    scan before knn's scoring pass."""
    from tokforge.pipeline.similarity import q_ivf_search_trained

    _assert_collected_probes_two_passes(plan_of(q_ivf_search_trained(spark, SF_SMALL)))


def test_similarity_plans_carry_no_interpreted_cosine(spark):
    """Every similarity score comes from the numpy fold: no similarity
    query's analyzed plan holds an interpreted array fold, and
    ann_ivf_assign is one scoring pass plus ONE aggregate keyed by cell
    (no per-vector shuffle)."""
    from tokforge.pipeline.similarity import (
        SIMILARITY_QUERIES,
        SIMILARITY_QUERIES_EXTRA,
        q_ivf_assign,
    )

    for name, (fn, _) in {**SIMILARITY_QUERIES, **SIMILARITY_QUERIES_EXTRA}.items():
        analyzed = fn(spark, SF_SMALL)._jdf.queryExecution().analyzed().toString()
        assert "zip_with" not in analyzed and "aggregate(" not in analyzed, name

    df = q_ivf_assign(spark, SF_SMALL)
    aggs = [
        line.strip(" :+-")
        for line in optimized_of(df).splitlines()
        if line.strip(" :+-").startswith("Aggregate")
    ]
    assert len(aggs) == 1 and aggs[0].startswith("Aggregate [cell#"), aggs
    plan = plan_of(df)
    assert plan.count("Exchange") == 1 and "hashpartitioning(cell#" in plan, plan


def test_lm_score_joins_are_hash_equi_no_corpus_sort(spark):
    """The LM scorer's corpus-wide work is: one pair explode, two count
    aggregates, two hash equi-joins on (a, b)/(a), one integer groupBy.
    No nested loop, no cartesian, and no Sort over corpus-derived rows."""
    from tokforge.pipeline.lm import lm_score

    req = requests_df(spark, SF_SMALL, "lm")
    plan = plan_of(lm_score(req))
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "SortMergeJoin" not in plan or "Sort " in plan, plan  # SMJ implies its sorts
    # the scorer itself never orders anything; any Sort present belongs
    # to a sort-merge join strategy choice, not to a global window
    assert "Window" not in plan, plan
