"""The traced run: spans, per-layer metrics and the self-time table.

Every layer is reached from outside:
  * by timing calls into the layer's public functions (engine, signing,
    operators, plans, sink, pipeline);
  * by reading the streaming query's own ``recentProgress`` --
    ``durationMs`` per micro-batch and ``stateOperators``;
  * by sampling ``/proc`` (procstat.py).

A layer the workload's own passes do not reach is measured by a probe of
its own (a small hot-replay stream, one run of each corpus query), so
every per-layer metric is present, and measured, on every workload.
Spans stay in memory and are written with the run's detail JSON.
"""

from __future__ import annotations

import statistics
import time
from contextlib import contextmanager
from pathlib import Path

import numpy as np
import pyarrow.parquet as pq
import pyspark.sql.functions as F

# micro-batch phases in execution order, and the layer each belongs to
BATCH_PHASES = (
    ("latestOffset", "stream.offsets"),
    ("walCommit", "stream.wal"),
    ("getBatch", "stream.offsets"),
    ("queryPlanning", "stream.planning"),
    ("addBatch", "stream.add_batch"),
    ("commitOffsets", "stream.wal"),
)
ENGINE_COLS = (
    "doc_id", "source", "ts", "ops", "n_tok", "tokens", "orientation", "src_dtype",
)


def med(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, layer: str):
        rec = {"name": name, "layer": layer, "start": time.time(), "dur": 0.0,
               "parent": self._stack[-1] if self._stack else None}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["dur"] = time.perf_counter() - t0
            self._stack.pop()

    def add(self, name, layer, start, dur, parent) -> int:
        self.spans.append(
            {"name": name, "layer": layer, "start": start, "dur": dur, "parent": parent}
        )
        return len(self.spans) - 1

    def traced_pass(self, wl, tag: str):
        with self.span(f"{wl.name} pass {tag}", "driver") as rec:
            res = wl.one_pass(tag)
        parent = self.spans.index(rec)
        for p in res.progress:
            self.add_batch(p, parent)
        return res

    def add_batch(self, progress: dict, parent: int) -> None:
        """A child span per micro-batch, from its progress timestamp and
        durationMs, with one grandchild per phase laid out in order."""
        from datetime import datetime

        start = datetime.fromisoformat(progress["timestamp"].replace("Z", "+00:00")).timestamp()
        dms = progress["durationMs"]
        b = self.add(f"batch {progress['batchId']}", "stream.trigger", start,
                     dms.get("triggerExecution", 0) / 1000.0, parent)
        t = start
        for phase, layer in BATCH_PHASES:
            d = dms.get(phase, 0) / 1000.0
            self.add(phase, layer, t, d, b)
            t += d

    def self_times(self) -> dict[str, float]:
        """Per layer: span time not covered by child spans."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["dur"]
        out: dict[str, float] = {}
        for s, c in zip(self.spans, child):
            out[s["layer"]] = out.get(s["layer"], 0.0) + max(s["dur"] - c, 0.0)
        return dict(sorted(out.items(), key=lambda kv: -kv[1]))


# -- progress -> stream / state metrics ------------------------------------

def stream_metrics(drains: list, m: dict) -> None:
    """``drains``: PassResults of streaming passes (with progress)."""
    batches = [p for d in drains for p in d.progress]

    def per_batch(*phases):
        return med(sum(p["durationMs"].get(k, 0) for k in phases) for p in batches)

    m["stream.offsets_ms"] = (per_batch("latestOffset", "getBatch"), "ms")
    m["stream.planning_ms"] = (per_batch("queryPlanning"), "ms")
    m["stream.add_batch_ms"] = (per_batch("addBatch"), "ms")
    m["stream.wal_ms"] = (per_batch("walCommit", "commitOffsets"), "ms")
    phases = [k for k, _ in BATCH_PHASES]
    covered = sum(p["durationMs"].get(k, 0) for p in batches for k in phases) / 1000.0
    m["stream.coverage"] = (covered / sum(d.wall_s for d in drains), "ratio")

    def state(key):
        return [sum(op.get(key, 0) for op in p.get("stateOperators", [])) for p in batches]

    m["state.update_ms"] = (med(state("allUpdatesTimeMs")), "ms")
    m["state.commit_ms"] = (med(state("commitTimeMs")), "ms")
    m["state.size_bytes"] = (float(max(state("memoryUsedBytes"), default=0)), "bytes")
    # batches after the first: on a pure-HIT replay they must update nothing
    m["state.rows_updated"] = (med(state("numRowsUpdated")[1:]), "count")


def observed_hit_ratio(drains) -> float:
    hits = rows = 0
    for d in drains:
        for p in d.progress:
            obs = (p.get("observedMetrics") or {}).get("request_metrics") or {}
            hits += obs.get("cache_hits", 0)
            rows += obs.get("n_rows", 0)
    return hits / rows if rows else 0.0


# -- engine probes -----------------------------------------------------------

def _python_bytes(jdf) -> tuple[int, int]:
    """Sum Spark's Python-boundary SQL metrics over an executed plan."""
    sent = recv = 0
    todo = [jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            todo.append(node.plan())
            continue
        metrics = node.metrics()
        for key in ("pythonDataSent", "pythonDataReceived"):
            opt = metrics.get(key)
            if opt.isDefined():
                if key == "pythonDataSent":
                    sent += opt.get().value()
                else:
                    recv += opt.get().value()
        kids = node.children()
        todo.extend(kids.apply(i) for i in range(kids.size()))
    return sent, recv


def engine_probes(run, tracer, table: str, m: dict) -> None:
    """Outside-in decomposition of the Arrow transform over ``table``:
    scan floor (noop sink), identity mapInArrow (the JVM<->Python
    boundary), verify on vs off, and the boundary bytes."""
    from tokforge.engine.transform_arrow import transform_requests_arrow

    spark, cfg = run.spark, run.cfg
    src = spark.read.parquet(table)
    cols = src.select(*ENGINE_COLS).withColumn("ts_unix", F.unix_timestamp("ts"))

    def identity(batches):
        yield from batches

    boundary = cols.mapInArrow(identity, cols.schema)

    def timed(name, layer, fn, reps=2):
        out = []
        for _ in range(reps):
            with tracer.span(name, layer) as rec:
                fn()
            out.append(rec["dur"])
        return med(out)

    def noop(df):
        return lambda: df.write.format("noop").mode("overwrite").save()

    def transform(verify):
        df = transform_requests_arrow(src, cfg, verify=verify)
        return lambda: df.agg(F.count("*")).collect()

    m["engine.scan_s"] = (timed("scan -> noop", "engine.scan", noop(cols)), "s")
    m["engine.boundary_s"] = (timed("identity mapInArrow -> noop", "engine.boundary",
                                     noop(boundary)), "s")
    counted = boundary.agg(F.count("*"))
    counted.collect()
    sent, recv = _python_bytes(counted._jdf)
    m["engine.bytes_to_py"] = (float(sent), "bytes")
    m["engine.bytes_from_py"] = (float(recv), "bytes")
    on = timed("transform verify=True", "engine.transform", transform(True))
    off = timed("transform verify=False", "engine.transform", transform(False))
    m["signing.verify_s"] = (on - off, "s")
    m["engine.python_s"] = (on - m["engine.boundary_s"][0], "s")


# -- pure-Python layer probes ------------------------------------------------

def _sample_rows(table: str, n: int):
    """First ``n`` request rows of a parquet table, as one Arrow table."""
    files = sorted(Path(table).rglob("*.parquet"))
    parts, have = [], 0
    for f in files:
        t = pq.read_table(f, columns=["doc_id", "ops", "sig", "tokens", "orientation",
                                      "src_dtype"])
        parts.append(t)
        have += t.num_rows
        if have >= n:
            break
    import pyarrow as pa

    return pa.concat_tables(parts).slice(0, n)


def kernel_ms_per_10k(rows, chain: str, cfg, reps: int = 5) -> float:
    """``apply_plan_rect`` over the real (length, src_dtype) buckets of
    10k request rows, as transform_arrow forms them."""
    from tokforge.engine.transform import _plan_for
    from tokforge.operators.kernel_rect import apply_plan_rect

    toks = rows.column("tokens").combine_chunks()
    offsets = toks.offsets.to_numpy().astype(np.int64)
    values = toks.values.to_numpy()
    lengths = np.diff(offsets)
    sdt = np.asarray(rows.column("src_dtype").to_pylist(), dtype=object)
    ori = rows.column("orientation").to_numpy().astype(np.int64)
    plan = _plan_for(chain, cfg)
    buckets = []
    for length in np.unique(lengths):
        for dtype in np.unique(sdt):
            idx = np.nonzero((lengths == length) & (sdt == dtype))[0]
            if len(idx):
                mat = values[offsets[idx][:, None] + np.arange(length, dtype=np.int64)]
                buckets.append((mat, ori[idx], str(dtype)))
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        for mat, o, dtype in buckets:
            apply_plan_rect(mat, plan, orientations=o, src_dtype=dtype,
                            default_format=cfg.default_format)
        times.append(time.perf_counter() - t0)
    return med(times) * 1000.0 * 10_000 / rows.num_rows


def python_probes(run, tracer, table: str, m: dict) -> None:
    import pandas as pd

    from bench import FLAGSHIP_CHAIN, SIMPLE_CHAIN
    from tokforge.functions.signing import verify_series
    from tokforge.plans.options import parse_chain

    cfg = run.cfg
    rows = _sample_rows(table, 40_000)
    sig = pd.Series(rows.column("sig").to_pylist())
    ops = pd.Series(rows.column("ops").to_pylist())
    doc = pd.Series(rows.column("doc_id").to_pylist())
    with tracer.span("verify_series", "signing") as rec:
        ok = verify_series(cfg.key, cfg.salt, sig, ops, doc, cfg.allow_unsigned)
    if not ok.all():
        raise AssertionError("verify_series rejected a signed request")
    m["signing.verify_us_per_row"] = (rec["dur"] * 1e6 / len(sig), "us")

    ten_k = rows.slice(0, 10_000)
    for label, chain in (("flagship", FLAGSHIP_CHAIN), ("simple", SIMPLE_CHAIN)):
        with tracer.span(f"apply_plan_rect {label}", "operators"):
            ms = kernel_ms_per_10k(ten_k, chain, cfg)
        m[f"operators.kernel_ms_per_10k.{label}"] = (ms, "ms")

    times = []
    with tracer.span("parse_chain", "plans"):
        for _ in range(200):
            t0 = time.perf_counter()
            parse_chain(FLAGSHIP_CHAIN)
            times.append(time.perf_counter() - t0)
    m["plans.parse_us"] = (med(times) * 1e6, "us")


def sink_probe(run, tracer, table: str, m: dict) -> None:
    """``IdempotentParquetSink`` on a cached transform-output batch of up
    to 40k rows: three commits, then each batch id offered again."""
    from tokforge.engine.transform_arrow import transform_requests_arrow
    from tokforge.streaming.sink import IdempotentParquetSink

    out = transform_requests_arrow(run.spark.read.parquet(table), run.cfg).limit(40_000)
    out = out.cache()
    out.count()
    sink = IdempotentParquetSink(str(run.work / "sink-probe"))
    times = []
    for batch_id in range(3):
        with tracer.span(f"sink commit {batch_id}", "streaming.sink") as rec:
            sink(out, batch_id)
        times.append(rec["dur"])
    for batch_id in range(3):
        sink(out, batch_id)
    out.unpersist()
    m["sink.commit_ms"] = (med(times) * 1000.0, "ms")
    m["sink.replays_skipped"] = (float(sink.skipped_replays), "count")
    if sink.skipped_replays != 3:
        raise AssertionError(f"{sink.skipped_replays} of 3 replays skipped")


def stream_probe(run, tracer) -> list:
    """A two-drop hot replay (drop 1 repeats drop 0's keys) for workloads
    with no stream of their own."""
    from workloads import StreamWorkload

    class Probe(StreamWorkload):
        name = "stream_probe"
        drops = 2
        replicas_per_drop = 1
        expected_hit_ratio = 0.5

    wl = Probe(run)
    wl.build_inputs(run.work / "stream-probe")
    drains = [tracer.traced_pass(wl, f"probe{i}") for i in range(2)]
    ratio = observed_hit_ratio(drains)
    if ratio != wl.expected_hit_ratio:
        raise AssertionError(f"probe hit ratio {ratio}, expected 0.5")
    return drains


def pipeline_probe(run, tracer, corpus: str, m: dict) -> None:
    from workloads import CORPUS_QUERIES, corpus_action, corpus_query

    for name, _, action in CORPUS_QUERIES:
        with tracer.span(name, "pipeline") as rec:
            corpus_action(corpus_query(run.spark, corpus, name), action)
        m[f"pipeline.{name}_s"] = (rec["dur"], "s")


# -- assembly ----------------------------------------------------------------

def per_layer(run, facts: dict) -> dict:
    wl = facts["workload"]
    tracer: Tracer = facts["tracer"]
    m: dict = {}
    passes = facts["passes"]
    plain = [p.wall_s for p, traced in passes if p.ok and not traced]
    traced = [p.wall_s for p, tr in passes if p.ok and tr]
    m["trace.overhead_s"] = (med(traced) - med(plain), "s")

    m["proc.peak_rss_mb"] = (run.sampler.peak_rss_mb, "MB")
    cpu = facts["cpu"]
    m["proc.jvm_cpu_s"] = (med(c[0] for c in cpu), "s")
    m["proc.py_cpu_s"] = (med(c[1] for c in cpu), "s")
    m["proc.cpu_util"] = (med((c[0] + c[1]) / (c[2] * run.cpus) for c in cpu), "ratio")

    drains = [p for p, _ in passes if p.ok and p.progress]
    if not drains:
        drains = stream_probe(run, tracer)
    stream_metrics(drains, m)
    m["cache.hit_ratio"] = (observed_hit_ratio(drains), "ratio")

    table = wl.request_table()
    engine_probes(run, tracer, table, m)
    python_probes(run, tracer, table, m)
    sink_probe(run, tracer, table, m)

    if hasattr(wl, "query_s"):  # corpus_ops times the queries in its passes
        for name, times in wl.query_s.items():
            m[f"pipeline.{name}_s"] = (med(times[wl.warmups:]), "s")
    else:
        pipeline_probe(run, tracer, str(wl.corpus), m)

    facts["spans"] = tracer.spans
    facts["self_time_s"] = tracer.self_times()
    return m
