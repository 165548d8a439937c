"""The four workloads: inputs, one timed pass, and the output checks.

A pass is the unit every end-to-end metric is built from:
  transform_flagship  one ``transform_requests_arrow(verify=True)`` query
  stream_hot/cold     one backlog drain, ``start()`` to the final commit
  corpus_ops          the five corpus queries, back to back
Passes run closed-loop: the next one starts when the previous returned.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from dataclasses import dataclass, field
from pathlib import Path

import pyspark.sql.functions as F

from bench import FLAGSHIP_CHAIN, SIMPLE_CHAIN
from tokforge.sources.requests import LEN_LADDER

import inputs

# Sizes.  The corpus is sf0.1 (5000 documents); one replica is one copy of
# it.  See perfbench/README.md for how these were chosen.
FLAGSHIP_REPLICAS = 16  # 80k requests


@dataclass
class PassResult:
    wall_s: float
    tokens: int  # input tokens of output rows that passed the pass checks
    batches_ms: list[float] = field(default_factory=list)  # streams only
    progress: list[dict] = field(default_factory=list)  # streams only
    ok: bool = True
    problem: str = ""


def checksum_cols(*cols: str):
    """Order-independent checksum: the sum of 32-bit row hashes."""
    return F.sum(F.xxhash64(*cols).bitwiseAND(F.lit(0xFFFFFFFF))).alias("checksum")


def ladder_tokens(n_docs: int) -> int:
    """sum(n_tok) over one replica of the corpus (doc ids 0..n-1, and the
    seed shift keeps doc_id % 4)."""
    return sum(LEN_LADDER[i % 4] for i in range(n_docs))


class Workload:
    name = ""
    warmups = 1
    min_passes = 3

    def __init__(self, run):
        self.run = run

    def build_inputs(self, work: Path) -> None:
        raise NotImplementedError

    def warm_up(self) -> None:
        for i in range(self.warmups):
            self.one_pass(f"w{i}")

    def one_pass(self, tag: str) -> PassResult:
        raise NotImplementedError

    def run_checks(self) -> list[tuple[str, bool, str]]:
        """(check name, passed, detail) for the once-per-run checks."""
        return []

    def request_table(self) -> str:
        """Parquet path of the workload's signed requests (layer probes)."""
        raise NotImplementedError


class TransformFlagship(Workload):
    name = "transform_flagship"
    warmups = 2

    def build_inputs(self, work: Path) -> None:
        r = self.run
        self.corpus = inputs.write_corpus(work / "corpus")
        self.path = inputs.write_batch_input(
            r.spark, self.corpus, work, r.seed, FLAGSHIP_CHAIN, FLAGSHIP_REPLICAS, r.cfg
        )
        self.rows = FLAGSHIP_REPLICAS * r.n_docs
        self.tokens = FLAGSHIP_REPLICAS * ladder_tokens(r.n_docs)
        self.expected_checksum = None

    def request_table(self) -> str:
        return self.path

    def query(self, verify: bool = True):
        from tokforge.engine.transform_arrow import transform_requests_arrow

        req = self.run.spark.read.parquet(self.path)
        return transform_requests_arrow(req, self.run.cfg, verify=verify)

    def one_pass(self, tag: str) -> PassResult:
        t0 = time.perf_counter()
        row = self.query().agg(
            F.count("*").alias("rows"),
            F.sum("n_tok").alias("tokens_in"),
            F.count(F.when(F.col("sig_valid") & F.col("error").isNull(), 1)).alias("good"),
            checksum_cols("doc_id", "tokens_out"),
        ).collect()[0]
        wall = time.perf_counter() - t0
        if self.expected_checksum is None:
            self.expected_checksum = row["checksum"]
        problems = []
        if row["rows"] != self.rows or row["tokens_in"] != self.tokens:
            problems.append(f"rows {row['rows']} tokens {row['tokens_in']}")
        if row["good"] != row["rows"]:
            problems.append(f"{row['rows'] - row['good']} rows invalid or in error")
        if row["checksum"] != self.expected_checksum:
            problems.append("tokens_out checksum differs from the first pass")
        ok = not problems
        return PassResult(wall, self.tokens if ok else 0, ok=ok, problem="; ".join(problems))


class StreamWorkload(Workload):
    """``transform_stream(verify=True, available_now=True)`` draining
    ``drops`` drops of SIMPLE_CHAIN requests, one drop per micro-batch."""

    replay = True
    expected_hit_ratio = 0.0
    drops = 8
    replicas_per_drop = 1  # 5000 requests per drop
    # one full drain warms every stage; a second one reads the same as the
    # timed drains after it
    warmups = 1
    min_passes = 2

    def build_inputs(self, work: Path) -> None:
        r = self.run
        self.work = work
        self.corpus = inputs.write_corpus(work / "corpus")
        self.in_dir = inputs.write_stream_input(
            r.spark, self.corpus, work, r.seed, SIMPLE_CHAIN, self.drops,
            self.replicas_per_drop, self.replay, r.cfg,
        )
        self.rows = self.drops * self.replicas_per_drop * r.n_docs
        self.tokens = self.drops * self.replicas_per_drop * ladder_tokens(r.n_docs)
        self.last_out = None

    def request_table(self) -> str:
        return self.in_dir

    def start(self, out: str, ckpt: str):
        from tokforge.streaming.job import transform_stream

        return transform_stream(
            self.run.spark, self.in_dir, out, ckpt, self.run.cfg,
            verify=True, available_now=True, max_files_per_trigger=1,
        )

    def one_pass(self, tag: str) -> PassResult:
        out, ckpt = str(self.work / f"out-{tag}"), str(self.work / f"ckpt-{tag}")
        t0 = time.perf_counter()
        query, sink = self.start(out, ckpt)
        query.awaitTermination()
        wall = time.perf_counter() - t0
        if query.exception() is not None:
            raise query.exception()
        progress = [json.loads(p.json) for p in query.recentProgress]
        batches = [p["durationMs"].get("triggerExecution", 0.0) for p in progress]
        ledger = sorted(Path(out, "_ledger").glob("batch-*.json"))
        rows = sum(json.loads(m.read_text())["rows"] for m in ledger)
        problems = []
        if len(ledger) != len(progress):
            problems.append(f"{len(ledger)} ledger markers for {len(progress)} micro-batches")
        if rows != self.rows:
            problems.append(f"sink holds {rows} rows, expected {self.rows}")
        if sink.skipped_replays:
            problems.append(f"{sink.skipped_replays} replays skipped on a fresh checkpoint")
        # keep the newest sink for the run checks, drop older ones
        shutil.rmtree(ckpt, ignore_errors=True)
        if self.last_out:
            shutil.rmtree(self.last_out, ignore_errors=True)
        self.last_out = out
        ok = not problems
        return PassResult(
            wall, self.tokens if ok else 0, batches, progress, ok, "; ".join(problems)
        )

    def run_checks(self):
        from tokforge.engine.transform_arrow import transform_requests_arrow
        from tokforge.streaming.job import read_sink
        from tokforge.streaming.source import REQUEST_SCHEMA

        spark = self.run.spark
        sunk = read_sink(spark, self.last_out)
        req = spark.read.schema(REQUEST_SCHEMA).option("recursiveFileLookup", "true").parquet(
            self.in_dir
        )
        keys = ["doc_id", "ts"]
        n_sunk = sunk.count()
        missing = req.select(*keys).exceptAll(sunk.select(*keys)).count()
        extra = sunk.select(*keys).exceptAll(req.select(*keys)).count()
        hits = sunk.filter(F.col("cache_status") == "HIT").count()
        errors = sunk.filter(F.col("error").isNotNull()).count()
        stream_sum = sunk.agg(checksum_cols("doc_id", "ts", "tokens_out")).collect()[0][0]
        batch_sum = transform_requests_arrow(req, self.run.cfg, verify=True).agg(
            checksum_cols("doc_id", "ts", "tokens_out")
        ).collect()[0][0]
        ratio = hits / n_sunk if n_sunk else -1.0
        return [
            ("exactly_once", missing == 0 and extra == 0 and n_sunk == self.rows,
             f"{n_sunk} rows, {missing} missing, {extra} extra"),
            ("no_errors", errors == 0, f"{errors} rows with error"),
            ("hit_ratio", ratio == self.expected_hit_ratio,
             f"{ratio} (expected {self.expected_hit_ratio})"),
            ("cross_path_checksum", stream_sum == batch_sum,
             f"stream {stream_sum} batch {batch_sum}"),
        ]


class StreamHot(StreamWorkload):
    """Drops 1-7 replay drop 0's keys: 7/8 of the rows are cache HITs."""

    name = "stream_hot"
    replay = True
    expected_hit_ratio = 7 / 8


class StreamCold(StreamWorkload):
    """Every drop carries new keys: 0 HITs, every row takes the MISS
    kernel loop and the cache state grows by one drop per batch."""

    name = "stream_cold"
    replay = False
    expected_hit_ratio = 0.0
    drops = 4


# (timer name, registry name of the DuckDB oracle, action) per corpus query
CORPUS_QUERIES = (
    ("window_ts", "window_tumbling_sliding", "sum_events"),
    ("window_session", "window_session", "sum_events"),
    ("simhash", "dedup_simhash", "sum_simhash"),
    ("lsh_pairs", "dedup_lsh_pairs", "count"),
    ("knn", "knn_bruteforce", "count"),
)


def corpus_query(spark, corpus: str, name: str):
    from tokforge.engine.queries import q_window_session, q_window_tumbling_sliding
    from tokforge.pipeline.dedup import q_lsh_pairs, q_simhash
    from tokforge.pipeline.similarity import q_knn_bruteforce

    fn = {
        "window_ts": q_window_tumbling_sliding,
        "window_session": q_window_session,
        "simhash": q_simhash,
        "lsh_pairs": q_lsh_pairs,
        "knn": q_knn_bruteforce,
    }[name]
    return fn(spark, corpus)


def corpus_action(df, action: str):
    if action == "sum_events":
        return df.agg(F.sum("n_events")).collect()[0][0]
    if action == "sum_simhash":
        return df.agg(F.sum("simhash16")).collect()[0][0]
    return df.count()


class CorpusOps(Workload):
    """bench.py's windows, dedup and knn queries at sf0.1, as one pass."""

    name = "corpus_ops"
    warmups = 3
    min_passes = 2

    def build_inputs(self, work: Path) -> None:
        self.corpus = inputs.write_corpus(work / "corpus")
        self.tokens = ladder_tokens(self.run.n_docs)
        self.expected = None
        self.query_s: dict[str, list[float]] = {q[0]: [] for q in CORPUS_QUERIES}

    def request_table(self) -> str:
        return self.run.probe_requests(self.corpus)

    def one_pass(self, tag: str) -> PassResult:
        values = []
        t_all = time.perf_counter()
        batches = []
        for name, _, action in CORPUS_QUERIES:
            t0 = time.perf_counter()
            values.append(corpus_action(corpus_query(self.run.spark, str(self.corpus), name), action))
            dt = time.perf_counter() - t0
            self.query_s[name].append(dt)
            batches.append(dt * 1000.0)
        wall = time.perf_counter() - t_all
        if self.expected is None:
            self.expected = values
        ok = values == self.expected
        return PassResult(
            wall, self.tokens if ok else 0, batches, ok=ok,
            problem="" if ok else f"results {values} differ from {self.expected}",
        )

    def run_checks(self):
        import duckdb

        from tokforge.engine.queries import ENGINE_QUERIES_EXTRA, oracle_sql

        sql = dict(oracle_sql())
        sql.update({k: v[1] for k, v in ENGINE_QUERIES_EXTRA.items()})
        con = duckdb.connect()
        for t in ("documents", "events", "embeddings"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.corpus}/{t}.parquet'")
        out = []
        for name, oracle, _ in CORPUS_QUERIES:
            got = corpus_query(self.run.spark, str(self.corpus), name).toPandas()
            want = con.execute(sql[oracle]).df()
            same, detail = frames_equal(got, want)
            out.append((f"oracle_{name}", same, detail))
        con.close()
        return out


def frames_equal(a, b) -> tuple[bool, str]:
    """Row-order-independent equality of two result frames (floats to
    1e-9, like the repo's correctness gate)."""
    import numpy as np

    if sorted(a.columns) != sorted(b.columns):
        return False, f"columns {sorted(a.columns)} vs {sorted(b.columns)}"
    if len(a) != len(b):
        return False, f"rows {len(a)} vs {len(b)}"
    cols = sorted(a.columns)
    a = a[cols].sort_values(cols, ignore_index=True)
    b = b[cols].sort_values(cols, ignore_index=True)
    for c in cols:
        x, y = a[c], b[c]
        if x.dtype.kind == "f" or y.dtype.kind == "f":
            same = np.allclose(x.astype(float), y.astype(float), rtol=0, atol=1e-9, equal_nan=True)
        else:
            same = x.astype(object).equals(y.astype(object))
        if not same:
            return False, f"column {c} differs"
    return True, f"{len(a)} rows"


WORKLOADS = {w.name: w for w in (TransformFlagship, StreamHot, StreamCold, CorpusOps)}
