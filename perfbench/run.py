"""tokforge benchmark: one workload per invocation.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a tokforge checkout.  The run starts one Spark
session (``build_spark(master=local[nproc], shuffle_partitions=nproc)``),
writes the workload's inputs, warms up, then runs passes back to back for
``--seconds`` and prints, as its last stdout line, one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
metrics (and writes spans + a per-layer self-time table to
``perfbench/out/``).  Everything the run writes stays under
``perfbench/.work`` (deleted at exit) and ``perfbench/out``.
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
INPUT_BUILDS = 3  # setup_s uses the median of this many input builds


def exception_head(exc: BaseException, limit: int = 6) -> list[str]:
    """The exception class plus its first `...Exception`/`...Error` and
    `Caused by` lines; a Spark error's plan dump and stack frames are
    dropped."""
    lines = [f"{type(exc).__module__}.{type(exc).__qualname__}"]
    for raw in str(exc).splitlines():
        line = raw.strip()
        if not line or line.startswith(("at ", "...", "+-", ":")):
            continue
        if line.startswith("Caused by") or "Exception" in line or "Error" in line:
            lines.append(line[:300])
        if len(lines) > limit:
            break
    if len(lines) == 1:
        lines.append(str(exc).strip().splitlines()[0][:300] if str(exc).strip() else "")
    return lines


def median(xs):
    return statistics.median(xs) if xs else float("nan")


class Run:
    def __init__(self, args):
        self.workload_name = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.cpus = os.cpu_count() or 1
        self.work = HERE / ".work" / f"{args.workload}-{args.seed}-{os.getpid()}"
        self.failures: list[dict] = []
        self.attempted = 0
        self.failed = 0
        self.spark = None
        self.sampler = None

    # -- failure accounting ------------------------------------------------
    def record_failure(self, where: str, exc: BaseException | None = None, detail: str = ""):
        self.failed += 1
        rec = {"where": where}
        if exc is not None:
            rec["exception"] = exception_head(exc)
        if detail:
            rec["detail"] = detail
        self.failures.append(rec)
        print(f"[perfbench] FAILED {where}: {rec}", file=sys.stderr)

    # -- environment -------------------------------------------------------
    def isolate(self):
        """Keep every file Spark, the JVM and Python workers write inside
        the checkout."""
        tmp = self.work / "tmp"
        tmp.mkdir(parents=True, exist_ok=True)
        os.environ["TMPDIR"] = str(tmp)
        os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
        os.environ["SPARK_GRAFT_CPUS"] = str(self.cpus)
        os.environ["PYSPARK_SUBMIT_ARGS"] = (
            # -UsePerfData: no hsperfdata file in the system temp dir
            f"--conf spark.driver.extraJavaOptions='-Djava.io.tmpdir={tmp} -XX:-UsePerfData' "
            "--conf spark.ui.showConsoleProgress=false pyspark-shell"
        )
        import tempfile

        tempfile.tempdir = str(tmp)

    def start_spark(self):
        from tokforge.engine.config import EngineConfig
        from tokforge.engine.session import build_spark

        self.spark = build_spark(
            app_name=f"perfbench-{self.workload_name}",
            master=f"local[{self.cpus}]",
            shuffle_partitions=self.cpus,
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.cfg = EngineConfig()
        from procstat import ProcSampler

        self.jvm_proc = self.spark.sparkContext._gateway.proc
        self.sampler = ProcSampler(self.jvm_proc.pid).start()

    def stop_spark(self):
        from procstat import descendants, wait_gone

        if self.spark is None:
            return
        if self.sampler is not None:
            self.sampler.stop()
        from pyspark import SparkContext

        pids = descendants(self.jvm_proc.pid)
        try:
            self.spark.stop()
        finally:
            gateway = SparkContext._gateway
            try:
                gateway.shutdown()
            except Exception:  # noqa: BLE001 - the JVM may already be gone
                pass
            proc = self.jvm_proc
            try:
                proc.stdin.close()  # the gateway JVM exits when stdin closes
            except (OSError, AttributeError):
                pass
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001
                proc.kill()
                proc.wait()
            for pid in wait_gone(pids, 10.0):
                try:
                    os.kill(pid, 9)
                except OSError:
                    pass
            wait_gone(pids, 10.0)
            self.spark = None

    @property
    def n_docs(self) -> int:
        return 5000  # documents in the sf0.1 corpus

    def probe_requests(self, corpus: Path) -> str:
        """A one-replica signed request table over ``corpus`` for the layer
        probes of a workload that has no request table of its own."""
        from bench import SIMPLE_CHAIN

        import inputs

        if not hasattr(self, "_probe_requests"):
            self._probe_requests = inputs.write_batch_input(
                self.spark, corpus, self.work / "probe", self.seed, SIMPLE_CHAIN, 1, self.cfg
            )
        return self._probe_requests


def run_workload(run: Run) -> dict:
    """Set up, warm up, measure; returns the facts the metrics come from."""
    from workloads import WORKLOADS

    facts: dict = {"passes": [], "cpu": []}
    t0 = time.perf_counter()
    run.start_spark()
    facts["session_s"] = time.perf_counter() - t0

    wl = WORKLOADS[run.workload_name](run)
    build_s = []
    for k in range(INPUT_BUILDS):
        work = run.work / f"inputs{k}"
        t0 = time.perf_counter()
        wl.build_inputs(work)
        build_s.append(time.perf_counter() - t0)
        if k:  # the last build is the one the passes read
            shutil.rmtree(run.work / f"inputs{k - 1}", ignore_errors=True)
    facts["inputs_s"] = build_s
    t0 = time.perf_counter()
    wl.warm_up()
    facts["warmup_s"] = time.perf_counter() - t0
    facts["setup_s"] = facts["session_s"] + median(build_s) + facts["warmup_s"]

    traced = None
    if run.trace:
        from layers import Tracer

        traced = Tracer()
    t_start = time.perf_counter()
    i = 0
    while i < wl.min_passes or time.perf_counter() - t_start < run.seconds:
        trace_this = traced is not None and i % 2 == 1
        run.attempted += 1
        cpu0 = run.sampler.cpu()
        w0 = time.perf_counter()
        try:
            if trace_this:
                res = traced.traced_pass(wl, f"p{i}")
            else:
                res = wl.one_pass(f"p{i}")
        except Exception as exc:  # noqa: BLE001 - counted, the run goes on
            run.record_failure(f"pass {i}", exc)
            i += 1
            continue
        wall = time.perf_counter() - w0
        cpu1 = run.sampler.cpu()
        facts["cpu"].append((cpu1[0] - cpu0[0], cpu1[1] - cpu0[1], wall))
        if not res.ok:
            run.record_failure(f"pass {i}", detail=res.problem)
        facts["passes"].append((res, trace_this))
        i += 1

    try:
        checks = wl.run_checks()
    except Exception as exc:  # noqa: BLE001
        run.attempted += 1
        run.record_failure("run checks", exc)
        checks = []
    for name, ok, detail in checks:
        run.attempted += 1
        if not ok:
            run.record_failure(f"check {name}", detail=detail)
    facts["checks"] = [list(c) for c in checks]
    facts["workload"] = wl
    if traced is not None:
        facts["tracer"] = traced
    return facts


def end_to_end(run: Run, facts: dict) -> dict:
    ok = [p for p, traced in facts["passes"] if p.ok and not traced]
    m: dict = {}
    if "setup_s" in facts:
        m["setup_s"] = (facts["setup_s"], "s")
    if ok:
        pass_s = median([p.wall_s for p in ok])
        m["pass_s"] = (pass_s, "s")
        m["tokens_per_s"] = (median([p.tokens / p.wall_s for p in ok]), "tokens/s")
        batches = [b for p in ok for b in p.batches_ms] or [p.wall_s * 1000 for p in ok]
        m["batch_ms_p50"] = (median(batches), "ms")
        lasts = [p.batches_ms[-1] if p.batches_ms else p.wall_s * 1000 for p in ok]
        m["last_batch_ms"] = (median(lasts), "ms")
    return m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # the benchmark drives the checkout it sits in; without the tokforge
    # sources next to it there is nothing to measure
    sys.path[:0] = [str(HERE), str(ROOT)]
    try:
        import bench
        import tokforge  # noqa: F401

        from workloads import WORKLOADS
    except ImportError as exc:
        print(f"perfbench: tokforge sources not found next to {HERE}: {exc}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    bench.kill_stray_spark_jvms()
    run = Run(args)
    run.isolate()
    facts: dict = {"passes": [], "cpu": []}
    try:
        facts = run_workload(run)
    except Exception as exc:  # noqa: BLE001 - report what the run has
        run.attempted += 1
        run.record_failure("setup", exc)
        traceback.print_exc(file=sys.stderr)

    metrics = end_to_end(run, facts)
    if run.trace and "workload" in facts:
        from layers import per_layer

        try:
            metrics = per_layer(run, facts)
        except Exception as exc:  # noqa: BLE001
            run.attempted += 1
            run.record_failure("layer probes", exc)
            traceback.print_exc(file=sys.stderr)
            metrics = {}
    try:
        run.stop_spark()
    finally:
        shutil.rmtree(run.work, ignore_errors=True)

    detail = {
        "workload": run.workload_name, "seed": run.seed, "cpus": run.cpus,
        "trace": run.trace, "failures": run.failures,
        "checks": facts.get("checks", []),
        "pass_s": [round(p.wall_s, 4) for p, _ in facts.get("passes", [])],
        "inputs_s": facts.get("inputs_s"), "session_s": facts.get("session_s"),
        "warmup_s": facts.get("warmup_s"),
        "metrics": {k: v[0] for k, v in metrics.items()},
        "batches_ms": [p.batches_ms for p, _ in facts.get("passes", [])],
        "peak_jvm_py_mb": run.sampler and [run.sampler.peak_jvm_mb, run.sampler.peak_py_mb],
        "self_time_s": facts.get("self_time_s"),
        "spans": facts.get("spans"),
    }
    out_dir = HERE / "out"
    out_dir.mkdir(exist_ok=True)
    suffix = "-trace" if run.trace else ""
    (out_dir / f"{run.workload_name}-seed{run.seed}{suffix}.json").write_text(
        json.dumps(detail, indent=1, default=str)
    )
    print(f"[perfbench] cpus={run.cpus} " + json.dumps(detail["metrics"]))
    result = {
        "correct": run.failed == 0,
        "attempted": max(run.attempted, 1),
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result))
    return 0 if metrics else 1


if __name__ == "__main__":
    sys.exit(main())
