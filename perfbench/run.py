"""Benchmark of the Spark analytics engine: one workload, one seed, one process.

    python3 perfbench/run.py --workload analytics --seed 1 --seconds 8 --trace 0

Run from the root of a checkout. The benchmark generates its input tables
from one fixed data seed (``perfbench/datagen.py``), starts one session
through ``session.build_session`` at ``local[<cores>]``, runs one warm-up
pass that is also the run's oracle check, then timed passes until
``--seconds`` have passed (at least two). Each pass visits the workload's
queries in an order drawn from ``--seed``; the seed changes nothing else.
In the warm-up each query's result is collected and compared with its
DuckDB oracle (``testing.check_query_against_oracle``); only the query's
build and collection are timed, the oracle and the comparison are not. In
the timed passes each query is built through ``catalog.QUERIES`` and
written to the ``noop`` sink with a cold cache.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. ``attempted``
counts query executions and ``failed`` those that raised or whose output
differed from the oracle. With ``--trace 0`` the metrics are end to end:

- ``setup_s``: session start plus the warm-up pass's summed query time;
- ``pass_s``: median over timed passes of the pass's summed query times;
- ``query_p50_s``, ``query_p90_s``: over every timed per-query sample.

With ``--trace 1`` untraced and traced passes alternate, the Spark event
log is on, and the metrics are the per-layer ones in ``LAYER_METRICS``:
each is the median over traced passes of its per-pass sum, except the
run-level ``session.start_s``, ``driver.peak_rss_mb`` (VmHWM of the driver
JVM plus this process) and ``trace.overhead_s`` (traced minus untraced
``pass_s``). Spans, per-pass times, a per-query breakdown, the failure
fraction and the host (cores, memory, driver heap) are written to
``.perfbench/trace-<workload>-seed<seed>.json``.

Everything a run writes (inputs, Spark local, temp and warehouse dirs,
event log) stays in ``.perfbench/`` under the checkout; the run's work
directory is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shlex
import shutil
import statistics
import sys
import tempfile
import time
import traceback
from dataclasses import dataclass

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "bigdata_capstone_spark"
sys.path.insert(0, ROOT)

from perfbench.tracing import OPERATOR_MODULES  # noqa: E402


@dataclass(frozen=True)
class Workload:
    sf: float
    queries: tuple[str, ...]


# Why each workload exists, and the layer it stresses, is in BENCHMARK.json.
# The query lists are short and the inputs small so that one run (JVM start,
# a cold warm-up pass, then two timed passes) takes 35-48 s on 4 cores.
WORKLOADS: dict[str, Workload] = {
    "analytics": Workload(
        sf=0.002,
        queries=(
            "pricing_summary",
            "regional_revenue",
            "nation_trade_flows",
            "ranking_metrics_popularity",
        ),
    ),
    "curation": Workload(
        sf=0.001,
        queries=(
            "dedup_minhash_lsh_pairs",
            "embedding_knn_graph",
            "multimodal_jpeg_features",
        ),
    ),
    "iterative": Workload(
        sf=0.001,
        queries=(
            "purchase_graph_pagerank",
            "orders_column_stats",
            "streaming_upsert_snapshot",
        ),
    ),
}

END_TO_END_UNITS = {
    "setup_s": "s",
    "pass_s": "s",
    "query_p50_s": "s",
    "query_p90_s": "s",
}

LAYER_METRICS = {
    "session.start_s": "s",
    "sources.scan_s": "s",
    "sources.input_bytes": "B",
    "catalog.build_s": "s",
    "catalog.build_jobs": "count",
    **{
        f"operators.{m}.{k}": u
        for m in OPERATOR_MODULES
        for k, u in (("build_s", "s"), ("build_jobs", "count"))
    },
    "plan.s": "s",
    "plan.exchanges": "count",
    "plan.python_nodes": "count",
    "exec.s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.failed_tasks": "count",
    "exec.task_busy_s": "s",
    "exec.core_util": "ratio",
    "exec.shuffle_read_bytes": "B",
    "exec.shuffle_write_bytes": "B",
    "exec.spill_bytes": "B",
    "exec.gc_s": "s",
    "exec.arrow_bytes_to_python": "B",
    "streaming.batches": "count",
    "streaming.batch_s": "s",
    "streaming.harness_s": "s",
    "driver.peak_rss_mb": "MiB",
    "jvm.heap_peak_mb": "MiB",
    "jvm.gc_s": "s",
    "trace.overhead_s": "s",
}


def host_info() -> dict:
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    mem_mb = mem_kb // 1024
    # A quarter of the host, capped at the engine's 8g working size and
    # floored at 1g: the engine's own 48g default exceeds small hosts.
    heap = os.environ.get("SPARK_DRIVER_MEM") or f"{max(1024, min(8192, mem_mb // 4))}m"
    return {"nproc": cores, "mem_total_mb": mem_mb, "driver_heap": heap}


def prepare_env(work: str, host: dict, event_log: str | None) -> None:
    """Deployment settings for the engine, all pointing inside ``work``."""
    for sub in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(host["nproc"])
    os.environ["SPARK_DRIVER_MEM"] = host["driver_heap"]
    # Python workers import the engine package (e.g. UDF modules).
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    args = [
        "--driver-java-options",
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "--conf",
        f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        "--conf",
        "spark.ui.showConsoleProgress=false",
    ]
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        args += [
            "--conf",
            "spark.eventLog.enabled=true",
            "--conf",
            f"spark.eventLog.dir=file://{event_log}",
            "--conf",
            "spark.eventLog.compress=false",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])


def pass_order(queries, seed: int, pass_no: int) -> list[str]:
    return random.Random(f"{seed}:{pass_no}").sample(list(queries), len(queries))


class TimedResult:
    """Stands in for a query's DataFrame in the oracle check, which only
    collects it: builds the query and collects its result when asked,
    timing just that."""

    def __init__(self, build):
        self.build = build
        self.seconds = 0.0

    def toPandas(self):
        t0 = time.perf_counter()
        try:
            return self.build().toPandas()
        finally:
            self.seconds = time.perf_counter() - t0


class Runner:
    """Runs one workload's passes in an existing session and keeps the
    samples, failures and (when tracing) the spans."""

    def __init__(self, spark, wl: Workload, sf_dir: str, seed: int,
                 oracles: dict[str, str] | None = None, tracer=None):
        from bigdata_capstone_spark.catalog import ORACLE_SQL, QUERIES

        self.spark, self.wl, self.sf_dir, self.seed = spark, wl, sf_dir, seed
        self.queries = QUERIES
        self.oracles = ORACLE_SQL if oracles is None else oracles
        self.tracer = tracer
        self.jvm = None  # JvmProbe, set by enable_tracing
        self.streaming = None  # StreamingProgress, set by enable_tracing
        self.attempted = 0
        self.failures: list[str] = []
        self.samples: list[tuple[int, str, float]] = []
        self.pass_walls: list[dict] = []

    def build(self, name: str):
        return self.queries[name](self.spark, self.sf_dir)

    def _fail(self, name: str, what: str) -> None:
        self.failures.append(f"{name}: {what}")
        print(f"# FAILED {name}: {what}", file=sys.stderr, flush=True)

    def _cleanup(self) -> None:
        # cold cache per query; the GC nudge lets the ContextCleaner drop the
        # previous query's shuffle and broadcast state
        self.spark.catalog.clearCache()
        self.spark._jvm.System.gc()

    def _attempt(self, name: str, execute):
        """One execution of a query, followed by the cache cleanup. A query
        that raises is counted as failed and yields None."""
        self.attempted += 1
        try:
            return execute()
        except Exception as exc:  # a failing query is counted, not fatal
            self._fail(name, f"{type(exc).__name__}: {exc}"[:500])
            traceback.print_exc(file=sys.stderr)
            return None
        finally:
            self._cleanup()

    def warmup_and_check(self) -> float:
        """Warm-up pass that is also the run's oracle check: each query is
        built and executed once, cold, with its result collected, then
        compared with its DuckDB oracle. Only the build and collection are
        timed; the oracle query, the comparison and the cache cleanup are
        not. Returns the summed query time."""
        from bigdata_capstone_spark.testing import check_query_against_oracle

        total = 0.0
        for name in pass_order(self.wl.queries, self.seed, 0):
            result = TimedResult(lambda: self.build(name))
            problems = self._attempt(name, lambda: check_query_against_oracle(
                result, self.oracles[name], self.sf_dir))
            total += result.seconds
            if problems:
                self._fail(name, "oracle mismatch: " + "; ".join(problems)[:500])
        return total

    def enable_tracing(self) -> None:
        from perfbench.tracing import JvmProbe, StreamingProgress

        self.jvm = JvmProbe(self.spark)
        self.streaming = StreamingProgress()
        self.spark.streams.addListener(self.streaming)

    def disable_tracing(self) -> None:
        if self.streaming is not None:
            self.spark.streams.removeListener(self.streaming)

    def measure(self, seconds: float) -> tuple[list[float], list[dict]]:
        """Passes until ``seconds`` have passed, at least two. When tracing,
        traced passes alternate with untraced ones and the last pass is
        untraced, so the untraced passes bracket the traced ones and the
        warm-up trend cancels out of ``trace.overhead_s``. Returns the
        untraced pass times and the traced passes."""
        untraced, traced = [], []
        pass_no, t0 = 0, time.perf_counter()
        while True:
            pass_no += 1
            untraced.append(self.run_pass(pass_no, traced=False))
            done = time.perf_counter() - t0 >= seconds and len(untraced) >= 2
            if done and (self.tracer is None or traced):
                return untraced, traced
            if self.tracer is not None:
                pass_no += 1
                traced.append(self.traced_pass(pass_no))

    def untraced_query(self, name: str) -> float:
        t0 = time.perf_counter()
        self.build(name).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    def traced_query(self, name: str) -> float:
        """build -> plan -> exec, each a span; returns the query's span time."""
        from perfbench.tracing import drain_listener_bus, plan_counts

        tr, spark = self.tracer, self.spark
        with tr.span("query", query=name) as q:
            gc0 = self.jvm.gc_seconds()
            with tr.span("catalog.build"):
                df = self.build(name)
            with tr.span("plan") as p:
                p.attrs.update(plan_counts(df._jdf.queryExecution().executedPlan()))
            with tr.span("exec"):
                df.write.format("noop").mode("overwrite").save()
            # deliver this query's streaming progress events inside its span
            drain_listener_bus(spark)
            q.attrs["jvm_gc_s"] = self.jvm.gc_seconds() - gc0
        return q.seconds

    def run_pass(self, pass_no: int, traced: bool) -> float:
        """One pass over the workload; returns the summed query time (of the
        queries that succeeded)."""
        run = self.traced_query if traced else self.untraced_query
        total, ok = 0.0, True
        for name in pass_order(self.wl.queries, self.seed, pass_no):
            dt = self._attempt(name, lambda: run(name))
            if dt is None:
                ok = False
                continue
            total += dt
            if not traced:
                self.samples.append((pass_no, name, dt))
            print(f"# pass {pass_no}{' traced' if traced else ''} {name}: "
                  f"{dt:.3f}s", file=sys.stderr, flush=True)
        self.pass_walls.append(
            {"pass": pass_no, "traced": traced, "s": total, "complete": ok}
        )
        return total

    def traced_pass(self, pass_no: int) -> dict:
        """A traced pass, then a scan of every table the pass read. Returns the
        pass's span index range and its JVM heap peak."""
        from perfbench.tracing import OperatorPatch

        first = len(self.tracer.spans)
        patch = OperatorPatch(self.tracer)
        self.jvm.reset_heap_peak()
        patch.install()
        try:
            wall = self.run_pass(pass_no, traced=True)
        finally:
            patch.uninstall()
        heap_peak = self.jvm.heap_peak_mb()
        from bigdata_capstone_spark.sources.tables import load_table

        for table in sorted(patch.tables_read):
            with self.tracer.span("sources.scan", query=f"scan:{table}", table=table):
                load_table(self.spark, self.sf_dir, table).write.format("noop").mode(
                    "overwrite"
                ).save()
        return {"pass": pass_no, "wall": wall, "spans": (first, len(self.tracer.spans)),
                "heap_peak_mb": heap_peak}


def layer_metrics(runner: Runner, tp: dict, events, batches, cores: int,
                  session_s: float) -> tuple[dict, dict]:
    """Per-layer sums for one traced pass, and its per-query breakdown."""
    tr = runner.tracer
    spans = tr.spans[tp["spans"][0]:tp["spans"][1]]

    def total(name, key="seconds"):
        return sum(getattr(s, key) for s in tr.outermost(name, spans))

    def log_totals(name):
        out = {}
        for s in tr.outermost(name, spans):
            for k, v in events.totals(s.job_start, s.job_end).items():
                out[k] = out.get(k, 0) + v
        return out

    queries = [s for s in spans if s.name == "query"]
    per_batch = [
        (q, [sec for (t, sec) in batches if q.start <= t <= q.end]) for q in queries
    ]
    ex = log_totals("exec")
    m = {
        "session.start_s": session_s,
        "sources.scan_s": total("sources.scan"),
        "sources.input_bytes": log_totals("sources.scan").get("input_bytes", 0),
        "catalog.build_s": total("catalog.build"),
        "catalog.build_jobs": total("catalog.build", "jobs"),
    }
    for mod in OPERATOR_MODULES:
        m[f"operators.{mod}.build_s"] = total(f"operators.{mod}")
        m[f"operators.{mod}.build_jobs"] = total(f"operators.{mod}", "jobs")
    plans = [s for s in spans if s.name == "plan"]
    m.update({
        "plan.s": total("plan"),
        "plan.exchanges": sum(s.attrs.get("exchanges", 0) for s in plans),
        "plan.python_nodes": sum(s.attrs.get("python_nodes", 0) for s in plans),
        "exec.s": total("exec"),
        "exec.jobs": total("exec", "jobs"),
        "exec.stages": ex.get("stages", 0),
        "exec.tasks": ex.get("tasks", 0),
        "exec.failed_tasks": ex.get("failed_tasks", 0),
        "exec.task_busy_s": ex.get("task_busy_s", 0.0),
        "exec.shuffle_read_bytes": ex.get("shuffle_read_bytes", 0),
        "exec.shuffle_write_bytes": ex.get("shuffle_write_bytes", 0),
        "exec.spill_bytes": ex.get("spill_bytes", 0),
        "exec.gc_s": ex.get("gc_s", 0.0),
        "exec.arrow_bytes_to_python": ex.get("arrow_bytes_to_python", 0),
        "streaming.batches": sum(len(b) for _, b in per_batch),
        "streaming.batch_s": sum(sum(b) for _, b in per_batch),
        "streaming.harness_s": sum(q.seconds - sum(b) for q, b in per_batch if b),
        "jvm.heap_peak_mb": tp["heap_peak_mb"],
        "jvm.gc_s": sum(q.attrs.get("jvm_gc_s", 0.0) for q in queries),
    })
    m["exec.core_util"] = (
        m["exec.task_busy_s"] / (m["exec.s"] * cores) if m["exec.s"] > 0 else 0.0
    )

    per_query = {}
    for q, b in per_batch:
        idx = tr.spans.index(q)
        kids = [s for s in spans if s.parent == idx]
        row = {"s": q.seconds, "jvm_gc_s": q.attrs.get("jvm_gc_s", 0.0),
               "streaming_batches": len(b), "streaming_batch_s": sum(b)}
        for k in kids:
            row[f"{k.name}_s"] = k.seconds
            row[f"{k.name}_jobs"] = k.jobs
            if k.name == "plan":
                row.update(k.attrs)
            if k.name == "exec":
                row.update({f"exec_{a}": v for a, v in
                            events.totals(k.job_start, k.job_end).items()})
        ops = {}
        for s in spans:
            if s.query == q.query and s.name.startswith("operators.") and s.start >= q.start \
                    and s.end <= q.end and all(a.name != s.name for a in tr.ancestors(s)):
                o = ops.setdefault(s.name, {"s": 0.0, "jobs": 0})
                o["s"] += s.seconds
                o["jobs"] += s.jobs
        row["operators"] = ops
        per_query[q.query] = row
    return m, per_query


def job_count_mismatches(tracer, events) -> list[str]:
    """Spans whose high-water-mark job count disagrees with the event log."""
    bad = []
    for s in tracer.spans:
        logged = sum(1 for j in range(s.job_start, s.job_end) if j in events.job_starts)
        if s.jobs < 0 or logged != s.jobs:
            bad.append(f"{s.name}[{s.query}]: {s.jobs} by high-water mark, {logged} logged")
    return bad


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def end_to_end(setup_s: float, untraced: list[float], samples: list[float]) -> dict:
    deciles = statistics.quantiles(samples, n=10, method="inclusive")
    return {
        "setup_s": setup_s,
        "pass_s": statistics.median(untraced),
        "query_p50_s": deciles[4],
        "query_p90_s": deciles[8],
    }


def traced_layers(runner: Runner, traced: list[dict], event_log: str, cores: int,
                  session_s: float, pass_s: float, rss_mb: float) -> dict:
    """Per-layer metrics (medians over traced passes) and the trace record."""
    from perfbench.tracing import EventLog

    events = EventLog(event_log)
    per_pass, per_query = [], {}
    for tp in traced:
        m, pq = layer_metrics(runner, tp, events, runner.streaming.batches, cores,
                              session_s)
        per_pass.append(m)
        per_query[tp["pass"]] = pq
    layer = {k: statistics.median(p[k] for p in per_pass) for k in per_pass[0]}
    layer["driver.peak_rss_mb"] = rss_mb
    layer["trace.overhead_s"] = statistics.median(tp["wall"] for tp in traced) - pass_s
    return {
        "layer": layer,
        "absent": absent_layers(layer),
        "layer_per_pass": per_pass,
        "per_query": per_query,
        "job_count_mismatches": job_count_mismatches(runner.tracer, events),
        "spans": [
            {"name": s.name, "start": s.start, "end": s.end, "parent": s.parent,
             "query": s.query, "jobs": s.jobs, **s.attrs}
            for s in runner.tracer.spans
        ],
    }


def absent_layers(layer: dict) -> dict[str, str]:
    """Layers this workload never entered, each with the reason; their
    metrics read 0."""
    out = {}
    for mod in OPERATOR_MODULES:
        if layer[f"operators.{mod}.build_s"] == 0:
            out[f"operators.{mod}"] = f"no query calls operators.{mod} while building"
    if layer["streaming.batches"] == 0:
        out["streaming"] = "no query runs a streaming micro-batch"
    if layer["plan.python_nodes"] == 0:
        out["exec.arrow_bytes_to_python"] = "no Python evaluation node in any plan"
    return out


def peak_rss_mb(spark) -> float:
    """VmHWM of the driver JVM plus this Python driver."""
    from perfbench.tracing import vm_hwm_mb

    jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
    return vm_hwm_mb(jvm_pid) + vm_hwm_mb()


def run(args, work: str, out_dir: str) -> dict:
    """One benchmark run; returns the result line."""
    from bigdata_capstone_spark.session import build_session
    from perfbench import datagen
    from perfbench.tracing import Tracer

    wl, host = WORKLOADS[args.workload], host_info()
    event_log = os.path.join(work, "eventlog") if args.trace else None
    prepare_env(work, host, event_log)
    sf_dir = datagen.generate(os.path.join(work, "data"), wl.sf)
    print(f"# host nproc={host['nproc']} mem_total_mb={host['mem_total_mb']} "
          f"driver_heap={host['driver_heap']} workload={args.workload} "
          f"sf={wl.sf} seed={args.seed}", flush=True)
    t0 = time.perf_counter()
    spark = build_session(app_name=f"perfbench-{args.workload}")
    try:
        session_s = time.perf_counter() - t0
        runner = Runner(spark, wl, sf_dir, args.seed,
                        tracer=Tracer(spark) if args.trace else None)
        warm_s = runner.warmup_and_check()
        print(f"# setup session={session_s:.3f}s warmup={warm_s:.3f}s",
              file=sys.stderr, flush=True)
        if args.trace:
            runner.enable_tracing()
        untraced, traced = runner.measure(args.seconds)
        runner.disable_tracing()
        rss = peak_rss_mb(spark)
    finally:
        stop_spark(spark)

    samples = [dt for _, _, dt in runner.samples]
    if len(samples) < 2:
        raise RuntimeError("fewer than two timed query samples succeeded; "
                           "see the failures above")
    e2e = end_to_end(session_s + warm_s, untraced, samples)
    failed = len(runner.failures)
    report = {
        "host": host, "workload": args.workload, "sf": wl.sf, "seed": args.seed,
        "queries": list(wl.queries),
        "setup": {"session_s": session_s, "warmup_s": warm_s},
        "passes": runner.pass_walls, "query_samples": len(samples),
        "query_times": [{"pass": p, "query": q, "s": dt} for p, q, dt in runner.samples],
        "failures": runner.failures, "failed_frac": failed / runner.attempted,
        "end_to_end": e2e, "peak_rss_mb": rss,
    }
    print(f"# failed_frac={report['failed_frac']:.4f} (of {runner.attempted}) "
          f"peak_rss_mb={rss:.1f} MiB query_samples={len(samples)} "
          f"pass_s={[round(p['s'], 3) for p in runner.pass_walls]}", flush=True)
    if args.trace:
        report.update(traced_layers(runner, traced, event_log, host["nproc"],
                                    session_s, e2e["pass_s"], rss))
        path = os.path.join(out_dir, f"trace-{args.workload}-seed{args.seed}.json")
        with open(path, "w") as f:
            json.dump(report, f, indent=1)
        print(f"# trace written to {os.path.relpath(path, ROOT)}", file=sys.stderr)
        metrics = {k: {"value": report["layer"][k], "unit": u}
                   for k, u in LAYER_METRICS.items()}
    else:
        metrics = {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in e2e.items()}
    return {"correct": failed == 0, "attempted": runner.attempted, "failed": failed,
            "metrics": metrics}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: engine package {PACKAGE!r} not found under {ROOT}",
              file=sys.stderr)
        return 2
    out_dir = os.path.join(ROOT, ".perfbench")
    os.makedirs(out_dir, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=out_dir)
    try:
        result = run(args, work, out_dir)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
