"""Layer tracing from outside the engine.

Everything here observes the engine through its public entry points and
Spark's own instrumentation; no engine code is modified:

- spans (name, start, end, parent, query id) recorded around calls into
  each layer, including the public ``DataFrame``-returning functions of the
  ``operators.{ckpt,graph,dedup,simsearch,maintenance}`` modules and
  ``sources.tables.load_table``, which :class:`OperatorPatch` wraps for the
  duration of a traced pass;
- Spark jobs counted by the job-id high-water mark (the DAG scheduler's
  next job id), so a span's jobs are the id range it covered. The length of
  ``statusTracker().getJobIdsForGroup(None)`` is not used: the retained-job
  cap makes it shrink;
- stage/task metrics read back from the Spark event log and attributed to
  spans through those job-id ranges;
- streaming micro-batches from a ``StreamingQueryListener``;
- heap and GC time from the driver JVM's MXBeans, over py4j.
"""

from __future__ import annotations

import contextlib
import glob
import importlib
import inspect
import json
import os
import re
import sys
import time
from collections import Counter, defaultdict
from dataclasses import dataclass, field

from pyspark.sql.streaming import StreamingQueryListener

OPERATOR_MODULES = ("ckpt", "graph", "dedup", "simsearch", "maintenance")
_PKG = "bigdata_capstone_spark"


def next_job_id(spark) -> int:
    """Id the next Spark job will get: the job-id high-water mark + 1."""
    v = spark.sparkContext._jsc.sc().dagScheduler().nextJobId()
    return v if isinstance(v, int) else v.get()


def drain_listener_bus(spark) -> None:
    """Block until every posted listener event has been delivered."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    query: str | None = None
    job_start: int = 0
    job_end: int = 0
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start

    @property
    def jobs(self) -> int:
        return self.job_end - self.job_start


class Tracer:
    """Spans kept in memory; written out once the run ends."""

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.query: str | None = None

    @contextlib.contextmanager
    def span(self, name: str, query: str | None = None, **attrs):
        if query is not None:
            self.query = query
        s = Span(
            name,
            time.perf_counter(),
            parent=self._stack[-1] if self._stack else None,
            query=self.query,
            job_start=next_job_id(self.spark),
            attrs=attrs,
        )
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        try:
            yield s
        finally:
            self._stack.pop()
            s.job_end = next_job_id(self.spark)
            s.end = time.perf_counter()
            if query is not None:
                self.query = None

    def ancestors(self, s: Span):
        while s.parent is not None:
            s = self.spans[s.parent]
            yield s

    def outermost(self, name: str, spans=None) -> list[Span]:
        """Spans called ``name`` that are not nested in another of the same
        name, so recursive or same-module calls are counted once."""
        spans = self.spans if spans is None else spans
        return [
            s
            for s in spans
            if s.name == name and all(a.name != name for a in self.ancestors(s))
        ]


class OperatorPatch:
    """Wrap the traced layer entry points in spans, and restore them.

    Callers bind functions with ``from ... import f`` at import time, so
    each wrapped function is replaced in every loaded engine module whose
    namespace holds it, not only in its defining module.
    """

    def __init__(self, tracer: Tracer):
        self.tracer = tracer
        self.tables_read: set[str] = set()
        self._saved: list[tuple[object, str, object]] = []

    def _wrappers(self) -> dict[int, object]:
        out: dict[int, object] = {}
        for short in OPERATOR_MODULES:
            mod = importlib.import_module(f"{_PKG}.operators.{short}")
            for name, fn in vars(mod).items():
                if (
                    name.startswith("_")
                    or not inspect.isfunction(fn)
                    or fn.__module__ != mod.__name__
                    or "DataFrame" not in str(inspect.signature(fn).return_annotation)
                ):
                    continue
                wrap = self._wrap_ckpt if short == "ckpt" else self._wrap
                out[id(fn)] = wrap(fn, f"operators.{short}")
        tables = sys.modules[f"{_PKG}.sources.tables"]
        out[id(tables.load_table)] = self._wrap_load(tables.load_table)
        return out

    def _wrap(self, fn, span_name):
        tracer = self.tracer

        def wrapper(*a, **kw):
            with tracer.span(span_name, fn=fn.__name__):
                return fn(*a, **kw)

        wrapper.__wrapped__ = fn
        return wrapper

    def _wrap_ckpt(self, fn, span_name):
        """``lineage_truncation`` is a context manager whose work happens in
        the ``ckpt(df)`` callable it yields; time each of those calls."""
        tracer = self.tracer

        @contextlib.contextmanager
        def wrapper(*a, **kw):
            with fn(*a, **kw) as ckpt:

                def timed(df):
                    with tracer.span(span_name, fn=fn.__name__):
                        return ckpt(df)

                yield timed

        wrapper.__wrapped__ = fn
        return wrapper

    def _wrap_load(self, fn):
        tracer, tables = self.tracer, self.tables_read

        def wrapper(spark, sf_dir, name, *a, **kw):
            tables.add(name)
            with tracer.span("sources.load_table", table=name):
                return fn(spark, sf_dir, name, *a, **kw)

        wrapper.__wrapped__ = fn
        return wrapper

    def install(self) -> None:
        wrappers = self._wrappers()
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not (mod_name == _PKG or mod_name.startswith(_PKG + ".")):
                continue
            for attr, val in list(vars(mod).items()):
                w = wrappers.get(id(val))
                if w is not None:
                    self._saved.append((mod, attr, val))
                    setattr(mod, attr, w)

    def uninstall(self) -> None:
        for mod, attr, val in reversed(self._saved):
            setattr(mod, attr, val)
        self._saved.clear()


class StreamingProgress(StreamingQueryListener):
    """Streaming micro-batches as (time received, batch seconds); a batch
    belongs to the query span that contains its receipt time."""

    def __init__(self):
        self.batches: list[tuple[float, float]] = []

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        ms = event.progress.durationMs.get("triggerExecution", 0)
        self.batches.append((time.perf_counter(), ms / 1000.0))

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


class JvmProbe:
    """Heap peak and GC time of the driver JVM, from its MXBeans."""

    def __init__(self, spark):
        mf = spark._jvm.java.lang.management.ManagementFactory
        self._heap = [
            p for p in mf.getMemoryPoolMXBeans() if str(p.getType()) == "Heap memory"
        ]
        self._gcs = list(mf.getGarbageCollectorMXBeans())

    def reset_heap_peak(self) -> None:
        for p in self._heap:
            p.resetPeakUsage()

    def heap_peak_mb(self) -> float:
        return sum(p.getPeakUsage().getUsed() for p in self._heap) / 2**20

    def gc_seconds(self) -> float:
        return sum(max(0, g.getCollectionTime()) for g in self._gcs) / 1000.0


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set size (VmHWM) of a process, in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM in /proc/{pid}/status")


_NODE = re.compile(r"^[\s:|+\-]*(?:\*\(\d+\)\s*)?(\w+)")
_PYTHON_NODE = re.compile(r"Python|Pandas|InArrow")


def plan_counts(spark_plan) -> dict[str, int]:
    """Exchanges and Python-evaluation nodes in a physical plan tree."""
    exchanges = python_nodes = 0
    for line in spark_plan.toString().splitlines():
        m = _NODE.match(line)
        if not m:
            continue
        node = m.group(1)
        if node in ("Exchange", "ShuffleExchange", "BroadcastExchange"):
            exchanges += 1
        elif _PYTHON_NODE.search(node):
            python_nodes += 1
    return {"exchanges": exchanges, "python_nodes": python_nodes}


JOB_METRICS = (
    "jobs",
    "stages",
    "tasks",
    "failed_tasks",
    "task_busy_s",
    "gc_s",
    "input_bytes",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "arrow_bytes_to_python",
)


class EventLog:
    """Per-job totals read from a Spark event log directory."""

    def __init__(self, log_dir: str):
        self.job_starts: set[int] = set()
        self.per_job: dict[int, Counter] = defaultdict(Counter)
        stage_job: dict[int, int] = {}
        for path in _event_files(log_dir):
            with open(path) as f:
                for line in f:
                    e = json.loads(line)
                    kind = e["Event"]
                    if kind == "SparkListenerJobStart":
                        jid = e["Job ID"]
                        self.job_starts.add(jid)
                        self.per_job[jid]["jobs"] += 1
                        for sid in e["Stage IDs"]:
                            stage_job.setdefault(sid, jid)
                    elif kind == "SparkListenerStageCompleted":
                        sid = e["Stage Info"]["Stage ID"]
                        if sid in stage_job:
                            self.per_job[stage_job[sid]]["stages"] += 1
                    elif kind == "SparkListenerTaskEnd" and e["Stage ID"] in stage_job:
                        _add_task(self.per_job[stage_job[e["Stage ID"]]], e)

    def totals(self, job_start: int, job_end: int) -> Counter:
        out: Counter = Counter({k: 0 for k in JOB_METRICS})
        for jid in range(job_start, job_end):
            out.update(self.per_job.get(jid, {}))
        return out


def _event_files(log_dir: str) -> list[str]:
    def index(p: str) -> int:
        m = re.match(r"events_(\d+)_", os.path.basename(p))
        return int(m.group(1)) if m else 0

    files: list[str] = []
    for entry in sorted(glob.glob(os.path.join(log_dir, "*"))):
        if os.path.isdir(entry):
            files += sorted(glob.glob(os.path.join(entry, "events_*")), key=index)
        else:
            files.append(entry)
    if not files:
        raise FileNotFoundError(f"no Spark event log under {log_dir}")
    return files


def _add_task(c: Counter, e: dict) -> None:
    c["tasks"] += 1
    if e["Task End Reason"]["Reason"] != "Success":
        c["failed_tasks"] += 1
    m = e.get("Task Metrics") or {}
    c["task_busy_s"] += m.get("Executor Run Time", 0) / 1000.0
    c["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
    c["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
    c["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
    rd = m.get("Shuffle Read Metrics") or {}
    c["shuffle_read_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get(
        "Local Bytes Read", 0
    )
    wr = m.get("Shuffle Write Metrics") or {}
    c["shuffle_write_bytes"] += wr.get("Shuffle Bytes Written", 0)
    for acc in (e.get("Task Info") or {}).get("Accumulables", ()):
        if acc.get("Name") == "data sent to Python workers":
            c["arrow_bytes_to_python"] += int(acc.get("Update", 0))
