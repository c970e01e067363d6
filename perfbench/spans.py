"""Spans and per-layer counters for the traced run (``--trace 1``).

Spans are recorded from the benchmark's own files only: `install`
rebinds each layer's public functions, in every loaded module of the
package that holds them, to a wrapper that opens a span.  Nothing in the
package itself is edited.  A span carries a name, start, end, parent
and request id (one query execution or one ETL operation); spans stay
in memory and are written out when the run ends.

Engine counters come from Spark's own stores, read between operations:
the DAG scheduler's job counter for the jobs a span or an operation
started, `AppStatusStore.lastStageAttempt` for stage task time, shuffle,
spill and GC, and the SQL status store for the Python-worker SQL metrics
of Spark 4.1.
"""

from __future__ import annotations

import functools
import json
import os
import re
import sys
import time
from collections import defaultdict

from py4j.protocol import Py4JJavaError

#: layer -> (module, attribute) pairs to wrap; ``Class.method`` wraps a
#: method on the class.  operators/ and plans/ only build DataFrames, so
#: their cost lands in ``queries.build`` and in the spark.* counters.
LAYERS = {
    "session": [
        ("session", "load_table"),
        ("session", "register_views"),
    ],
    "lakehouse": [
        ("lakehouse.table", "LakeTable.merge"),
        ("lakehouse.table", "LakeTable.create"),
        ("lakehouse.table", "LakeTable.optimize"),
        ("lakehouse.table", "LakeTable.read"),
    ],
    "pipelines": [
        ("pipelines.orders", "run_orders"),
        ("pipelines.order_items", "run_order_items"),
        ("pipelines.products", "run_products"),
        ("pipelines.runner", "validate"),
    ],
    "sources": [
        ("sources.readers", "read_csv_untyped"),
        ("sources.readers", "read_csv_with_schema"),
        ("sources.writers", "write_rejected_json"),
        ("sources.writers", "write_rejected_csv"),
        ("sources.writers", "write_log_text"),
    ],
    "streaming": [
        ("streaming.events", "stream_merge_to_table"),
        ("streaming.events", "read_events_stream"),
    ],
}

_PY_METRICS = {
    "time to run Python workers": "python_run_s",
    "time to start Python workers": "python_boot_s",
    "time to initialize Python workers": "python_init_s",
    "data sent to Python workers": "python_bytes_sent",
}
_UNITS = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4,
}


class Tracer:
    """In-memory span recorder.  ``span`` is a context manager; the
    innermost open span is the parent of the next one."""

    def __init__(self, sc):
        self._dag = sc._jsc.sc().dagScheduler()
        self.spans: list[dict] = []
        self.stack: list[int] = []
        self.request: str | None = None
        #: seconds spent in the tracer itself and in EngineCounters
        self.overhead_s = 0.0

    def jobs_started(self) -> int:
        """Spark jobs submitted so far on any thread (job ids are this
        counter's values), so stream micro-batches and helper threads
        count for the span that was open."""
        return self._dag.numTotalJobs()

    def begin(self, name: str) -> int:
        t0 = time.perf_counter()
        sid = len(self.spans)
        self.spans.append({
            "id": sid, "name": name, "request": self.request,
            "parent": self.stack[-1] if self.stack else None,
            "start": time.perf_counter(), "end": None,
            "jobs": self.jobs_started(),
        })
        self.stack.append(sid)
        self.overhead_s += time.perf_counter() - t0
        return sid

    def end(self, sid: int) -> None:
        span = self.spans[sid]
        span["end"] = time.perf_counter()
        span["jobs"] = self.jobs_started() - span["jobs"]
        self.stack.pop()
        self.overhead_s += time.perf_counter() - span["end"]

    def span(self, name: str):
        tracer = self

        class _Span:
            def __enter__(self):
                self.sid = tracer.begin(name)
                return self

            def __exit__(self, *exc):
                tracer.end(self.sid)
                return False

        return _Span()

    def self_times(self) -> dict[str, float]:
        """Seconds per span name, minus the time covered by children."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out = defaultdict(float)
        for s in self.spans:
            if s["end"] is not None:
                out[s["name"]] += s["end"] - s["start"] - child[s["id"]]
        return dict(out)

    def totals(self, prefix: str) -> tuple[float, int, int]:
        """(seconds, calls, jobs) over outermost spans named ``prefix*``:
        a nested span of the same layer is not counted twice."""
        by_id = {s["id"]: s for s in self.spans}
        secs = calls = jobs = 0
        for s in self.spans:
            if not s["name"].startswith(prefix) or s["end"] is None:
                continue
            p = s["parent"]
            nested = False
            while p is not None:
                if by_id[p]["name"].startswith(prefix):
                    nested = True
                    break
                p = by_id[p]["parent"]
            if not nested:
                secs += s["end"] - s["start"]
                calls += 1
                jobs += s.get("jobs", 0)
        return secs, calls, jobs

    def count_under(self, names: tuple, ancestor: str) -> int:
        """Spans named in ``names`` with an ancestor named ``ancestor``
        (e.g. one LakeTable commit per stream micro-batch)."""
        by_id = {s["id"]: s for s in self.spans}
        n = 0
        for s in self.spans:
            if s["name"] not in names:
                continue
            p = s["parent"]
            while p is not None and by_id[p]["name"] != ancestor:
                p = by_id[p]["parent"]
            n += p is not None
        return n

    def dump(self, path: str) -> None:
        t0 = min((s["start"] for s in self.spans), default=0.0)
        with open(path, "w") as fh:
            for s in self.spans:
                rec = dict(s)
                rec["start"] = round(s["start"] - t0, 6)
                rec["end"] = None if s["end"] is None else round(s["end"] - t0, 6)
                fh.write(json.dumps(rec) + "\n")


def install(tracer: Tracer, package: str) -> None:
    """Rebind every function named in LAYERS to a span-opening wrapper,
    in each loaded module of ``package`` that holds it (module
    attributes and module-level dicts such as a dispatch table)."""
    import importlib

    for layer, targets in LAYERS.items():
        for mod_name, attr in targets:
            mod = importlib.import_module(f"{package}.{mod_name}")
            if "." in attr:
                cls_name, meth = attr.split(".")
                cls = getattr(mod, cls_name)
                raw = cls.__dict__[meth]
                kind = type(raw) if isinstance(raw, (staticmethod, classmethod)) else None
                wrapped = _wrap(tracer, f"{layer}.{meth}", raw.__func__ if kind else raw)
                setattr(cls, meth, kind(wrapped) if kind else wrapped)
                continue
            orig = getattr(mod, attr)
            wrapped = _wrap(tracer, f"{layer}.{attr}", orig)
            for m in list(sys.modules.values()):
                if not getattr(m, "__name__", "").startswith(package):
                    continue
                for k, v in list(vars(m).items()):
                    if v is orig:
                        setattr(m, k, wrapped)
                    elif isinstance(v, dict) and any(dv is orig for dv in v.values()):
                        for dk, dv in list(v.items()):
                            if dv is orig:
                                v[dk] = wrapped


def _wrap(tracer: Tracer, name: str, fn):
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        with tracer.span(name):
            return fn(*args, **kwargs)

    return wrapper


class EngineCounters:
    """Spark-side counters for the jobs of each operation."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self.totals: dict[str, float] = defaultdict(float)
        self._exec_seen = int(self.sql_store.executionsCount())

    def collect(self, jobs: range) -> None:
        """Add the stages of ``jobs`` and the Python SQL metrics of the
        SQL executions since the last call to the totals."""
        tracker = self.sc.statusTracker()
        t = self.totals
        t["spark.jobs"] += len(jobs)
        stages = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        for sid in stages:
            try:
                sd = self.store.lastStageAttempt(sid)
            except Py4JJavaError:  # a skipped stage has no attempt
                continue
            t["spark.stages"] += 1
            t["spark.tasks"] += sd.numCompleteTasks()
            t["spark.task_run_s"] += sd.executorRunTime() / 1e3
            t["spark.shuffle_read_bytes"] += sd.shuffleReadBytes()
            t["spark.shuffle_write_bytes"] += sd.shuffleWriteBytes()
            t["spark.spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            t["spark.gc_s"] += sd.jvmGcTime() / 1e3
        self._python_metrics()

    def _python_metrics(self) -> None:
        n = int(self.sql_store.executionsCount())
        if n <= self._exec_seen:
            return
        execs = self.sql_store.executionsList(self._exec_seen, n - self._exec_seen)
        self._exec_seen = n
        for i in range(execs.size()):
            ex = execs.apply(i)
            # a plan's metric list can name one accumulator twice
            wanted = {
                (m.group(1), int(m.group(2)))
                for m in re.finditer(
                    r"SQLPlanMetric\(([^,]+),(\d+),", ex.metrics().toString()
                )
                if m.group(1) in _PY_METRICS
            }
            if not wanted:
                continue
            values = self.sql_store.executionMetrics(ex.executionId())
            for label, acc in wanted:
                opt = values.get(acc)
                if opt.isDefined():
                    self.totals[f"functions.{_PY_METRICS[label]}"] += _parse_metric(opt.get())

    def residue(self, scratch: str) -> dict[str, float]:
        """State a long-lived session can accumulate between operations."""
        jvm = self.sc._jvm
        rt = jvm.java.lang.Runtime.getRuntime()
        catalog = self.spark._jsparkSession.sessionState().catalog()
        return {
            "rdds": self.sc._jsc.getPersistentRDDs().size(),
            "views": catalog.listLocalTempViews("*").size(),
            "streams": len(self.spark.streams.active),
            "heap_used_mb": (rt.totalMemory() - rt.freeMemory()) / 2**20,
            "scratch_bytes": dir_bytes(scratch),
        }


def _parse_metric(text: str) -> float:
    """A SQL metric's display string -> its total in s or bytes.  Totals
    print as ``total (min, med, max ...)\\n<total> (...)`` or bare."""
    body = text.split("\n", 1)[-1].strip()
    m = re.match(r"([\d.,]+)\s*([A-Za-z]+)", body)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.lstat(os.path.join(root, f)).st_size
            except OSError:
                pass
    return total
