"""Traced-run collector: spans, progress events, plan metrics, executor totals.

Everything is recorded from outside the engine, around calls into its public
functions, and kept in memory until the run writes it out:

* ``Tracer``: spans (name, start, end, parent, trace id) around layer calls.
* one ``StreamingQueryListener`` keeping every progress event
  (``durationMs``, ``stateOperators`` with the RocksDB custom metrics);
* a walk of each micro-batch's executed plan (the query's
  ``lastExecution``, taken at the sink commit and walked after the query
  stops) for the Python-kernel and Exchange SQL metrics; pulls and the
  batch twin walk their own executed plans;
* ``statusStore().executorList(true)`` totals, read when a JVM's
  SparkContext starts and before it stops.  (``stageList`` has Scala
  default arguments that py4j cannot supply, so it is not used.)

``Collector.enabled`` switches all of it off for the untraced drains that
measure the tracing overhead.
"""

from __future__ import annotations

import contextlib
import glob
import itertools
import json
import os
import re
import threading
import time
from collections import defaultdict

from pyspark.sql.streaming import StreamingQueryListener

from layers import LAYER_QUERIES


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextlib.contextmanager
    def span(self, name: str, trace: str | None = None, **attrs):
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        trace = trace or (parent["trace"] if parent else name)
        rec = {"id": next(self._ids), "name": name, "trace": trace,
               "parent": parent["id"] if parent else None, "start": time.time(), **attrs}
        stack.append(rec)
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.time()
            with self._lock:
                self.spans.append(rec)

    def add(self, name: str, start: float, end: float, trace: str, parent: int | None, **attrs) -> int:
        sid = next(self._ids)
        with self._lock:
            self.spans.append({"id": sid, "name": name, "trace": trace, "parent": parent,
                               "start": start, "end": end, **attrs})
        return sid

    def named(self, name: str, trace: str | None = None) -> list[dict]:
        return [s for s in self.spans if s["name"] == name and (trace is None or s["trace"] == trace)]

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                fh.write(json.dumps(s) + "\n")


class _ProgressLog(StreamingQueryListener):
    def __init__(self, collector: "Collector") -> None:
        self.collector = collector

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        if self.collector.enabled:
            p = json.loads(event.progress.json)
            with self.collector.lock:
                self.collector.progress[p["name"]].append(p)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


def _as_java(jvm, scala_coll):
    return jvm.scala.jdk.javaapi.CollectionConverters.asJava(scala_coll)


def plan_metrics(plan) -> dict[str, float]:
    """Sum an executed plan's SQL metrics by operator kind.

    Keys are ``<kind>.<metric>`` with kind ``python`` (Python-kernel nodes),
    ``exchange`` or ``scan``; other nodes are skipped."""
    out: dict[str, float] = defaultdict(float)
    stack = [plan]
    while stack:
        node = stack.pop()
        name = node.nodeName()
        if name.startswith("AdaptiveSparkPlan"):
            stack.append(node.executedPlan())
            continue
        if "QueryStage" in name:
            stack.append(node.plan())
            continue
        kind = ("python" if "Pandas" in name or "Python" in name or "Arrow" in name
                else "exchange" if name.startswith("Exchange")
                else "scan" if "Scan" in name else None)
        if kind is not None:
            # one py4j call for all of a node's metrics, not three per metric
            for k, v in _METRIC.findall(node.metrics().toString()):
                out[f"{kind}.{k}"] += int(v)
        # by index: a py4j iterator ends in a Java exception, which costs
        # tens of milliseconds to convert
        children = node.children()
        stack.extend(children.apply(i) for i in range(children.size()))
    return out


_METRIC = re.compile(r"(\w+) -> SQLMetric\(id: \d+, name: .*?, value: (-?\d+)\)")


def executor_totals(spark) -> dict[str, float]:
    execs = _as_java(spark._jvm, spark._jsc.sc().statusStore().executorList(True))
    tot = {"task_ms": 0.0, "gc_ms": 0.0, "failed_tasks": 0.0}
    for e in execs:
        tot["task_ms"] += e.totalDuration()
        tot["gc_ms"] += e.totalGCTime()
        tot["failed_tasks"] += e.failedTasks()
    return tot


def covered_share(intervals: list[tuple[float, float]], start: float, end: float) -> float:
    """Share of [start, end] covered by the union of the intervals."""
    cur, covered = start, 0.0
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, end)
        if b > a:
            covered += b - a
            cur = b
    return covered / (end - start) if end > start else 0.0


class Collector:
    """Everything a traced run records; see the module docstring."""

    def __init__(self, run) -> None:
        self.run = run
        self.tracer = Tracer()
        self.enabled = True
        self.lock = threading.Lock()
        self.progress: dict[str, list[dict]] = defaultdict(list)
        self.plans: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        self.executions: dict[str, list] = defaultdict(list)  # query -> IncrementalExecution
        self._streams: dict[str, object] = {}  # query -> JVM StreamExecution
        self.pull_plans: list = []  # executed plans of sampled pulls, walked in collect_context
        self.pull_files: list[float] = []
        self.sink_files: dict[str, tuple[int, int]] = {}
        self.executors: dict[str, float] = defaultdict(float)
        self.core_s = 0.0
        self.overhead_pct = float("nan")
        self._context = None
        self._hooks: list[tuple[object, str, object]] = []
        self._install()

    # -- per JVM ---------------------------------------------------------------

    def attach(self, spark) -> None:
        spark.streams.addListener(_ProgressLog(self))
        self._context = (executor_totals(spark), time.time(), self.run.cores)

    def collect_context(self, spark) -> None:
        """Executor-time deltas and the plan walks of the context's batches."""
        for query, execs in self.executions.items():
            for qe in execs:
                self.add_plan(query, plan_metrics(qe.executedPlan()))
        self.pull_files += [plan_metrics(p).get("scan.numFiles", 0.0) for p in self.pull_plans]
        self.executions.clear()
        self._streams.clear()
        self.pull_plans.clear()
        before, t0, cores = self._context
        after = executor_totals(spark)
        for k, v in after.items():
            self.executors[k] += v - before[k]
        self.core_s += (time.time() - t0) * cores

    def add_plan(self, query: str, metrics: dict[str, float]) -> None:
        with self.lock:
            acc = self.plans[query]
            for k, v in metrics.items():
                acc[k] += v

    def count_sink(self, query: str, data_dir: str) -> None:
        """Files and bytes a query's sink wrote (read after the query stops)."""
        files = glob.glob(os.path.join(data_dir, "*", "*.parquet"))
        self.sink_files[query] = (len(files), sum(os.path.getsize(f) for f in files))

    # -- hooks around the engine's public calls -----------------------------------

    def _patch(self, owner, attr: str, make) -> None:
        orig = getattr(owner, attr)
        self._hooks.append((owner, attr, orig))
        setattr(owner, attr, make(orig))

    def _install(self) -> None:
        """Spans around the sink's per-epoch commit, ``compile_select`` as the
        engine calls it, ``SelectBuilder.validate`` and ``Catalog.read``; each
        ``select_once``'s executed plan is kept for the files a pull read."""
        from ksql_spark.builder import SelectBuilder
        from ksql_spark.sources.catalog import Catalog
        from ksql_spark.streaming import engine
        from ksql_spark.streaming.sink import ExactlyOnceParquetSink

        c, tracer, pulled, pull_count = self, self.tracer, threading.local(), itertools.count()

        def timed(name):
            def make(orig):
                def call(*a, **kw):
                    if not c.enabled:
                        return orig(*a, **kw)
                    with tracer.span(name):
                        return orig(*a, **kw)
                return call
            return make

        def sink_call(orig):
            def call(sink, batch_df, batch_id):
                if not c.enabled:
                    return orig(sink, batch_df, batch_id)
                # sink roots are <workdir>/relations/<query> or <query>/sink
                parts = sink.root.rstrip("/").split("/")
                query = parts[-2] if parts[-1] == "sink" else parts[-1]
                with tracer.span("sink.commit", query, batch=batch_id):
                    orig(sink, batch_df, batch_id)
                if query not in LAYER_QUERIES:
                    return
                if query not in c._streams:
                    q = next(q for q in c.run.spark.streams.active if q.name == query)
                    c._streams[query] = q._jsq.streamingQuery()
                c.executions[query].append(c._streams[query].lastExecution())
            return call

        def compile_select(orig):
            def call(*a, **kw):
                if not c.enabled:
                    return orig(*a, **kw)
                with tracer.span("compile.select"):
                    df = orig(*a, **kw)
                pulled.df = df
                return df
            return call

        def select_once(orig):
            def call(mgr, sb):
                rows = orig(mgr, sb)
                # every 4th pull's plan, walked after the context's work
                if c.enabled and next(pull_count) % 4 == 0:
                    c.pull_plans.append(pulled.df._jdf.queryExecution().executedPlan())
                return rows
            return call

        self._patch(ExactlyOnceParquetSink, "__call__", sink_call)
        self._patch(engine, "compile_select", compile_select)
        self._patch(SelectBuilder, "validate", timed("compile.validate"))
        self._patch(Catalog, "read", timed("catalog.read"))
        self._patch(engine.PersistentQueryManager, "select_once", select_once)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._hooks):
            setattr(owner, attr, orig)
        self._hooks.clear()

    # -- tracing overhead -----------------------------------------------------------

    def overhead(self, run, mgr, cat) -> None:
        """Two more agg drains over the smaller kernel input, traced then untraced.

        Overhead = untraced rows per CPU second / traced rows per CPU second
        - 1, in %.  The untraced drain runs last, on the warmest JVM, so this
        errs high."""
        _, traced = run.phase_agg(mgr, cat, "agg_t", small=True)
        self.enabled = False
        _, untraced = run.phase_agg(mgr, cat, "agg_u", small=True)
        self.enabled = True
        self.overhead_pct = (untraced / traced - 1) * 100

    # -- output ---------------------------------------------------------------------

    def finish(self, out_dir: str) -> dict[str, float]:
        """Every per-layer metric; writes the span and layer files to ``out_dir``."""
        import layers

        self.uninstall()
        self.enabled = False
        lay = layers.derive(self)
        os.makedirs(out_dir, exist_ok=True)
        out = os.path.join(out_dir, f"{self.run.workload}-{self.run.seed}")
        self.tracer.dump(out + "-spans.jsonl")
        with open(out + "-layers.json", "w") as fh:
            json.dump({"per_layer": lay, "plan_metrics": self.plans, "setups": self.run.setups,
                       "progress": self.progress}, fh, indent=1, sort_keys=True)
        return lay
