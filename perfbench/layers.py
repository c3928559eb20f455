"""Metric definitions and the derivation of per-layer metrics from a traced run.

``END_TO_END`` and ``PER_LAYER`` map each metric to (unit, better, layer
module, what it should move).  BENCHMARK.json lists the same names with the
same units; the tests keep the two in step.  "Moves" names the end-to-end
metric a change to that layer should move and the phase of the run that
produces it (every workload runs every phase; see run.py).
"""

from __future__ import annotations

import datetime as dt
import statistics

END_TO_END = {
    "setup_s": ("s", "lower", "session, sources.catalog",
                "median of the run's 2 set-ups, each a new local[4] JVM: JVM launch and "
                "SparkSession (get_spark), then Catalog + PersistentQueryManager"),
    "rows_per_s": ("rows/s", "higher", "agg phase",
                   "tumbling drain rate at local[4], after the warm-up drain and the pattern drain: "
                   "rows after the first batch over the time of every later batch, the trailing "
                   "no-data batch included"),
    "pattern_rows_per_s": ("rows/s", "higher", "pattern phase",
                           "NFA-kernel drain rate after the warm-up drain, defined as rows_per_s"),
}

_SETUP = "setup_s (every set-up)"
_PULL = "live.pull_p50_s (live, traced runs)"
_ENGINE = "rows_per_s (agg), live.freshness_*; no_data_* -> pattern_rows_per_s (pattern)"
_STATE = ("rows_per_s (agg: many small rows), live.freshness_* (fixed cost per batch), "
          "pattern_rows_per_s (pattern: few fat rows)")
_KERNEL = "pattern_rows_per_s; no change predicted on agg and live"
_SHUFFLE = "rows_per_s (agg), batch.pattern_s (batch, traced runs)"
_CPU = ("rows_per_s or pattern_rows_per_s, when a change saves CPU work: the drains' rows over the "
        "CPU seconds (user + system) of the benchmark's process, the JVM and its Python workers, from "
        "each query's start to its end; time a hypervisor steals is not charged to them, so on a "
        "shared host this holds steadier than the wall-clock rate in a spell of steal")
_SINK = "live.freshness_*, live.pull_p50_s"
_EXEC = "every throughput metric, live.freshness_p90_s"
_LOAD = "validity of live.*: generator lateness and backlog growth"
_TRACE = "none: the cost and the blind spots of tracing itself"

_KERNEL_MOD = "operators.cep_nfa"
_STATE_MOD = "RocksDB state store"

PER_LAYER = {
    "setup.session_ms": ("ms", "lower", "session", _SETUP),
    "setup.catalog_ms": ("ms", "lower", "sources.catalog", _SETUP),
    "compile.validate_ms": ("ms", "lower", "builder", _PULL),
    "compile.select_ms": ("ms", "lower", "operators.compile", _PULL),
    "catalog.read_ms": ("ms", "lower", "sources.catalog", _PULL),
    "engine.start_ms": ("ms", "lower", "streaming.engine", _ENGINE),
    "engine.batches": ("count", "lower", "streaming.engine", _ENGINE),
    "engine.no_data_batches": ("count", "lower", "streaming.engine", _ENGINE),
    "engine.no_data_ms": ("ms", "lower", "streaming.engine", _ENGINE),
    "engine.trigger_ms": ("ms", "lower", "streaming.engine", _ENGINE),
    "engine.latestOffset_ms": ("ms", "lower", "streaming.engine", _ENGINE),
    "engine.getBatch_ms": ("ms", "lower", "streaming.engine", _ENGINE),
    "engine.queryPlanning_ms": ("ms", "lower", "streaming.engine", _ENGINE),
    "engine.addBatch_ms": ("ms", "lower", "streaming.engine", _ENGINE),
    "engine.walCommit_ms": ("ms", "lower", "streaming.engine", _ENGINE),
    "engine.commitOffsets_ms": ("ms", "lower", "streaming.engine", _ENGINE),
    "engine.rows_dropped_late": ("count", "lower", "streaming.engine",
                                 "must stay 0: every late row is within the grace period"),
    "state.commit_ms": ("ms", "lower", _STATE_MOD, _STATE),
    "state.load_ms": ("ms", "lower", _STATE_MOD, _STATE),
    "state.file_sync_ms": ("ms", "lower", _STATE_MOD, _STATE),
    "state.changelog_commit_ms": ("ms", "lower", _STATE_MOD, _STATE),
    "state.get_count": ("count", "lower", _STATE_MOD, _STATE),
    "state.put_count": ("count", "lower", _STATE_MOD, _STATE),
    "state.bytes_written": ("bytes", "lower", _STATE_MOD, _STATE),
    "state.rows_total": ("count", "lower", _STATE_MOD, _STATE),
    "state.memory_bytes": ("bytes", "lower", _STATE_MOD, _STATE),
    "kernel.python_boot_ms": ("ms", "lower", _KERNEL_MOD, _KERNEL),
    "kernel.python_init_ms": ("ms", "lower", _KERNEL_MOD, _KERNEL),
    "kernel.python_total_ms": ("ms", "lower", _KERNEL_MOD, _KERNEL),
    "kernel.bytes_to_python": ("bytes", "lower", _KERNEL_MOD, _KERNEL),
    "kernel.bytes_from_python": ("bytes", "lower", _KERNEL_MOD, _KERNEL),
    "kernel.rows_from_python": ("count", "lower", _KERNEL_MOD, _KERNEL),
    "kernel.updates_ms": ("ms", "lower", _KERNEL_MOD, _KERNEL),
    "kernel.removals_ms": ("ms", "lower", _KERNEL_MOD, _KERNEL),
    "shuffle.bytes_written": ("bytes", "lower", "shuffle", _SHUFFLE),
    "shuffle.records_written": ("count", "lower", "shuffle", _SHUFFLE),
    "shuffle.write_ms": ("ms", "lower", "shuffle", _SHUFFLE),
    "shuffle.fetch_wait_ms": ("ms", "lower", "shuffle", _SHUFFLE),
    "sink.commits": ("count", "lower", "streaming.sink", _SINK),
    "sink.commit_ms": ("ms", "lower", "streaming.sink", _SINK),
    "sink.files_written": ("count", "lower", "streaming.sink", _SINK),
    "sink.bytes_written": ("bytes", "lower", "streaming.sink", _SINK),
    "sink.changelog_files_read": ("count", "lower", "streaming.sink", _SINK),
    "executor.task_ms": ("ms", "lower", "executors", _EXEC),
    "executor.busy_ratio": ("ratio", "higher", "executors", _EXEC),
    "executor.gc_ms": ("ms", "lower", "executors", _EXEC),
    "executor.failed_tasks": ("count", "lower", "executors", _EXEC),
    "drain.rows_per_cpu_s": ("rows/cpu_s", "higher", "agg phase", _CPU),
    "drain.pattern_rows_per_cpu_s": ("rows/cpu_s", "higher", "pattern phase", _CPU),
    "batch.pattern_s": ("s", "lower", "operators.cep_nfa (batch lowering), shuffle",
                        "none gated: median batch match_pattern run, plan to collected rows, repeated "
                        "for half of --seconds (traced runs); spreads too widely run to run for a bound"),
    "scaling.eff": ("ratio", "higher", "streaming.engine, RocksDB state store, shuffle",
                    "none gated: the north rule's N->4N proxy, the agg drain rate at local[4] / (4 x the "
                    "same rate at local[1]), each after a warm-up drain in a new JVM (traced runs); "
                    "a ratio of two drains spreads too widely run to run for a bound"),
    "memory.peak_rss_mb": ("MB", "lower", "all", "none gated: peak RSS of the JVM plus the Python process; "
                           "JVM heap growth makes it spread too widely run to run for a bound"),
    "live.freshness_p50_s": ("s", "lower", "streaming.engine, streaming.sink",
                             "sink commit - latest generator stamp per result row; "
                             "spreads too widely run to run for a bound"),
    "live.freshness_p90_s": ("s", "lower", "streaming.engine, streaming.sink", "as live.freshness_p50_s"),
    "live.pull_p50_s": ("s", "lower", "operators.compile, sources.catalog, streaming.sink",
                        "select_once latency from its due time; spreads too widely for a bound"),
    "loadgen.late_ms_max": ("ms", "lower", "benchmark generator", _LOAD),
    "loadgen.backlog_files_max": ("count", "lower", "benchmark generator", _LOAD),
    "trace.overhead_pct": ("%", "lower", "benchmark tracer", _TRACE),
    "trace.uncovered_agg": ("ratio", "lower", "benchmark tracer", _TRACE),
    "trace.uncovered_pattern": ("ratio", "lower", "benchmark tracer", _TRACE),
}

END_TO_END_UNITS = {k: v[0] for k, v in END_TO_END.items()}
PER_LAYER_UNITS = {k: v[0] for k, v in PER_LAYER.items()}

# the streaming queries whose progress and plans feed the engine, state,
# kernel, shuffle and sink metrics; the overhead and local[1] drains are
# left out so that every workload sums the same queries
LAYER_QUERIES = ("agg", "pattern", "live")
_PHASES = ("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit", "commitOffsets")
_STATE_CUSTOM = {
    "state.load_ms": "rocksdbLoadLatencyMs",
    "state.file_sync_ms": "rocksdbCommitFileSyncLatencyMs",
    "state.changelog_commit_ms": "rocksdbChangeLogWriterCommitLatencyMs",
    "state.get_count": "rocksdbGetCount",
    "state.put_count": "rocksdbPutCount",
    "state.bytes_written": "rocksdbTotalBytesWritten",
}
_PLAN = {
    "kernel.python_boot_ms": "python.pythonBootTime",
    "kernel.python_init_ms": "python.pythonInitTime",
    "kernel.python_total_ms": "python.pythonTotalTime",
    "kernel.bytes_to_python": "python.pythonDataSent",
    "kernel.bytes_from_python": "python.pythonDataReceived",
    "kernel.rows_from_python": "python.pythonNumRowsReceived",
    "shuffle.bytes_written": "exchange.shuffleBytesWritten",
    "shuffle.records_written": "exchange.shuffleRecordsWritten",
    "shuffle.fetch_wait_ms": "exchange.fetchWaitTime",
}


def _epoch(ts: str) -> float:
    return dt.datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=dt.timezone.utc).timestamp()


def _engine_and_state(c, acc: dict[str, float]) -> None:
    """Sum progress events of the layer queries; add one span per batch phase."""
    for name in LAYER_QUERIES:
        root = c.tracer.named("query", name)[0]
        for p in c.progress[name]:
            ms = p["durationMs"]
            trig = ms.get("triggerExecution", 0)
            start = _epoch(p["timestamp"])
            sid = c.tracer.add("engine.batch", start, start + trig / 1e3, name, root["id"],
                               batch=p["batchId"], rows=p["numInputRows"])
            t = start
            for ph in _PHASES:
                if ph in ms:
                    c.tracer.add(f"engine.{ph}", t, t + ms[ph] / 1e3, name, sid)
                    t += ms[ph] / 1e3
                acc[f"engine.{ph}_ms"] += ms.get(ph, 0)
            acc["engine.batches"] += 1
            acc["engine.trigger_ms"] += trig
            if p["numInputRows"] == 0:
                acc["engine.no_data_batches"] += 1
                acc["engine.no_data_ms"] += trig
            for s in p.get("stateOperators", []):
                acc["state.commit_ms"] += s.get("commitTimeMs", 0)
                acc["engine.rows_dropped_late"] += s.get("numRowsDroppedByWatermark", 0)
                cm = s.get("customMetrics", {})
                for k, src in _STATE_CUSTOM.items():
                    acc[k] += cm.get(src, 0)
                if "Pandas" in s["operatorName"]:
                    acc["kernel.updates_ms"] += s.get("allUpdatesTimeMs", 0)
                    acc["kernel.removals_ms"] += s.get("allRemovalsTimeMs", 0)
                acc["state.memory_bytes"] = max(acc["state.memory_bytes"], s.get("memoryUsedBytes", 0))
        last = c.progress[name][-1] if c.progress[name] else {}
        acc["state.rows_total"] += sum(s.get("numRowsTotal", 0) for s in last.get("stateOperators", []))


def uncovered(c, query: str) -> float:
    """Share of a query's wall time that no layer span covers."""
    from tracing import covered_share

    (root,) = c.tracer.named("query", query)
    layer_spans = ("compile.pattern", "engine.start", "engine.batch")
    iv = [(s["start"], s["end"]) for s in c.tracer.spans if s["trace"] == query and s["name"] in layer_spans]
    return 1.0 - covered_share(iv, root["start"], root["end"])


def derive(c) -> dict[str, float]:
    """Every PER_LAYER metric from a collector ``c`` after a traced run."""
    acc: dict[str, float] = {k: 0.0 for k in PER_LAYER}
    _engine_and_state(c, acc)
    for k in ("session_ms", "catalog_ms"):
        acc[f"setup.{k}"] = statistics.median(s[k] for s in c.run.local4_setups())

    def per_pull_median(name: str) -> float:
        per: dict[str, float] = {}
        for s in c.tracer.spans:
            if s["name"] == name and s["trace"].startswith("pull-"):
                per[s["trace"]] = per.get(s["trace"], 0.0) + (s["end"] - s["start"]) * 1e3
        return statistics.median(per.values()) if per else 0.0

    acc["compile.validate_ms"] = per_pull_median("compile.validate")
    acc["compile.select_ms"] = per_pull_median("compile.select")
    acc["catalog.read_ms"] = per_pull_median("catalog.read")
    acc["engine.start_ms"] = sum((s["end"] - s["start"]) * 1e3 for s in c.tracer.named("engine.start")
                                 if s["trace"] in LAYER_QUERIES)

    plans: dict[str, float] = {}
    for q in LAYER_QUERIES + ("batch_pattern",):
        for k, v in c.plans.get(q, {}).items():
            plans[k] = plans.get(k, 0.0) + v
    for k, src in _PLAN.items():
        acc[k] = plans.get(src, 0.0)
    acc["shuffle.write_ms"] = plans.get("exchange.shuffleWriteTime", 0.0) / 1e6  # ns

    commits = [s for s in c.tracer.named("sink.commit") if s["trace"] in LAYER_QUERIES]
    acc["sink.commits"] = len(commits)
    acc["sink.commit_ms"] = sum((s["end"] - s["start"]) * 1e3 for s in commits)
    for q in LAYER_QUERIES:
        files, size = c.sink_files.get(q, (0, 0))
        acc["sink.files_written"] += files
        acc["sink.bytes_written"] += size
    acc["sink.changelog_files_read"] = statistics.median(c.pull_files) if c.pull_files else 0.0

    ex = c.executors
    acc["executor.task_ms"] = ex["task_ms"]
    acc["executor.gc_ms"] = ex["gc_ms"]
    acc["executor.failed_tasks"] = ex["failed_tasks"]
    acc["executor.busy_ratio"] = ex["task_ms"] / (c.core_s * 1e3)

    acc.update(c.run.layer)
    acc["trace.overhead_pct"] = c.overhead_pct
    for q in ("agg", "pattern"):
        acc[f"trace.uncovered_{q}"] = uncovered(c, q)
    return acc
