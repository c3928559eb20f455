"""ksql_spark benchmark: one run of one workload.

    python3 perfbench/run.py --workload fixture_unit --seed 1 --seconds 10 --trace 0

Run from the root of a source checkout.  A run starts local[4] JVMs one
after the other and goes through the same phases on every workload; each
query gets fresh checkpoint and sink directories:

  JVM 1:
    warm-up  the agg query below over the agg input, unmeasured: it pays the
             JVM's class loading and much of its JIT compilation
    pattern  3-leg NFA user -> tool -> assistant per conv_id, mode "all",
             drained with availableNow, one file per micro-batch
    agg      tumbling 5-minute COUNT/SUM/MAX per conv_id, EMIT CHANGES,
             drained the same way (JVM only)
    batch    the batch twin ``match_pattern`` on the same input, once for
             the check; traced runs run it again and again for half of
             ``--seconds``
    live     traced runs only: the agg query on a processing-time trigger,
             fed by an open-loop file generator for ``--seconds``, while
             ``select_once`` pull queries on QUERYABLE_live arrive on a
             fixed schedule
  JVM 2 (untraced runs only): nothing but its set-up

Each JVM starts with one set-up: JVM launch and SparkSession, then a
Catalog with its PersistentQueryManager.  ``setup_s`` is the median of the
two set-ups.  Traced runs first run the warm-up and the agg drain in a
local[1] JVM of its own, for the scaling ratio of the agg drains.

Workloads change the input, not the phases, so every run reports every
end-to-end metric.  The live phase's freshness and pull latency, the batch
twin's time and the scaling ratio spread too widely from seed to seed to
gate (see README.md), so they are per-layer figures of the traced run.
Outputs are checked after each phase, outside the timed regions: against
DuckDB (agg, live), against the batch twin (pattern) and against the final
state (pulls); every mismatching row or pull counts as a failed operation.
The last stdout line is the result JSON.  ``--trace 1`` reports the
per-layer metrics instead and writes the span file under
``.perfbench/traces/``.
"""

from __future__ import annotations

import argparse
import contextlib
import glob
import json
import os
import queue
import random
import shutil
import statistics
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench")

sys.path.insert(0, HERE)

import check  # noqa: E402
import layers  # noqa: E402
from gen import Shape, file_names, materialize, sentinel, split, stamp  # noqa: E402
from stats import percentile  # noqa: E402

CORES = 4
GRACE = "10 minutes"
PATTERN_WITHIN_S = 600
LIVE_TRIGGER = "1 second"
LIVE_FILES_PER_S = 4
LIVE_ROWS_PER_S = 1_000
PULLS_PER_S = 2
PULL_THREADS = 3  # + the file generator = 4 load threads, one per core
SENTINEL_CONV = "~sentinel"

# The two workloads are the two transcript scales FIXTURES.md suggests:
# ~10 turns per conversation (the fixture's default) and ~20 (its parity
# scale).  The conversation counts are sized to the run's time budget.
# ``agg`` feeds the agg drains and (its first rows) the live phase;
# ``kernel`` is smaller because a Python-kernel micro-batch costs seconds.
# The first file of each is small: the first micro-batch of a query pays
# one-off costs and is left out of the drain rates (see drain_rate).
WORKLOADS = {
    "fixture_unit": {
        "agg": Shape(n_convs=10_000, avg_turns=10, n_files=6, first_rows=1_000),
        "kernel": Shape(n_convs=1_000, avg_turns=10, n_files=4, first_rows=300),
    },
    "fixture_parity": {
        "agg": Shape(n_convs=5_000, avg_turns=20, n_files=6, first_rows=1_000),
        "kernel": Shape(n_convs=500, avg_turns=20, n_files=4, first_rows=300),
    },
}


_T0 = time.perf_counter()


def _log(msg: str) -> None:
    sys.stderr.write(f"perfbench {time.perf_counter() - _T0:6.1f} s: {msg}\n")
    sys.stderr.flush()


class Run:
    """One benchmark run: inputs, engine contexts, measurements, checks."""

    def __init__(self, workload: str, seed: int, seconds: int, trace: bool):
        self.workload, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.shapes = WORKLOADS[workload]
        self.work = os.path.join(WORK_ROOT, f"run-{os.getpid()}-{time.time_ns()}")
        self.e2e: dict[str, float] = {}
        self.layer: dict[str, float] = {}  # per-layer figures every run measures
        self.attempted = 0
        self.failed = 0
        self.mismatch_notes: list[str] = []
        self.setups: list[dict[str, float]] = []
        self.spark = None
        self.cores = CORES
        self.collector = None  # tracing.Collector on traced runs
        self.peak_rss_mb = 0.0  # the largest JVM's, with this process

    # -- inputs (outside every timed region) ------------------------------

    def prepare(self) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        cache = os.path.join(WORK_ROOT, "cache")
        self.agg_dir = os.path.join(materialize(cache, self.shapes["agg"], self.seed), "files")
        kernel_dir = os.path.join(materialize(cache, self.shapes["kernel"], self.seed), "files")
        os.makedirs(self.work)
        self.agg_rows = _rows(self.agg_dir)
        self.kernel_rows = _rows(kernel_dir)
        self.want_tumbling = check.tumbling(os.path.join(self.agg_dir, "*.parquet"))
        # kernel input, with one sentinel row a day later in event time
        # added to the last file: the watermark then passes every pattern
        # window, and the trailing no-data batch closes them
        self.kernel_files = os.path.join(self.work, "kernel_in")
        os.makedirs(self.kernel_files)
        names = file_names(self.shapes["kernel"].n_files)
        for name in names[:-1]:
            os.link(os.path.join(kernel_dir, name), os.path.join(self.kernel_files, name))
        last = pq.read_table(os.path.join(kernel_dir, names[-1]))
        last = pa.concat_tables([last, sentinel(last.schema, last["ts"], SENTINEL_CONV)])
        pq.write_table(last, os.path.join(self.kernel_files, names[-1]))

    # -- engine set-ups -----------------------------------------------------

    def setup(self, cores: int):
        """Stop the current JVM, if any, and set up a new one: JVM launch and
        SparkSession, then a Catalog.  Returns (catalog, manager).

        The JVM's class loading falls in the first micro-batch of its first
        query, the warm-up drain's."""
        from ksql_spark.session import get_spark

        if self.spark is not None:
            self.stop()
        local = os.path.join(self.work, "spark-local")
        os.makedirs(local, exist_ok=True)
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={local}",
        }
        with self.span("setup.session", "setup"):
            t0 = time.perf_counter()
            spark = get_spark(app_name="perfbench", master=f"local[{cores}]",
                              shuffle_partitions=cores, extra_conf=conf)
            spark.sparkContext.setLogLevel("ERROR")
            t1 = time.perf_counter()
        self.spark, self.cores = spark, cores
        with self.span("setup.catalog", "setup"):
            cat_mgr = self.catalog(f"setup{len(self.setups)}")
            t2 = time.perf_counter()
        self.setups.append({"cores": cores, "session_ms": (t1 - t0) * 1e3, "catalog_ms": (t2 - t1) * 1e3})
        _log(f"set-up local[{cores}]: session {t1 - t0:.2f} s, catalog {t2 - t1:.2f} s")
        if self.collector is not None:
            self.collector.attach(spark)
        return cat_mgr

    def catalog(self, name: str):
        """A fresh Catalog + PersistentQueryManager with its own directories."""
        from pyspark.sql import types as T

        from ksql_spark import STREAM, Catalog
        from ksql_spark.streaming.engine import PersistentQueryManager

        work = os.path.join(self.work, name)
        self.live_in = os.path.join(work, "live_in")
        os.makedirs(self.live_in)
        cat = Catalog(self.spark, root=os.path.join(work, "catalog"))
        schema = T.StructType([
            T.StructField("conv_id", T.StringType()), T.StructField("turn_idx", T.IntegerType()),
            T.StructField("role", T.StringType()), T.StructField("text", T.StringType()),
            T.StructField("tool", T.StringType()), T.StructField("ts", T.TimestampType()),
        ])
        live_schema = T.StructType(schema.fields + [T.StructField("due", T.DoubleType())])
        common = dict(ref=STREAM, event_time_col="ts", event_order_cols=["ts", "turn_idx"],
                      partitions=self.cores, partition_key="conv_id")
        cat.register_parquet("turns", self.agg_dir, schema=schema, **common)
        cat.register_parquet("kturns", self.kernel_files, schema=schema, **common)
        cat.register_parquet("live_turns", self.live_in, schema=live_schema, **common)
        mgr = PersistentQueryManager(self.spark, cat, workdir=os.path.join(work, "engine"),
                                     grace=GRACE, enable_metrics=False)
        return cat, mgr

    def collect_context(self) -> None:
        if self.collector is not None:
            self.collector.collect_context(self.spark)

    def stop(self) -> None:
        """Stop the SparkContext and the JVM, and wait for the JVM to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.collect_context()
            self.peak_rss_mb = max(self.peak_rss_mb, self._peak_rss_mb())
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except Exception:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None

    def _peak_rss_mb(self) -> float:
        """Peak resident memory of the JVM plus this Python process."""
        pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        total_kb = 0
        for p in (pid, "self"):
            with open(f"/proc/{p}/status") as fh:
                total_kb += next(int(line.split()[1]) for line in fh if line.startswith("VmHWM:"))
        return total_kb / 1024

    # -- checks ----------------------------------------------------------------

    def check(self, what: str, got: list, want: list) -> None:
        bad = check.mismatches(got, want)
        self.attempted += len(want)
        self.failed += bad
        if bad:
            self.mismatch_notes.append(f"{what}: {bad} of {len(want)} rows differ")

    def _count_sink(self, query: str, data_dir: str) -> None:
        if self.collector is not None:
            self.collector.count_sink(query, data_dir)

    def span(self, name: str, trace: str):
        if self.collector is None:
            return contextlib.nullcontext({})
        return self.collector.tracer.span(name, trace)

    # -- phases ----------------------------------------------------------------

    def _agg_create(self, name: str, source: str, live: bool = False):
        from ksql_spark import TABLE, Count, Create, F, Max, Schema, Select, STREAM, Sum, TimeUnit, TumblingWindow

        fields = [F("conv_id"), Count(F("turn_idx")).Alias("n_turns"),
                  Sum(F("turn_idx")).Alias("sum_turn"), Max(F("turn_idx")).Alias("max_turn")]
        if live:
            fields.append(Max(F("due")).Alias("max_due"))
        return Create(TABLE, name).AsSelect(
            Select(*fields).From(Schema(source, STREAM))
            .WindowedBy(TumblingWindow(5, TimeUnit.MINUTES)).GroupBy(F("conv_id")).EmitChanges()
        )

    def drain(self, mgr, create) -> tuple[list[dict], float]:
        """Run one CSAS with availableNow, one file per micro-batch; return its
        progress and the CPU seconds it used, from its start to its end."""
        name = create.name
        cpu0 = cpu_s()
        with self.span("query", name):
            with self.span("engine.start", name):
                pq_ = mgr.create_as_select(create, available_now=True, await_termination=False,
                                           max_files_per_trigger=1)
            q = pq_.streaming_query
            q.awaitTermination()
        cpu = cpu_s() - cpu0
        return self._progress(q, name), cpu

    def _progress(self, q, name: str) -> list[dict]:
        exc = q.exception()
        if exc is not None:
            raise RuntimeError(f"query {name} failed: {exc}")
        progress = [json.loads(p.json) for p in q.recentProgress]
        _log(f"{name}: batch rows/ms " + " ".join(
            f"{p['numInputRows']}/{p['durationMs'].get('triggerExecution', 0)}" for p in progress))
        return progress

    @staticmethod
    def drain_rate(progress: list[dict], rows: int) -> float:
        """Transcript rows per second of micro-batch time, after the first batch.

        The first batch of a query pays one-off costs (code generation,
        state store creation, the JVM's class loading, the Python worker
        daemon) whose size depends on what ran before it; the trailing
        no-data batch is counted."""
        if sum(p["numInputRows"] for p in progress) < rows:
            raise RuntimeError("drain ended before reading all its input")
        ms = sum(p["durationMs"].get("triggerExecution", 0) for p in progress[1:])
        return (rows - progress[0]["numInputRows"]) / (ms / 1e3)

    def warm_up(self, mgr) -> None:
        """The agg drain over the agg input, unmeasured and unchecked: it pays
        the JVM's class loading and much of the JIT compilation of the scan,
        aggregate, state store and sink paths before any measured drain."""
        self.drain(mgr, self._agg_create("warmup", "turns"))

    def phase_agg(self, mgr, cat, name: str, small: bool = False) -> tuple[float, float]:
        """The agg drain over the agg input, or over the (smaller) kernel
        input: its rate (drain_rate) and its rows per CPU second."""
        source, rows, files = ("kturns", self.kernel_rows, self.kernel_files) if small else (
            "turns", self.agg_rows, self.agg_dir)
        progress, cpu = self.drain(mgr, self._agg_create(name, source))
        self._count_sink(name, mgr.queries[name].sink.data_dir)
        want = check.tumbling(os.path.join(files, "*.parquet")) if small else self.want_tumbling
        self.check(f"{name} state", self._tumbling_state(cat, f"QUERYABLE_{name}"), want)
        return self.drain_rate(progress, rows), rows / cpu

    @staticmethod
    def _tumbling_state(cat, rel: str) -> list[tuple]:
        df = cat.read(rel).toPandas()
        w = df["window_start"].astype("datetime64[us]").astype("int64")
        return sorted(zip(w.tolist(), df["conv_id"], df["n_turns"].astype(int), df["sum_turn"].astype(int),
                          df["max_turn"].astype(int)))

    @staticmethod
    def _legs():
        from pyspark.sql import functions as Fn

        return [("u", Fn.col("role") == "user", 1, 1), ("t", Fn.col("role") == "tool", 1, 1),
                ("a", Fn.col("role") == "assistant", 1, 1)]

    def phase_pattern(self) -> tuple[float, float, list]:
        """The pattern drain over the pattern input: its wall-clock rate
        (drain_rate), its rows per CPU second and its matches."""
        sink, progress, cpu = self.pattern_drain("pattern", self.kernel_files)
        rows = sink.read_data(self.spark).select("conv_id", "u_id", "t_id", "a_id").collect()
        return (self.drain_rate(progress, self.kernel_rows), self.kernel_rows / cpu,
                sorted(tuple(r) for r in rows))

    def pattern_drain(self, name: str, files: str):
        """Run the pattern query over ``files`` with availableNow, one file
        per micro-batch; return its sink, its progress and the CPU seconds
        it used, from its start to its end."""
        from ksql_spark.operators.cep_nfa import match_pattern_stream
        from ksql_spark.streaming.sink import ExactlyOnceParquetSink

        spark = self.spark
        work = os.path.join(self.work, name)
        cpu0 = cpu_s()
        with self.span("query", name):
            with self.span("compile.pattern", name):
                src = (spark.readStream.schema(spark.read.parquet(files).schema)
                       .option("maxFilesPerTrigger", 1).parquet(files)
                       .withWatermark("ts", GRACE))
                m = match_pattern_stream(src, self._legs(), within_seconds=PATTERN_WITHIN_S,
                                         key_col="conv_id", ts_col="ts", id_col="turn_idx")
            sink = ExactlyOnceParquetSink(os.path.join(work, "sink"), lineage=False)
            with self.span("engine.start", name):
                q = (m.writeStream.foreachBatch(sink).outputMode("update").queryName(name)
                     .option("checkpointLocation", os.path.join(work, "ckpt"))
                     .trigger(availableNow=True).start())
            q.awaitTermination()
        cpu = cpu_s() - cpu0
        progress = self._progress(q, name)
        self._count_sink(name, sink.data_dir)
        return sink, progress, cpu

    def phase_batch_pattern(self) -> tuple[float, list]:
        """The batch twin's rows and, in traced runs, its median wall time,
        plan to collected rows, run again and again for half of
        ``--seconds`` after a first run that is left out (it pays code
        generation).  Untraced runs run it once, for its rows."""
        from ksql_spark.operators.cep_nfa import match_pattern

        budget = self.seconds / 2 if self.collector is not None else 0
        times: list[float] = []
        while not times or sum(times[1:]) < budget:
            with self.span("query", "batch_pattern"):
                t0 = time.perf_counter()
                with self.span("compile.pattern", "batch_pattern"):
                    df = match_pattern(self.spark.read.parquet(self.kernel_files), self._legs(),
                                       within_seconds=PATTERN_WITHIN_S, key_col="conv_id", ts_col="ts",
                                       id_col="turn_idx").select("conv_id", "u_id", "t_id", "a_id")
                with self.span("engine.collect", "batch_pattern"):
                    pdf = df.toPandas()
                times.append(time.perf_counter() - t0)
        if self.collector is not None:
            import tracing

            plan = df._jdf.queryExecution().executedPlan()
            self.collector.add_plan("batch_pattern", tracing.plan_metrics(plan))
        _log("batch pattern: ms " + " ".join(f"{t * 1e3:.0f}" for t in times))
        return statistics.median(times[1:] or times), sorted(zip(pdf["conv_id"], pdf["u_id"].astype(int),
                                                    pdf["t_id"].astype(int), pdf["a_id"].astype(int)))

    def phase_live(self, mgr, cat) -> None:
        """Open-loop file generator and scheduled pull queries beside a live query."""
        import pyarrow.parquet as pq

        from ksql_spark import TABLE, F, Schema, Select

        rows = min(self.agg_rows, LIVE_ROWS_PER_S * self.seconds)
        table = pq.read_table(self.agg_dir).slice(0, rows)
        n_files = self.seconds * LIVE_FILES_PER_S
        parts = split(table, n_files)
        staging = os.path.join(self.work, "live_staging")
        os.makedirs(staging)
        keys = sorted(set(table["conv_id"].to_pylist()))
        rng = random.Random(self.seed)
        pull_keys = [rng.choice(keys) for _ in range(int(self.seconds * PULLS_PER_S))]

        with self.span("query", "live"):
            with self.span("engine.start", "live"):
                pq_ = mgr.create_as_select(self._agg_create("live", "live_turns", live=True),
                                           available_now=False, processing_time=LIVE_TRIGGER,
                                           await_termination=False, max_files_per_trigger=n_files)
            q = pq_.streaming_query
            gen_late: list[float] = []
            pulls: list[tuple[float, float, list | None]] = []
            t0 = time.time() + 0.5

            def generator() -> None:
                for i, part in enumerate(parts):
                    due = t0 + i / LIVE_FILES_PER_S
                    time.sleep(max(0.0, due - time.time()))
                    name = file_names(n_files)[i]
                    pq.write_table(stamp(part, due), os.path.join(staging, name))
                    os.rename(os.path.join(staging, name), os.path.join(self.live_in, name))
                    gen_late.append(time.time() - due)

            sel = lambda k: (Select(F("window_start"), F("conv_id"), F("n_turns"))  # noqa: E731
                             .From(Schema("QUERYABLE_live", TABLE)).Where(F("conv_id").Equal(k)))

            def pull(i: int, due: float, key: str) -> None:
                with self.span("pull", f"pull-{i}"):
                    try:
                        got = [tuple(r) for r in mgr.select_once(sel(key))]
                    except Exception as e:  # a refused read counts as failed
                        _log(f"pull failed: {e}")
                        got = None
                pulls.append((due, time.time(), got))

            jobs: queue.Queue = queue.Queue()

            def puller() -> None:
                while (item := jobs.get()) is not None:
                    pull(*item)

            threads = [threading.Thread(target=generator)]
            threads += [threading.Thread(target=puller) for _ in range(PULL_THREADS)]
            for t in threads:
                t.start()
            # QUERYABLE_live exists once the first epoch commits (a pull
            # before that raises); the pull schedule starts from there
            while not pq_.sink.committed_batches() and q.isActive:
                time.sleep(0.02)
            p0 = time.time()
            for i, key in enumerate(pull_keys):  # open loop: enqueue at the due time
                due = p0 + i / PULLS_PER_S
                time.sleep(max(0.0, due - time.time()))
                jobs.put((i, due, key))
            for _ in range(PULL_THREADS):
                jobs.put(None)
            for t in threads:
                t.join()
            # let the query catch up with the last file, then stop it
            deadline = time.time() + 60
            while sum(p.numInputRows for p in q.recentProgress) < rows and time.time() < deadline:
                time.sleep(0.05)
            mgr.stop("live")
        self._count_sink("live", pq_.sink.data_dir)

        fresh = self._freshness(pq_.sink)
        _log(f"live: {len(fresh)} result rows, {len(pulls)} pulls")
        self.layer["live.freshness_p50_s"] = percentile(fresh, 0.50)
        self.layer["live.freshness_p90_s"] = percentile(fresh, 0.90)
        lat = [end - due if got is not None else float("inf") for due, end, got in pulls]
        self.layer["live.pull_p50_s"] = percentile(lat, 0.50)
        self.layer["loadgen.late_ms_max"] = max(gen_late) * 1e3
        self.layer["loadgen.backlog_files_max"] = _backlog(self._progress(q, "live"), rows / n_files)

        want = check.tumbling(os.path.join(self.live_in, "*.parquet"))
        got = self._tumbling_state(cat, "QUERYABLE_live")
        self.check("live state", got, want)
        final = {(ws, c): n for ws, c, n, _, _ in got}
        self.attempted += len(pulls)
        for _, _, rows_ in pulls:
            bad = rows_ is None or any(
                final.get((int(r[0].timestamp() * 1e6), r[1]), -1) < r[2] for r in rows_)
            self.failed += bad
            if bad:
                self.mismatch_notes.append("pull failed or read above the final state")

    @staticmethod
    def _freshness(sink) -> list[float]:
        """Per result row: sink commit time - latest generator stamp behind it."""
        import pyarrow.parquet as pq

        out: list[float] = []
        for b in sink.committed_batches():
            with open(sink._marker_path(b)) as fh:
                committed = json.load(fh)["committed_at"]
            path = sink._batch_path(b)
            if glob.glob(os.path.join(path, "*.parquet")):
                out.extend(committed - d for d in pq.read_table(path, columns=["max_due"])["max_due"].to_pylist())
        return out

    # -- the run -----------------------------------------------------------------

    def measure(self) -> None:
        """Run every phase."""
        t = time.perf_counter()

        def log(phase: str) -> None:
            nonlocal t
            now = time.perf_counter()
            _log(f"{phase}: {now - t:.1f} s")
            t = now

        if self.collector is not None:
            # the scaling pair: a new local[1] JVM runs the warm-up drain and
            # then the agg drain, as JVM 1 does next (with the pattern drain
            # between them, which would add about 20 s here)
            cat, mgr = self.setup(1)
            log("set-up local[1]")
            self.warm_up(mgr)
            rate1, _ = self.phase_agg(mgr, cat, "agg1")
            log("drains local[1]")

        cat, mgr = self.setup(CORES)
        log("set-up 1")
        self.warm_up(mgr)
        log("warm-up drain")
        self.e2e["pattern_rows_per_s"], self.layer["drain.pattern_rows_per_cpu_s"], stream_rows = (
            self.phase_pattern())
        log("pattern drain")
        self.e2e["rows_per_s"], self.layer["drain.rows_per_cpu_s"] = self.phase_agg(mgr, cat, "agg")
        log("agg drain")
        if self.collector is not None:
            self.layer["scaling.eff"] = self.e2e["rows_per_s"] / (CORES * rate1)
            self.collector.overhead(self, mgr, cat)
            log("tracing overhead drains")
        self.layer["batch.pattern_s"], twin_rows = self.phase_batch_pattern()
        log("batch pattern")
        self.check("pattern stream vs batch twin", stream_rows, twin_rows)

        if self.collector is not None:
            cat, mgr = self.catalog("live")
            self.phase_live(mgr, cat)
            log("live")
        else:
            # a second set-up of the same kind, for the median in setup_s
            self.setup(CORES)
            log("set-up 2")
        self.stop()

        self.layer["memory.peak_rss_mb"] = self.peak_rss_mb
        self.e2e["setup_s"] = statistics.median(
            (s["session_ms"] + s["catalog_ms"]) / 1e3 for s in self.local4_setups())

    def local4_setups(self) -> list[dict[str, float]]:
        """The set-ups ``setup_s`` counts: those of the local[4] JVMs."""
        return [s for s in self.setups if s["cores"] == CORES]


def cpu_s() -> float:
    """CPU seconds, user and system, used so far by this process and its
    descendants: the JVM it launched, the JVM's Python workers, and every
    child they reaped.

    With paravirtual steal accounting the kernel charges the time a
    hypervisor takes a vCPU away to steal, not to the process running on
    it, so on a shared host this moves far less than wall time does."""
    parent: dict[int, int] = {}
    used: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:  # the process ended
            continue
        f = stat[stat.rindex(")") + 2:].split()  # f[0] is field 3, state
        parent[int(d)] = int(f[1])
        used[int(d)] = sum(int(x) for x in f[11:15])  # utime stime cutime cstime
    me = os.getpid()

    def ours(pid: int) -> bool:
        while pid > 1 and pid != me:
            pid = parent.get(pid, 0)
        return pid == me

    return sum(t for pid, t in used.items() if ours(pid)) / os.sysconf("SC_CLK_TCK")


def _rows(files_dir: str) -> int:
    import pyarrow.parquet as pq

    return sum(pq.read_metadata(os.path.join(files_dir, f)).num_rows
               for f in os.listdir(files_dir) if f.endswith(".parquet"))


def _backlog(progress: list[dict], rows_per_file: float) -> float:
    """Largest input backlog, in generator files, seen by the live query.

    Each trigger reads every file present when it starts, so the rows of a
    trigger are the backlog that built up while the previous one ran."""
    return max((p["numInputRows"] / rows_per_file for p in progress), default=0.0)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seconds < 1:
        ap.error("--seconds must be at least 1")
    if not os.path.isdir(os.path.join(ROOT, "ksql_spark")):
        _log(f"no ksql_spark package under {ROOT}: run from the root of a source checkout")
        return 2
    sys.path.insert(0, ROOT)
    # Python workers import the kernels from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)

    run = Run(args.workload, args.seed, args.seconds, bool(args.trace))
    run.prepare()
    os.environ["TMPDIR"] = os.path.join(run.work, "spark-local")
    try:
        if run.trace:
            import tracing

            run.collector = tracing.Collector(run)
        run.measure()
        metrics = run.e2e
        if run.trace:
            metrics = run.collector.finish(os.path.join(WORK_ROOT, "traces"))
    finally:
        run.stop()
        shutil.rmtree(run.work, ignore_errors=True)

    for note in run.mismatch_notes:
        _log(f"MISMATCH {note}")
    units = layers.PER_LAYER_UNITS if run.trace else layers.END_TO_END_UNITS
    missing = sorted(set(units) - set(metrics))
    if missing:
        _log(f"metrics not measured: {missing}")
        return 2
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in sorted(units)},
    }))
    return 0 if run.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
