"""Persistent-query manager: the engine's runtime.

The reference's ORM runtime (streams/specification.go, tables/specification.go)
issues CSAS/CTAS statements and ksqlDB runs persistent queries server-side;
here the manager IS the server side.  Each persistent query is a Structured
Streaming pipeline:

    catalog.read_stream(source)  ->  compile_select(plan)  ->
    writeStream.foreachBatch(ExactlyOnceParquetSink)
               .option("checkpointLocation", <workdir>/checkpoints/<name>)

Lifecycle parity (SURVEY.md §3 EP3): "SUCCESS" == a live StreamingQuery
handle; the schema cache == the Catalog; resume-from-checkpoint + the
idempotent sink give the north rule's no-duplicates/no-gaps guarantee
(tested in tests/test_streaming.py by killing and restarting mid-stream).
"""

from __future__ import annotations

import hashlib
import json
import os
import re
from typing import Any, Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..builder import CreateBuilder, EmitMode, InsertBuilder, Ref, SelectBuilder
from ..errors import AnalysisError, CatalogError
from ..operators.compile import DEFAULT_GRACE, compile_select
from ..sources.catalog import QUERYABLE_PREFIX, Catalog, Relation
from .metrics import EngineMetricsListener
from .sink import OP_APPEND, OP_UPSERT, ExactlyOnceParquetSink


_STATE_NODE_RE = re.compile(
    r"FlatMapGroupsInPandasWithState [^\n]*?"
    r"(\[StructField\([^\]]*\)\]), (\w+), (\w+Timeout)"
)


def _state_schema_descriptor(df: DataFrame) -> list[list[str]] | None:
    """Extract every custom stateful operator's (state schema, output mode,
    timeout) from the analyzed plan — the persisted RocksDB state layout of
    the bounded/session operators.  None when the plan has no custom
    stateful op (native windowed aggregates are covered by Spark's own
    state-schema compatibility checker)."""
    plan = df._jdf.queryExecution().analyzed().toString()
    found = [[m.group(1), m.group(2), m.group(3)] for m in _STATE_NODE_RE.finditer(plan)]
    if not found and "FlatMapGroupsInPandasWithState" in plan:
        # ADVICE r6: the plan HAS a custom stateful operator but the schema
        # regex no longer matches its rendering (e.g. a Spark upgrade
        # changed the node format).  Failing open would silently disable
        # the resume guard; fail loud instead.
        raise AnalysisError(
            "state-schema guard could not parse the "
            "FlatMapGroupsInPandasWithState node from the analyzed plan; "
            "the plan rendering may have changed across a Spark upgrade — "
            "update _STATE_NODE_RE in streaming/engine.py"
        )
    return found or None


def check_state_schema(checkpoint: str, descriptor: list[list[str]], query: str) -> None:
    """VERDICT r5 #6: refuse to resume a checkpoint whose persisted state
    layout no longer matches the compiled plan (e.g. the query gained an
    aggregate) — a NAMED error instead of silent state corruption.

    The descriptor is recorded at first start under
    ``<checkpoint>/_ksql_state_schema.json``.  On restart with committed
    progress, a mismatch raises :class:`AnalysisError` with the migration
    recipe.  A pre-existing checkpoint without a recording (created before
    this guard) is stamped as-is."""
    marker = os.path.join(checkpoint, "_ksql_state_schema.json")
    fp = hashlib.sha256(json.dumps(descriptor).encode()).hexdigest()[:16]
    if os.path.exists(marker):
        with open(marker) as fh:
            rec = json.load(fh)
        if rec.get("fingerprint") != fp:
            raise AnalysisError(
                f"query {query!r} cannot resume from checkpoint {checkpoint}: "
                f"the compiled state schema {descriptor} differs from the "
                f"persisted one {rec.get('descriptor')} (recorded fingerprint "
                f"{rec.get('fingerprint')}, compiled {fp}).  A stateful "
                f"operator's aggregate list/types changed across the restart. "
                f"Migration recipes: (a) drain the old query with EMIT FINAL, "
                f"then start the new shape under a fresh checkpoint; (b) "
                f"rebuild state by replaying the source into a fresh "
                f"checkpoint; (c) if the change was unintentional, restore "
                f"the original SELECT"
            )
        return
    os.makedirs(checkpoint, exist_ok=True)
    with open(marker, "w") as fh:
        json.dump({"fingerprint": fp, "descriptor": descriptor}, fh)


class PersistentQuery:
    """Handle for one running CSAS/CTAS query."""

    def __init__(self, name: str, create: CreateBuilder, sink: ExactlyOnceParquetSink, checkpoint: str):
        self.name = name
        self.create = create
        self.sink = sink
        self.checkpoint = checkpoint
        self.streaming_query = None  # live StreamingQuery or None when stopped
        self.state_partitions: int | None = None  # fixed at first start (checkpoint)

    def is_active(self) -> bool:
        return self.streaming_query is not None and self.streaming_query.isActive


class PersistentQueryManager:
    def __init__(
        self,
        spark: SparkSession,
        catalog: Catalog,
        workdir: str,
        grace: str = DEFAULT_GRACE,
        enable_metrics: bool = True,
        lineage: bool = True,
    ):
        self.spark = spark
        self.catalog = catalog
        self.workdir = workdir
        self.grace = grace
        self.lineage = lineage
        self.queries: dict[str, PersistentQuery] = {}
        os.makedirs(workdir, exist_ok=True)
        self.listener: EngineMetricsListener | None = None
        if enable_metrics:
            self.listener = EngineMetricsListener(os.path.join(workdir, "_metrics"))
            spark.streams.addListener(self.listener)

    # ------------------------------------------------------------------
    # CSAS / CTAS
    # ------------------------------------------------------------------

    def create_as_select(
        self,
        create: CreateBuilder,
        *,
        available_now: bool = True,
        processing_time: str | None = None,
        await_termination: bool = True,
        max_files_per_trigger: int | None = None,
        state_partitions: int | None = None,
    ) -> PersistentQuery:
        """CREATE STREAM|TABLE <name> AS SELECT ... — launch the pipeline.

        ``available_now=True`` (tests/bench) drains all currently available
        input and stops — deterministic micro-batching.  For a continuous
        deployment pass ``processing_time='5 seconds'`` instead.
        """
        create.validate()
        if create.select is None:
            raise AnalysisError("create_as_select requires AsSelect(...)")
        name = create.name
        if self.catalog.exists(name):
            raise CatalogError(f"relation {name!r} already exists")
        sb = create.select

        pq = self.queries.get(name)
        if pq is None:
            sink_root = os.path.join(self.workdir, "relations", name.lower())
            op = OP_UPSERT if create.ref == Ref.TABLE or sb.emit == EmitMode.CHANGES else OP_APPEND
            sink = ExactlyOnceParquetSink(sink_root, op=op, lineage=self.lineage)
            checkpoint = os.path.join(self.workdir, "checkpoints", name.lower())
            pq = PersistentQuery(name, create, sink, checkpoint)
            # state-op parallelism (the ksqlDB PARTITIONS analog): explicit
            # arg, else the source relation's declared partition count, else
            # session default.  Baked into the checkpoint at first start.
            pq.state_partitions = state_partitions or self._declared_partitions(sb)
            self.queries[name] = pq

        self._register_output_relation(pq)
        self._start(pq, available_now, processing_time, await_termination, max_files_per_trigger)
        return pq

    def _output_mode(self, create: CreateBuilder) -> str:
        sb = create.select
        assert sb is not None
        stateful = bool(sb.group_by or sb.window or sb.fields and any(f.is_aggregate() for f in sb.fields))
        if not stateful:
            return "append"
        if sb.emit == EmitMode.CHANGES:
            return "update"  # push changelog (SURVEY.md §2.6)
        # EMIT FINAL or default on windowed aggregate: final-per-window
        return "append"

    def _compile_streaming(self, create: CreateBuilder, max_files_per_trigger: int | None) -> DataFrame:
        sb = create.select
        assert sb is not None
        sources: dict[str, DataFrame] = {}
        if max_files_per_trigger is not None and sb.from_expr is not None:
            rel = self.catalog.get(sb.from_expr.name)
            rel.metadata["max_files_per_trigger"] = max_files_per_trigger
        df = compile_select(
            sb,
            spark=self.spark,
            catalog=self.catalog,
            sources=sources,
            streaming=True,
            grace=self.grace,
        )
        # explicit conversation-key repartitioning (north rule) for stateful
        # plans whose relation declares a partition spec
        if sb.from_expr is not None and self.catalog.exists(sb.from_expr.name):
            src = self.catalog.get(sb.from_expr.name)
            if src.partitions and src.partition_key and src.partition_key in df.columns:
                df = df.repartition(src.partitions, F.col(src.partition_key))
        return df

    def _declared_partitions(self, sb) -> int | None:
        if sb.from_expr is not None and self.catalog.exists(sb.from_expr.name):
            return self.catalog.get(sb.from_expr.name).partitions
        return None

    def _start(
        self,
        pq: PersistentQuery,
        available_now: bool,
        processing_time: str | None,
        await_termination: bool,
        max_files_per_trigger: int | None,
    ) -> None:
        # Stateful operators instantiate one state store per shuffle
        # partition per batch; sizing that to the query's declared
        # parallelism (instead of the session default) is the difference
        # between paying 32 RocksDB opens for 8 partitions' worth of data
        # and paying for exactly what the data needs.  Spark captures the
        # value at stream start and pins it in the checkpoint.
        conf_key = "spark.sql.shuffle.partitions"
        old = self.spark.conf.get(conf_key)
        if pq.state_partitions:
            self.spark.conf.set(conf_key, str(pq.state_partitions))
        try:
            df = self._compile_streaming(pq.create, max_files_per_trigger)
            desc = _state_schema_descriptor(df)
            if desc is not None:
                check_state_schema(pq.checkpoint, desc, pq.name)
            writer = (
                df.writeStream.foreachBatch(pq.sink)
                .outputMode(self._output_mode(pq.create))
                .option("checkpointLocation", pq.checkpoint)
                .queryName(pq.name)
            )
            if available_now:
                writer = writer.trigger(availableNow=True)
            elif processing_time:
                writer = writer.trigger(processingTime=processing_time)
            pq.streaming_query = writer.start()
        finally:
            if pq.state_partitions:
                self.spark.conf.set(conf_key, old)
        if await_termination and available_now:
            pq.streaming_query.awaitTermination()
            pq.streaming_query = None

    def _register_output_relation(self, pq: PersistentQuery) -> None:
        create = pq.create
        sb = create.select
        assert sb is not None
        if self.catalog.exists(create.name):
            return
        state_keys: list[str] = []
        if create.ref == Ref.TABLE:
            state_keys = [g.output_name() for g in sb.group_by]
            if sb.window is not None:
                state_keys = ["window_start", "window_end", *state_keys]
        rel = Relation(
            name=create.name,
            ref=create.ref,
            path=pq.sink.data_dir,
            format="parquet",
            metadata={"sink": pq.sink, "state_keys": state_keys},
        )
        self.catalog.register(rel)
        if create.ref == Ref.TABLE:
            # QUERYABLE_<name> twin (reference: tables/specification.go:323-355)
            self.catalog.register(
                Relation(
                    name=QUERYABLE_PREFIX + create.name,
                    ref=Ref.TABLE,
                    path=pq.sink.data_dir,
                    format="parquet",
                    metadata={"sink": pq.sink, "state_keys": state_keys},
                )
            )

    # ------------------------------------------------------------------
    # lifecycle: stop / resume (checkpoint recovery)
    # ------------------------------------------------------------------

    def stop(self, name: str) -> None:
        pq = self.queries.get(name)
        if pq is None:
            raise CatalogError(f"no persistent query {name!r}")
        if pq.streaming_query is not None and pq.streaming_query.isActive:
            pq.streaming_query.stop()
            pq.streaming_query.awaitTermination()
        pq.streaming_query = None

    def resume(
        self,
        name: str,
        *,
        available_now: bool = True,
        processing_time: str | None = None,
        await_termination: bool = True,
    ) -> PersistentQuery:
        """Restart a stopped query from its checkpoint.

        Structured Streaming replays any uncommitted epoch; the sink's
        commit markers make the replay idempotent -> exactly-once resume.
        """
        pq = self.queries.get(name)
        if pq is None:
            raise CatalogError(f"no persistent query {name!r}")
        if pq.is_active():
            raise AnalysisError(f"query {name!r} is still active; stop it first")
        self._start(pq, available_now, processing_time, await_termination, None)
        return pq

    def close(self) -> None:
        """Stop every running query and deregister the metrics listener, so
        a closed manager leaves nothing behind on the shared session."""
        for name in self.queries:
            self.stop(name)
        if self.listener is not None:
            self.spark.streams.removeListener(self.listener)
            self.listener.close()
            self.listener = None

    def drop(self, name: str) -> None:
        """DROP the relation and stop its query (drop_builder semantics)."""
        if name in self.queries:
            self.stop(name)
            del self.queries[name]
        self.catalog.drop(name)

    # ------------------------------------------------------------------
    # INSERT / SELECT (ORM surface: streams/specification.go)
    # ------------------------------------------------------------------

    def insert(self, ib: InsertBuilder) -> None:
        ib.validate()
        rel = self.catalog.get(ib.name)
        if ib.rows:
            schema = rel.schema or self.catalog.read(ib.name).schema
            df = self.spark.createDataFrame(ib.rows, schema=schema)
            self.catalog.append(ib.name, df)
        else:
            assert ib.select is not None
            df = compile_select(ib.select, spark=self.spark, catalog=self.catalog)
            self.catalog.append(ib.name, df)

    def select_once(self, sb: SelectBuilder) -> list:
        """Pull query: one-shot read of current materialized data
        (reference: SelectOnce, streams/specification.go:588-620)."""
        df = compile_select(sb, spark=self.spark, catalog=self.catalog)
        return df.collect()

    def select_with_emit(self, sb: SelectBuilder, timeout_seconds: int = 60) -> Iterable:
        """Push query drained to completion over current data
        (reference: SelectWithEmit, streams/specification.go:626-655).

        Runs the plan as a real streaming query into an idempotent sink and
        yields the committed changelog rows.  A continuous deployment would
        keep the query running; availableNow gives tests determinism.
        """
        if sb.emit != EmitMode.CHANGES:
            raise AnalysisError("select_with_emit requires EMIT CHANGES")
        import uuid

        qname = f"__emit_{uuid.uuid4().hex[:8]}"
        sink = ExactlyOnceParquetSink(
            os.path.join(self.workdir, "emit", qname), op=OP_UPSERT, lineage=False
        )
        df = compile_select(
            sb, spark=self.spark, catalog=self.catalog, streaming=True, grace=self.grace
        )
        stateful = bool(sb.group_by or sb.window)
        q = (
            df.writeStream.foreachBatch(sink)
            .outputMode("update" if stateful else "append")
            .option("checkpointLocation", os.path.join(self.workdir, "emit", qname, "_ckpt"))
            .queryName(qname)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(timeout_seconds)
        for row in sink.read_data(self.spark).collect():
            yield row
