"""Streaming metrics + lineage.

North-rule requirement: per-partition lineage + metrics for every persistent
query.  Two complementary mechanisms:

1. ``EngineMetricsListener`` — a ``StreamingQueryListener`` that appends one
   JSON line per micro-batch progress event (query name, batch id, input
   rows, processing rate, phase durations, per-state-operator rows, commit
   time, shuffle partitions and custom store metrics) to
   ``<dir>/metrics.jsonl``.  This is the engine-level metrics table; in
   production the same listener writes to an Iceberg ``_metrics`` table
   instead of local JSONL.  ``close()`` ends its writes; the owning
   ``PersistentQueryManager.close()`` also deregisters it.

2. Per-partition row counts per epoch are recorded by the exactly-once sink
   in its commit markers (see sink.py) — lineage survives restarts because
   it commits atomically with the data.
"""

from __future__ import annotations

import json
import os
import threading

from pyspark.sql.streaming import StreamingQueryListener


class EngineMetricsListener(StreamingQueryListener):
    def __init__(self, out_dir: str):
        self.out_dir = out_dir
        os.makedirs(out_dir, exist_ok=True)
        self.path = os.path.join(out_dir, "metrics.jsonl")
        self._lock = threading.Lock()
        self._closed = False

    def onQueryStarted(self, event) -> None:
        self._write({"event": "started", "id": str(event.id), "name": event.name})

    def onQueryProgress(self, event) -> None:
        p = event.progress
        row = {
            "event": "progress",
            "name": p.name,
            "batch_id": p.batchId,
            "num_input_rows": p.numInputRows,
            "input_rows_per_sec": p.inputRowsPerSecond,
            "processed_rows_per_sec": p.processedRowsPerSecond,
            "duration_ms": dict(p.durationMs) if p.durationMs else {},
            "state_operators": [
                {
                    "operator": s.operatorName,
                    "rows_total": s.numRowsTotal,
                    "rows_updated": s.numRowsUpdated,
                    "memory_bytes": s.memoryUsedBytes,
                    "commit_ms": s.commitTimeMs,
                    "shuffle_partitions": s.numShufflePartitions,
                    "custom_metrics": dict(s.customMetrics),
                }
                for s in (p.stateOperators or [])
            ],
        }
        self._write(row)

    def onQueryTerminated(self, event) -> None:
        self._write({"event": "terminated", "id": str(event.id)})

    def onQueryIdle(self, event) -> None:
        pass

    def rows(self) -> list[dict]:
        """Every row written so far, in order."""
        with self._lock:
            if not os.path.exists(self.path):
                return []
            with open(self.path) as fh:
                return [json.loads(line) for line in fh]

    def close(self) -> None:
        """Write nothing more (events already queued on the bus included)."""
        with self._lock:
            self._closed = True

    def _write(self, row: dict) -> None:
        with self._lock:
            if self._closed:
                return
            with open(self.path, "a") as fh:
                fh.write(json.dumps(row) + "\n")


def read_lineage(commit_dir: str) -> list[dict]:
    """Load per-epoch, per-partition lineage from sink commit markers."""
    rows = []
    if not os.path.isdir(commit_dir):
        return rows
    for f in sorted(os.listdir(commit_dir)):
        if f.endswith(".json"):
            with open(os.path.join(commit_dir, f)) as fh:
                rows.append(json.load(fh))
    return rows
