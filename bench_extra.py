"""Extra benchmarks / diagnostics (guide §1.4) — NOT the driver contract.

Per-entry wall time split into fn() vs count(), plus the engine's
EngineMetricsListener rows — every micro-batch's duration_ms breakdown
(addBatch, getBatch, walCommit, queryPlanning) and state-operator rows,
commit time and custom store metrics — for every streaming query the
entries start.  Used to attribute the streaming entries' seconds to
phases before optimizing (OPTIMIZATION_r07.md cites these numbers).

Usage:
    python bench_extra.py [entry ...]        # default: all HEADLINE entries
    SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_CPUS=... as in bench.py
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def main() -> None:
    import __spark_entry__ as entry_mod
    from bench import HEADLINE
    from ksql_spark.session import get_spark
    from ksql_spark.streaming.metrics import EngineMetricsListener

    names = sys.argv[1:] or HEADLINE

    extra_conf = json.loads(os.environ.get("BENCH_EXTRA_CONF", "{}"))
    spark = get_spark(
        app_name="ksql_spark_bench_extra",
        master=f"local[{CPUS}]",
        shuffle_partitions=CPUS,
        extra_conf=extra_conf,
    )
    spark.sparkContext.setLogLevel("ERROR")

    metrics_dir = tempfile.TemporaryDirectory(prefix="ksql_bench_extra_")
    listener = EngineMetricsListener(metrics_dir.name)
    spark.streams.addListener(listener)

    qs = entry_mod.queries()
    spark.range(1000).count()

    out: dict[str, dict] = {}
    for name in names:
        fn = qs[name]
        mark = len(listener.rows())
        t0 = time.time()
        df = fn(spark, SF_DIR)
        t1 = time.time()
        n = df.count()
        t2 = time.time()
        time.sleep(0.2)  # let async listener events drain
        out[name] = {
            "total": round(t2 - t0, 3),
            "fn": round(t1 - t0, 3),
            "count": round(t2 - t1, 3),
            "rows": n,
            "progress": listener.rows()[mark:],
        }
        sys.stderr.write(
            f"{name}: total={out[name]['total']} fn={out[name]['fn']} "
            f"count={out[name]['count']}\n"
        )

    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
