"""Driver-entry plumbing: the version hash and sentinel staging.

The streaming entries of ``__spark_entry__`` share two runners, so an
entry's version hash must cover the helpers it calls and the engine
modules only those helpers import; sentinel staging must name a schema
mismatch instead of failing with a bare ``KeyError``.
"""

from __future__ import annotations

import importlib.util
import os

import pytest

import __spark_entry__ as entries
from ksql_spark.errors import AnalysisError
from tools.entry_versions import entry_hash, entry_sources


def _rel(files):
    return {os.path.relpath(f, os.path.dirname(entries.__file__)) for f in files}


def test_entry_sources_follow_the_runners():
    qs = entries.queries()
    sources, files = entry_sources(qs["streaming_tumbling_changelog"])
    assert "_run_persistent" in sources
    assert os.path.join("ksql_spark", "streaming", "engine.py") in _rel(files)
    sources, files = entry_sources(qs["streaming_cep_pattern"])
    assert {"_drain", "_nfa_drain", "_pattern_legs", "_PATTERN_COLS"} <= set(sources)
    assert {
        os.path.join("ksql_spark", "streaming", "sink.py"),
        os.path.join("ksql_spark", "operators", "cep_nfa.py"),
    } <= _rel(files)


_MODULE = '''
def _runner():
    from ksql_spark.streaming.sink import ExactlyOnceParquetSink
    return {body}


def entry():
    return _runner()
'''


def _load(tmp_path, name, body):
    path = tmp_path / f"{name}.py"
    path.write_text(_MODULE.format(body=body))
    spec = importlib.util.spec_from_file_location(name, path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_entry_hash_changes_with_a_called_helper(tmp_path):
    v1 = _load(tmp_path, "entries_v1", "ExactlyOnceParquetSink")
    v2 = _load(tmp_path, "entries_v2", "None")
    _, files = entry_sources(v1.entry)
    assert os.path.join("ksql_spark", "streaming", "sink.py") in _rel(files)
    assert entry_hash(v1.entry) != entry_hash(v2.entry)


def test_stage_events_sentinels_names_schema_drift(spark, tmp_path):
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    sf_dir = tmp_path / "sf"
    sf_dir.mkdir()
    pq.write_table(
        pa.table(
            {
                "event_id": [1],
                "ts": [datetime.datetime(2024, 1, 1)],
                "user_id": [1],
                "event_type": ["view"],
                "value": [1.0],
                "channel": ["web"],
            }
        ),
        str(sf_dir / "events.parquet"),
    )
    with pytest.raises(AnalysisError, match=r"missing columns \['props'\].*\['channel'\]"):
        entries._stage_events_sentinels(spark, str(sf_dir), str(tmp_path / "work"), ["view"])
