"""Tests of the benchmark's own code (no Spark needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import re
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import layers  # noqa: E402
from gen import LATE_S, ROLES, Shape, file_names, generate, lengths, materialize  # noqa: E402
from stats import percentile  # noqa: E402
from tracing import covered_share  # noqa: E402

SHAPE = Shape(n_convs=300, avg_turns=10, n_files=3, first_rows=100)
NAME = re.compile(r"[A-Za-z0-9_.-]+")


def _bytes(d: str) -> dict[str, bytes]:
    out = {}
    for root, _, files in os.walk(d):
        for f in files:
            with open(os.path.join(root, f), "rb") as fh:
                out[os.path.relpath(os.path.join(root, f), d)] = fh.read()
    return out


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    a = materialize(str(tmp_path / "a"), SHAPE, seed=7)
    b = materialize(str(tmp_path / "b"), SHAPE, seed=7)
    assert _bytes(a) == _bytes(b)
    assert len(_bytes(a)) == SHAPE.n_files + 2  # files, late.npy, DONE


def test_different_seed_gives_different_inputs(tmp_path):
    a = materialize(str(tmp_path / "a"), SHAPE, seed=7)
    b = materialize(str(tmp_path / "b"), SHAPE, seed=8)
    assert _bytes(a) != _bytes(b)


def test_schema_and_fixture_length_law():
    table, late = generate(SHAPE, seed=3)
    assert [f.name for f in table.schema] == ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    n = lengths(SHAPE, np.random.default_rng(3))
    assert table.num_rows == n.sum() == len(late)
    avg = SHAPE.avg_turns
    assert n[0] == int(avg * SHAPE.n_convs**0.35)  # the longest: the Zipf head
    assert ((n >= avg // 2) & (n <= max(avg * 50, 500))).all()
    assert (n[SHAPE.n_convs // 2:] < avg // 2 + avg).all()  # the tail is the floor


def test_files_follow_event_time_apart_from_declared_late_rows(tmp_path):
    d = materialize(str(tmp_path), SHAPE, seed=11)
    table = pa.concat_tables(pq.read_table(os.path.join(d, "files", f)) for f in file_names(SHAPE.n_files))
    late = np.load(os.path.join(d, "late.npy"))
    ts = table["ts"].cast(pa.int64()).to_numpy()
    assert 0 < late.sum() < len(late)
    assert (table["turn_idx"].to_numpy()[late] % 17 == 16).all()
    on_time = ts[~late]
    assert (np.diff(on_time) >= 0).all()
    # a late row arrives after rows up to LATE_S newer than itself, never more
    newest_before = np.maximum.accumulate(ts)
    lag_s = (newest_before - ts)[late] / 1e6
    assert lag_s.max() <= LATE_S


def test_roles_cycle_along_turns():
    table, _ = generate(SHAPE, seed=5)
    turn = table["turn_idx"].to_numpy()
    assert (table["role"].to_numpy(zero_copy_only=False) == ROLES[turn % 4]).all()
    tool = table["tool"].to_numpy(zero_copy_only=False)
    assert ((tool != None) == (turn % 4 == 2)).all()  # noqa: E711


def test_turns_are_dense_per_conversation():
    table, _ = generate(SHAPE, seed=5)
    df = table.to_pandas()
    for _, g in df.groupby("conv_id"):
        assert sorted(g["turn_idx"]) == list(range(len(g)))


def test_metric_names_are_valid_and_units_match_benchmark_json():
    for name in list(layers.END_TO_END) + list(layers.PER_LAYER):
        assert NAME.fullmatch(name) and name[0].isalnum() and len(name) <= 64, name
    spec_path = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")
    with open(spec_path) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == layers.END_TO_END_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == layers.PER_LAYER_UNITS
    for m in spec["end_to_end"] + spec["per_layer"]:
        table = layers.END_TO_END if m in spec["end_to_end"] else layers.PER_LAYER
        assert m["better"] == table[m["name"]][1], m["name"]


def test_percentile_needs_ten_samples_beyond_it():
    values = [float(i) for i in range(1, 21)]
    assert percentile(values, 0.5) == 10.0  # 10 samples lie beyond it
    with pytest.raises(ValueError):
        percentile(values, 0.9)  # only 2 beyond
    assert percentile([float(i) for i in range(1, 101)], 0.9) == 90.0
    with pytest.raises(ValueError):
        percentile(values[:19], 0.5)


def test_failed_requests_count_as_missing_the_limit():
    values = [1.0] * 14 + [float("inf")] * 16  # most requests failed
    assert percentile(values, 0.5) == float("inf")


def test_covered_share_merges_overlaps():
    assert covered_share([(0, 2), (1, 3), (5, 6)], 0, 10) == pytest.approx(0.4)
    assert covered_share([], 0, 10) == 0.0
