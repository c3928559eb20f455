"""Seeded multi-turn transcript generator for the benchmark.

Single-process numpy/pyarrow.  Rows follow the engine's input schema
``conv_id, turn_idx, role, text, tool, ts`` and the repo's transcript
fixture (FIXTURES.md section 1, ``ksql_spark.sources.transcripts``):

* conversation ``i`` of ``n`` has ``int(avg * n**0.35 / (i+1)**0.7)``
  turns, capped at ``max(50 * avg, 500)`` and floored at ``avg // 2 +
  U[0, avg)`` (at least 2), so a few conversations are very long;
* roles cycle user, assistant, tool, system along ``turn_idx``; a tool turn
  names one of search, code, browse;
* ``ts`` = base epoch + ``(37 * i) mod 86400`` s + 25 s per turn, and
  every 17th turn of a conversation is 90 s late.

Where the fixture hashes (conv_id, turn_idx, seed), this draws from numpy's
generator seeded with the seed: the same seed gives the same rows here, not
the rows the fixture would give.  The fixture writes files by conversation
range, each spanning the whole day; here files are consecutive slices of
*arrival* order (a late row arrives 90 s after its ``ts``), so a stream
reading them in name order sees event time advance, apart from the late
rows, which stay within the queries' grace period: no row may be dropped.

The output depends only on the seed and the shape, so it is written once
per (shape, seed) and reused by later runs.
"""

from __future__ import annotations

import hashlib
import json
import os
from dataclasses import asdict, dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

BASE_EPOCH_S = 1_767_225_600  # 2026-01-01 00:00:00 UTC
ROLES = np.array(["user", "assistant", "tool", "system"])
TOOLS = np.array(["search", "code", "browse"])
VOCAB = np.array(
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima "
    "mike november oscar papa quebec romeo sierra tango uniform victor whiskey "
    "xray yankee zulu query stream window shuffle partition watermark".split()
)
TURN_GAP_S = 25
CONV_OFFSET_S = 37  # conversation i starts (37 i mod 1 day) s into the day
LATE_EVERY = 17
LATE_S = 90

SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        ("ts", pa.timestamp("us", tz="UTC")),
    ]
)


@dataclass(frozen=True)
class Shape:
    """Size of one generated input and how it is cut into files."""

    n_convs: int
    avg_turns: int
    n_files: int
    first_rows: int  # see split()

    def key(self) -> str:
        return hashlib.sha256(json.dumps(asdict(self), sort_keys=True).encode()).hexdigest()[:12]


def lengths(shape: Shape, rng: np.random.Generator) -> np.ndarray:
    """Turns per conversation, by the fixture's Zipf-like law."""
    avg, n = shape.avg_turns, shape.n_convs
    head = (avg * n**0.35 / (np.arange(n) + 1.0) ** 0.7).astype(np.int64)
    tail = avg // 2 + rng.integers(0, avg, n)
    return np.maximum(np.maximum(2, np.minimum(max(avg * 50, 500), head)), tail)


def generate(shape: Shape, seed: int) -> tuple[pa.Table, np.ndarray]:
    """Return the rows in arrival order and, per row, whether it is late."""
    rng = np.random.default_rng(seed)
    length = lengths(shape, rng)
    total = int(length.sum())
    conv = np.repeat(np.arange(shape.n_convs), length)
    turn = np.arange(total) - np.repeat(np.cumsum(length) - length, length)

    on_time = (conv * CONV_OFFSET_S) % 86_400 + turn * TURN_GAP_S
    late = (turn % LATE_EVERY == LATE_EVERY - 1) & (turn > 0)
    ts_s = on_time - np.where(late, LATE_S, 0)
    order = np.lexsort((turn, conv, on_time))

    conv_id = np.char.add("conv", np.char.zfill(conv.astype(str), 6))
    role = ROLES[turn % len(ROLES)]
    tool = np.where(role == "tool", TOOLS[rng.integers(0, len(TOOLS), total)], None)
    words = VOCAB[rng.integers(0, len(VOCAB), (total, 4))]
    text = [f"turn {t} of {c}: {' '.join(w)}" for t, c, w in zip(turn.tolist(), conv_id.tolist(), words)]

    table = pa.table(
        {
            "conv_id": pa.array(conv_id[order]),
            "turn_idx": pa.array(turn[order].astype(np.int32)),
            "role": pa.array(role[order]),
            "text": pa.array(text).take(pa.array(order)),
            "tool": pa.array(tool[order], type=pa.string()),
            "ts": pa.array((BASE_EPOCH_S + ts_s[order]) * 1_000_000, type=pa.timestamp("us", tz="UTC")),
        },
        schema=SCHEMA,
    )
    return table, late[order]


def file_names(n_files: int) -> list[str]:
    return [f"part-{i:05d}.parquet" for i in range(n_files)]


def split(table: pa.Table, n_files: int, first_rows: int = 0) -> list[pa.Table]:
    """Consecutive slices of arrival order, one per file: ``first_rows`` in
    the first file (when set) and equal shares of the rest in the others."""
    if first_rows:
        rest = np.linspace(first_rows, table.num_rows, n_files).astype(int)
        bounds = np.concatenate([[0], rest])
    else:
        bounds = np.linspace(0, table.num_rows, n_files + 1).astype(int)
    return [table.slice(a, b - a) for a, b in zip(bounds[:-1], bounds[1:])]


def stamp(part: pa.Table, due: float) -> pa.Table:
    """``part`` with a ``due`` column: the wall-clock time it was due to arrive."""
    return part.append_column("due", pa.array(np.full(part.num_rows, due)))


def sentinel(schema: pa.Schema, ts: pa.ChunkedArray, conv_id: str) -> pa.Table:
    """One ``user`` row of key ``conv_id``, a day after the latest ``ts``.

    It is a ``user`` turn because the pattern query filters out rows that
    match no leg, and that filter is pushed below the watermark operator:
    a row no leg matches never advances the watermark."""
    t = pc.max(ts).value + 86_400_000_000
    return pa.table({"conv_id": [conv_id], "turn_idx": pa.array([0], pa.int32()), "role": ["user"],
                     "text": [""], "tool": pa.array([None], pa.string()),
                     "ts": pa.array([t], pa.timestamp("us", tz="UTC"))}, schema=schema)


def materialize(cache_root: str, shape: Shape, seed: int) -> str:
    """Write the input for (shape, seed) once; return its directory.

    The directory holds ``files/part-NNNNN.parquet`` and ``late.npy`` (the
    late-row mask in arrival order).  A finished directory is marked by
    ``DONE`` so an interrupted write is redone, not reused."""
    out = os.path.join(cache_root, f"{shape.key()}-{seed}")
    if os.path.exists(os.path.join(out, "DONE")):
        return out
    files = os.path.join(out, "files")
    os.makedirs(files, exist_ok=True)
    table, late = generate(shape, seed)
    for name, part in zip(file_names(shape.n_files), split(table, shape.n_files, shape.first_rows)):
        pq.write_table(part, os.path.join(files, name), compression="snappy")
    np.save(os.path.join(out, "late.npy"), late)
    with open(os.path.join(out, "DONE"), "w") as fh:
        fh.write(json.dumps(asdict(shape)))
    return out
