"""Reference results computed with DuckDB over the generated files.

Each function returns a sorted list of tuples in the same column order as
the engine result it is compared with; timestamps are epoch microseconds.
"""

from __future__ import annotations

from collections import Counter

import duckdb

TUMBLE_US = 5 * 60 * 1_000_000


def _query(sql: str, files: str) -> list[tuple]:
    con = duckdb.connect()
    try:
        con.execute("SET TimeZone = 'UTC'")
        con.execute(f"CREATE VIEW t AS SELECT * FROM read_parquet('{files}')")
        return sorted(con.execute(sql).fetchall())
    finally:
        con.close()


def tumbling(files: str) -> list[tuple]:
    """(window_start_us, conv_id, n_turns, sum_turn, max_turn) per 5-minute window."""
    return _query(
        f"""SELECT epoch_us(ts) // {TUMBLE_US} * {TUMBLE_US} AS w, conv_id,
                   count(turn_idx), sum(turn_idx), max(turn_idx)
            FROM t GROUP BY 1, 2""",
        files,
    )


def mismatches(got: list[tuple], want: list[tuple]) -> int:
    """Rows in either multiset that the other lacks."""
    g, w = Counter(got), Counter(want)
    return sum(((g - w) + (w - g)).values())
