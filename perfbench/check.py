"""Output checks, run outside every timed window.

* An op with a registered oracle is compared with that DuckDB oracle on
  the benchmark's own tables by ``tests/conftest.py::assert_matches_oracle``:
  same column names, same type categories, same row count, equal
  order-insensitive multisets.
* A sink op's read-back must equal the rows it wrote.
* ``m9_mlp_train_eval`` has no oracle: its schema and row count are checked.

Each check returns ``None`` when the output is correct, else a one-line
reason.
"""

from __future__ import annotations

import os

import duckdb

from inputs import TABLES
from tests.conftest import assert_matches_oracle, rows_multiset

#: (columns, rows) of the one op checked by shape only.
SHAPE_ONLY = {"m9_mlp_train_eval": (["accuracy", "correct", "total"], 1)}


def oracle_connection(tables_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for name in TABLES:
        path = os.path.join(tables_dir, f"{name}.parquet")
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con


def _first_mismatch(a: list[tuple], b: list[tuple]) -> str | None:
    if len(a) != len(b):
        return f"row count {len(a)} != {len(b)}"
    bad = [(x, y) for x, y in zip(a, b) if x != y]
    return f"{len(bad)} row mismatches; first: {bad[0]}" if bad else None


class Collected:
    """A DataFrame's output, already collected, in the shape
    ``assert_matches_oracle`` reads (so the op is not run again)."""

    def __init__(self, rows, columns, dtypes):
        self.rows, self.columns, self.dtypes = rows, columns, dtypes

    def collect(self):
        return self.rows


def against_oracle(name: str, rows, columns, dtypes, con, sql: str) -> str | None:
    try:
        assert_matches_oracle(Collected(rows, columns, dtypes), con, sql, name)
    except AssertionError as exc:
        return str(exc).splitlines()[0][:300]
    return None


def against_rows(got, want, columns) -> str | None:
    """Read-back rows against the rows the sink was given."""
    return _first_mismatch(
        rows_multiset([[r[c] for c in columns] for r in got], columns),
        rows_multiset([[r[c] for c in columns] for r in want], columns),
    )


def shape(name: str, rows, columns) -> str | None:
    want_cols, want_rows = SHAPE_ONLY[name]
    if list(columns) != want_cols:
        return f"columns {list(columns)} != {want_cols}"
    if len(rows) != want_rows:
        return f"{len(rows)} rows != {want_rows}"
    return None
