"""Correctness gate: every timed result is compared with the query's
registry ``oracle`` SQL evaluated by DuckDB on the same generated inputs.

Canonicalization (column order, value rendering, type classes) is the
repository's own, imported from ``tests/oracle_harness.py`` so the gate
agrees with the repository's Spark-vs-DuckDB parity check row for row.
The expected side is computed once at set-up; comparisons happen outside
the timed windows.
"""

from __future__ import annotations

import os

import duckdb

from crawl_streams_spark.tables import TABLE_NAMES
from tests.oracle_harness import _DUCK_CANON, _SPARK_CANON, _canon_rows, _canon_type


def connect(data_dir: str) -> duckdb.DuckDBPyConnection:
    """DuckDB views over the generated tables; a table written as a
    directory of copies is read through a glob."""
    con = duckdb.connect()
    for t in TABLE_NAMES:
        path = os.path.join(data_dir, f"{t}.parquet")
        src = os.path.join(path, "*.parquet") if os.path.isdir(path) else path
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")
    return con


class Expected:
    """Canonical oracle answer of one query."""

    def __init__(self, cols: list[str], types: dict[str, str], rows: list[tuple]):
        self.cols = sorted(cols)
        self.types = types
        self.rows = rows

    @classmethod
    def from_duckdb(cls, con: duckdb.DuckDBPyConnection, sql: str) -> "Expected":
        rel = con.sql(sql)
        cols = list(rel.columns)
        types = {c: _canon_type(str(t), _DUCK_CANON) for c, t in zip(cols, rel.types)}
        return cls(cols, types, _canon_rows(cols, rel.fetchall())[1])

    def check(self, cols: list[str], dtypes: list[tuple[str, str]], rows: list) -> str | None:
        """None when the Spark result equals the oracle; else the reason."""
        if sorted(cols) != self.cols:
            return f"columns {sorted(cols)} != {self.cols}"
        types = {c: _canon_type(t, _SPARK_CANON) for c, t in dtypes}
        bad = {c: (types[c], self.types[c]) for c in cols if types[c] != self.types[c]}
        if bad:
            return f"types differ: {bad}"
        if len(rows) != len(self.rows):
            return f"row count {len(rows)} != {len(self.rows)}"
        got = _canon_rows(cols, [tuple(r) for r in rows])[1]
        n_diff = sum(a != b for a, b in zip(got, self.rows))
        return f"{n_diff}/{len(got)} rows differ" if n_diff else None


def expected_results(data_dir: str, queries) -> dict[str, Expected]:
    """Oracle answers for every query that has one, keyed by name."""
    con = connect(data_dir)
    try:
        return {q.name: Expected.from_duckdb(con, q.oracle) for q in queries if q.oracle}
    finally:
        con.close()
