"""Off-the-clock output checks against a DuckDB oracle over the same
generated files.

The comparison shape is the registry's, as ``tools/verify_local.py``
implements it: row count, column names, and the multiset of normalized
rows with columns ordered by name.
"""

from __future__ import annotations

import os

import duckdb

from tools.verify_local import TABLES, row_multiset


def result(cols: list[str], rows: list) -> tuple[int, list[str], dict]:
    """(row count, column names, row multiset): equal results compare equal."""
    return len(rows), sorted(cols), row_multiset(cols, rows)


class Oracle:
    """A DuckDB connection with every corpus table registered as a view."""

    def __init__(self, corpus_dir: str):
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        for t in TABLES:
            path = os.path.join(corpus_dir, f"{t}.parquet")
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        self._memo: dict[str, tuple] = {}

    def rows(self, sql: str) -> tuple[list[str], list[tuple]]:
        cur = self.con.execute(sql)
        return [d[0] for d in cur.description], cur.fetchall()

    def expected(self, sql: str) -> tuple:
        if sql not in self._memo:
            self._memo[sql] = result(*self.rows(sql))
        return self._memo[sql]

    def close(self) -> None:
        self.con.close()
