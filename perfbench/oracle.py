"""Order-insensitive comparison of a query result with its DuckDB oracle.

A result is reduced to its column names, row count and a hash of its
rows, normalised and sorted by the repository's oracle-parity test
(`tests/test_oracle_parity.py`), with columns ordered by name.
"""

from __future__ import annotations

import hashlib

from tests.test_oracle_parity import _normalize_rows


def digest(columns: list[str], rows) -> tuple[list[str], int, str]:
    """(sorted column names, row count, hash) of `rows`, an iterable of
    sequences in `columns` order."""
    normed = _normalize_rows(columns, rows)
    h = hashlib.sha256(repr(normed).encode()).hexdigest()
    return sorted(columns), len(normed), h


def duckdb_digest(con, sql: str):
    res = con.execute(sql)
    columns = [d[0] for d in res.description]
    return digest(columns, res.fetchall())
