"""Result fingerprints: a row count plus an order-insensitive hash.

Two results match when their fingerprints are equal.  Cells are put in a
canonical text form first, so that Spark's and DuckDB's Python values for
the same answer agree: exact decimals and doubles both become a number
rounded to 4 places, dates become ISO text, NULL becomes ``<null>``.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import tempfile
from decimal import Decimal

import duckdb

Fingerprint = tuple[int, str]


def _cell(v) -> str:
    if v is None:
        return "<null>"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, (int, float, Decimal)):
        return f"{round(float(v), 4):.4f}"
    if isinstance(v, (dt.date, dt.datetime)):
        return v.isoformat()
    return str(v)


def fingerprint(rows) -> Fingerprint:
    """(row count, hash of the sorted canonical rows)."""
    lines = sorted("\x1f".join(_cell(v) for v in r) for r in rows)
    h = hashlib.blake2b(digest_size=16)
    for line in lines:
        h.update(line.encode())
        h.update(b"\x1e")
    return len(lines), h.hexdigest()


class Oracle:
    """DuckDB over the generated parquet files, one view per table under
    ``schema`` — the reference answers for the report templates."""

    def __init__(self, schema: str, parquet: dict[str, str]) -> None:
        self.con = duckdb.connect(config={"temp_directory": tempfile.gettempdir()})
        self.con.execute(f'CREATE SCHEMA "{schema}"')
        for name, path in parquet.items():
            self.con.execute(
                f"CREATE VIEW \"{schema}\".\"{name}\" AS SELECT * FROM read_parquet('{path}')"
            )
        self._memo: dict[str, Fingerprint] = {}

    def fingerprint(self, sql: str) -> Fingerprint:
        if sql not in self._memo:
            self._memo[sql] = fingerprint(self.con.execute(sql).fetchall())
        return self._memo[sql]

    def close(self) -> None:
        self.con.close()
