"""Result checks: order-insensitive hashes against DuckDB.

Normalization follows ``tools/driver_sim.py``: columns ordered by their
lowercased name, NaN as the string 'NaN', rows sorted by ``repr``. Values
that driver_sim refuses (nested cells, tz-aware timestamps) are rendered
with ``repr`` instead, so a refused shape still compares rather than
crashing the run.
"""

from __future__ import annotations

import datetime
import decimal
import hashlib
import math
import os

import duckdb


def _cell(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, decimal.Decimal):
        # Spark and DuckDB agree on the value, not always on the scale
        return float(v)
    if isinstance(v, datetime.datetime) and v.tzinfo is not None:
        return v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
    if isinstance(v, (list, tuple, dict)):
        return repr(v)
    return v


def normalize(rows, cols: list[str]) -> tuple[list[str], list[tuple]]:
    order = sorted(range(len(cols)), key=lambda i: cols[i].lower())
    out = [tuple(_cell(r[i]) for i in order) for r in rows]
    return [cols[i].lower() for i in order], sorted(out, key=repr)


def result_hash(rows, cols: list[str]) -> str:
    names, norm = normalize(rows, cols)
    h = hashlib.sha256(repr(names).encode())
    for r in norm:
        h.update(repr(r).encode())
    return h.hexdigest()


class Oracle:
    """DuckDB over the same fixture files, plus any tables a session
    creates (replayed DML keeps them in step with the engine)."""

    def __init__(self, data_dir: str, tables) -> None:
        self.con = duckdb.connect()
        self.con.execute("SET TimeZone='UTC'")
        for t in tables:
            path = os.path.join(data_dir, f"{t}.parquet")
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
            )

    def rows(self, sql: str) -> tuple[list[str], list[tuple]]:
        cur = self.con.execute(sql)
        cols = [d[0] for d in cur.description]
        return cols, cur.fetchall()

    def hash(self, sql: str) -> str:
        cols, rows = self.rows(sql)
        return result_hash(rows, cols)

    def execute(self, sql: str):
        return self.con.execute(sql)

    def close(self) -> None:
        self.con.close()
