"""DuckDB oracle and the order-insensitive value hash.

A query result matches its oracle when both sides have the same column
names (case-insensitive, any order) and the same multiset of rows after
every value is rendered canonically at full precision — the comparison
the engine's own verify gate makes. Both sides are reduced to one hash so
a run can record, and a test can perturb, a single value per query.
"""

from __future__ import annotations

import hashlib
import math
import os
from datetime import date, datetime
from decimal import Decimal

from etl_pipeline_with_alpha_vantage_spark.catalog import TABLES


def canon(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, Decimal):
        v = float(v)
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v + 0.0)
    if isinstance(v, (datetime, date)):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    return str(v)


def value_hash(columns: list[str], rows: list[tuple]) -> str:
    """Hash of the column-name set and the sorted canonical rows; rows and
    columns may arrive in any order."""
    cols = [c.lower() for c in columns]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    body = sorted("\x1f".join(canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256("\x1e".join(cols[i] for i in order).encode())
    for line in body:
        h.update(b"\x1d" + line.encode())
    return h.hexdigest()


class Oracle:
    """DuckDB connection with the star-schema tables registered as views."""

    def __init__(self, sf_dir: str):
        import duckdb

        self.con = duckdb.connect()
        for name in TABLES:
            path = os.path.join(sf_dir, f"{name}.parquet")
            self.con.execute(
                f"CREATE VIEW {name} AS SELECT * FROM '{path}'")

    def hash(self, sql: str) -> str:
        rel = self.con.sql(sql)
        return value_hash(list(rel.columns), rel.fetchall())

    def close(self) -> None:
        self.con.close()
