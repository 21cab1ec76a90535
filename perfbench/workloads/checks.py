"""Output-check helpers: DuckDB reference answers and an order-insensitive
value hash over result frames."""

from __future__ import annotations

import hashlib
import math

import duckdb
import pandas as pd


def duckdb_frame(sql: str, views: dict[str, str]) -> pd.DataFrame:
    """Run ``sql`` in a fresh DuckDB with one view per parquet path."""
    con = duckdb.connect()
    try:
        for name, path in views.items():
            con.sql(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
        return con.sql(sql).df()
    finally:
        con.close()


def _cell(v):
    if v is None or v is pd.NaT:
        return None
    if isinstance(v, float):
        return None if math.isnan(v) else v
    if isinstance(v, pd.Timestamp):
        return v.isoformat()
    if hasattr(v, "item"):  # numpy scalar
        return _cell(v.item())
    return v


def value_hash(pdf: pd.DataFrame) -> str:
    """sha256 over the rows (columns sorted by name, rows sorted), so two
    engines agree when they return the same multiset of values."""
    cols = sorted(pdf.columns)
    rows = sorted(
        (tuple(_cell(v) for v in row) for row in pdf[cols].itertuples(index=False, name=None)),
        key=repr,
    )
    return hashlib.sha256(repr((cols, rows)).encode()).hexdigest()
