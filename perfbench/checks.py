"""Output check for registered queries: the query's DuckDB oracle over
the same generated parquet tables, compared by row count, schema and an
order-insensitive hash of the rows.

The normalisation follows the engine's own parity harness: columns are
compared by name in sorted order, integer widths are widened to int64,
null-free nullable integers become int64 and bytes become hex strings.
Dtypes must then agree exactly, because the hash is dtype-sensitive.
"""

from __future__ import annotations

import os

_INT_WIDEN = {"int8", "int16", "int32", "uint8", "uint16", "uint32", "uint64"}
_NULLABLE_INT = {"Int8", "Int16", "Int32", "Int64"}
_TABLES = ("documents", "embeddings", "events")


def _normalize(df):
    df = df[sorted(df.columns)].copy()
    for col in df.columns:
        dt = str(df[col].dtype)
        if dt == "object":
            df[col] = df[col].map(lambda v: v.hex() if isinstance(v, (bytes, bytearray)) else v)
        elif dt in _INT_WIDEN:
            df[col] = df[col].astype("int64")
        elif dt in _NULLABLE_INT and not df[col].isna().any():
            df[col] = df[col].astype("int64")
    return df


def frame_digest(df) -> tuple[int, tuple, int]:
    """(rows, ((column, dtype), ...), order-insensitive row-hash sum)."""
    import pandas as pd

    df = _normalize(df)
    schema = tuple((c, str(df[c].dtype)) for c in df.columns)
    if len(df) == 0:
        return 0, schema, 0
    h = int(pd.util.hash_pandas_object(df, index=False).sum()) & (2**64 - 1)
    return len(df), schema, h


def oracle_frame(sql: str, input_dir: str):
    import duckdb

    con = duckdb.connect()
    try:
        for name in _TABLES:
            path = os.path.join(input_dir, f"{name}.parquet")
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
        return con.execute(sql).fetchdf()
    finally:
        con.close()


def oracle_mismatch(spark_pdf, sql: str, input_dir: str) -> str | None:
    """None when the Spark output equals the oracle's, else the reason."""
    got, want = frame_digest(spark_pdf), frame_digest(oracle_frame(sql, input_dir))
    if got[1] != want[1]:
        return f"schema {got[1]} != oracle {want[1]}"
    if got[0] != want[0]:
        return f"rows {got[0]} != oracle {want[0]}"
    if got[2] != want[2]:
        return "row hash differs from oracle"
    return None
