"""Local replica of the driver's Spark-vs-DuckDB correctness gate.

Runs a registered query's DataFrame builder and its DuckDB oracle SQL on
the same parquet tables and asserts exact equality after canonicalization
(columns sorted by name, rows sorted by all columns).

DTYPE-STRICT (round 4): the driver's value-hash is *dtype-sensitive* —
round 3 proved that DuckDB's un-CAST integer SUM (HUGEINT → fetchdf
float64) hash-mismatches Spark's int64 even when every value compares
equal, and that the driver's hasher cannot hash list-typed cells at all
(`vx02` r3 `err`). So this harness now fails on:

  * any per-column pandas dtype mismatch between the Spark and oracle
    frames (after the documented normalizations: bytes → hex str on
    both sides, every integer width → int64, pandas nullable Int64 →
    int64 when null-free — integer WIDTH is proven hash-neutral: all 14
    r1-r3 driver greens that tripped the first strict sweep were pure
    int32-vs-int64, consistent with pandas.util.hash_pandas_object
    routing every int through uint64 while bit-hashing floats);
  * any list/ndarray-typed output cell on either side (arrays must be
    serialized — e.g. ``array_join`` — before registration);
  * any object-column cell pair of differing Python types (Decimal vs
    float would otherwise compare equal and then hash apart).

A pass here is intended to IMPLY a driver hash match; reproduce the r3
av08 red by reverting the oracle CAST and this harness must go red too
(tests/test_oracle_parity.py::test_harness_is_dtype_strict pins that).
"""

from __future__ import annotations

import math
import os

import duckdb
import numpy as np
import pandas as pd

from spotify_tags_etl_spark.sources.tpch import TPCH_TABLES


def duckdb_connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for name in TPCH_TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con


def _is_listlike(v) -> bool:
    return isinstance(v, (list, tuple, np.ndarray))


def _normalize_frame(df: pd.DataFrame, name: str, side: str) -> pd.DataFrame:
    """Sort columns, apply the two sanctioned normalizations, and reject
    list-typed cells (the driver's hasher raises `unhashable type: 'list'`
    on them — such a query can never go green, so neither does it here)."""
    df = df[sorted(df.columns)].copy()
    for col in df.columns:
        dt = str(df[col].dtype)
        if dt == "object":
            vals = df[col]
            if vals.map(_is_listlike).any():
                raise AssertionError(
                    f"{name}: column {col!r} ({side}) contains list/array cells — "
                    "the driver cannot hash these; serialize (array_join) before registering"
                )
            if vals.map(lambda v: isinstance(v, (bytes, bytearray))).any():
                df[col] = vals.map(
                    lambda v: v.hex() if isinstance(v, (bytes, bytearray)) else v
                )
        elif dt in ("int8", "int16", "int32", "uint8", "uint16", "uint32", "uint64"):
            # Integer WIDTH is hash-neutral at the driver (proven by the
            # 14 int32-keyed r1-r3 driver greens); int-vs-FLOAT is not.
            df[col] = df[col].astype("int64")
        elif dt in ("Int64", "Int32", "Int16", "Int8"):
            # pandas nullable int: only equivalent to numpy int64 when
            # null-free (DuckDB fetchdf emits these for some windowed SUMs).
            if not df[col].isna().any():
                df[col] = df[col].astype("int64")
    return df


def canonicalize(df: pd.DataFrame) -> pd.DataFrame:
    """Legacy helper (widens dtypes) — kept for value-only diagnostics.
    compare_frames no longer routes through the widening."""
    df = df[sorted(df.columns)].copy()
    for col in df.columns:
        dt = str(df[col].dtype)
        if dt.startswith(("int", "uint", "Int", "UInt")):
            df[col] = df[col].astype("int64")
        elif dt.startswith(("float", "Float")):
            df[col] = df[col].astype("float64")
        elif dt == "object":
            if df[col].map(lambda v: isinstance(v, (bytes, bytearray))).any():
                df[col] = df[col].map(lambda v: v.hex() if isinstance(v, (bytes, bytearray)) else v)
            if df[col].map(lambda v: isinstance(v, (list, tuple)) or hasattr(v, "tolist")).any():
                df[col] = df[col].map(lambda v: tuple(v.tolist()) if hasattr(v, "tolist") else (tuple(v) if isinstance(v, (list, tuple)) else v))
    if len(df.columns):
        df = df.sort_values(by=list(df.columns), kind="mergesort", na_position="last")
    return df.reset_index(drop=True)


def _is_null(v) -> bool:
    if v is None:
        return True
    if isinstance(v, float) and math.isnan(v):
        return True
    return v is pd.NaT or v is pd.NA


def _values_equal(a, b) -> bool:
    if _is_null(a) and _is_null(b):
        return True
    if _is_null(a) or _is_null(b):
        return False
    if isinstance(a, float) and isinstance(b, float):
        return a == b
    # Object-column cells must agree on TYPE, not just value: Decimal(1)
    # == 1.0 is True in Python but the two hash apart at the driver.
    if type(a) is not type(b) and not (
        isinstance(a, type(b)) or isinstance(b, type(a))
    ):
        return False
    return a == b


def dtype_mismatches(
    spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame
) -> list[tuple[str, str, str]]:
    """[(column, spark_dtype, oracle_dtype)] for every differing column —
    the round-3 landmine detector, importable for sweeps."""
    out = []
    s_cols = {c: str(spark_pdf[c].dtype) for c in spark_pdf.columns}
    o_cols = {c: str(oracle_pdf[c].dtype) for c in oracle_pdf.columns}
    for c in sorted(set(s_cols) & set(o_cols)):
        if s_cols[c] != o_cols[c]:
            out.append((c, s_cols[c], o_cols[c]))
    return out


def compare_frames(spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame, name: str) -> None:
    s = _normalize_frame(spark_pdf, name, "spark")
    o = _normalize_frame(oracle_pdf, name, "oracle")
    assert list(s.columns) == list(o.columns), f"{name}: columns {list(s.columns)} != {list(o.columns)}"
    assert len(s) == len(o), f"{name}: row count {len(s)} != {len(o)}"
    mismatched = [
        (c, str(s[c].dtype), str(o[c].dtype))
        for c in s.columns
        if str(s[c].dtype) != str(o[c].dtype)
    ]
    assert not mismatched, (
        f"{name}: dtype mismatch (driver hash is dtype-sensitive): "
        + "; ".join(f"{c}: spark={sd} oracle={od}" for c, sd, od in mismatched)
    )
    if len(s.columns):
        s = s.sort_values(by=list(s.columns), kind="mergesort", na_position="last").reset_index(drop=True)
        o = o.sort_values(by=list(o.columns), kind="mergesort", na_position="last").reset_index(drop=True)
    for col in s.columns:
        sv, ov = s[col].tolist(), o[col].tolist()
        for i, (a, b) in enumerate(zip(sv, ov)):
            assert _values_equal(a, b), (
                f"{name}: col {col} row {i}: spark={a!r} ({type(a).__name__}) "
                f"!= oracle={b!r} ({type(b).__name__})"
            )


def oracle_frame(sf_dir: str, oracle: str) -> pd.DataFrame:
    con = duckdb_connect(sf_dir)
    try:
        return con.execute(oracle).fetchdf()
    finally:
        con.close()


def run_parity(spark, sf_dir: str, name: str, builder, oracle: str) -> None:
    compare_frames(builder(spark, sf_dir).toPandas(), oracle_frame(sf_dir, oracle), name)
