"""Dual-encoding regression tests for the events loader.

The driver regenerates ``/root/testdata/sf*/events.parquet`` between
rounds and has already shipped two different physical encodings for
``ts``: TIMESTAMP(NANOS) (round 1/2 build data; Spark reads it as bigint
ns under ``spark.sql.legacy.parquet.nanosAsLong``) and plain
``timestamp[us]`` (round 2 driver data; Spark reads it as
TIMESTAMP_NTZ). Round 2 lost 8 driver correctness rows, 22 pytest
verdicts, and the whole bench run to a loader that only handled the
first encoding. These tests write tiny fixtures in EVERY encoding and
assert that ``load_table`` and ``read_events_stream`` both normalize to
the canonical pair: TIMESTAMP ``ts`` (watermark-eligible instant) +
BIGINT ``ts_ns`` (full-precision ordering key) with identical values.
"""

from __future__ import annotations

import datetime as dt
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from spotify_tags_etl_spark.sources.tpch import load_table, read_parquet
from spotify_tags_etl_spark.streaming.ops import read_events_stream

# Three instants with sub-second digits; naive == UTC wall clock.
_TS = [
    dt.datetime(2024, 3, 1, 12, 0, 0, 250_000),
    dt.datetime(2024, 3, 1, 12, 5, 30, 500_000),
    dt.datetime(2024, 3, 2, 0, 0, 1, 750_000),
]
_EXPECTED_NS = [int(t.replace(tzinfo=dt.timezone.utc).timestamp() * 1_000_000) * 1000 for t in _TS]

ENCODINGS = {
    "nanos": pa.timestamp("ns"),  # legacy fixture: bigint under nanosAsLong
    "usec_ntz": pa.timestamp("us"),  # current fixture: TIMESTAMP_NTZ
    "usec_utc": pa.timestamp("us", tz="UTC"),  # instant: plain TIMESTAMP
}


def _write_events(path: str, ts_type: pa.DataType) -> None:
    table = pa.table(
        {
            "event_id": pa.array([1, 2, 3], pa.int64()),
            "ts": pa.array(_TS).cast(ts_type),
            "user_id": pa.array([10, 11, 10], pa.int64()),
            "event_type": pa.array(["click", "view", "click"]),
            "value": pa.array([1.5, 2.5, 3.5], pa.float64()),
            "props": pa.array(['{"a":1}', "{}", "{}"]),
        }
    )
    pq.write_table(table, path)


@pytest.fixture(scope="module", params=sorted(ENCODINGS))
def encoded_dir(request, tmp_path_factory):
    d = tmp_path_factory.mktemp(f"events_{request.param}")
    _write_events(os.path.join(d, "events.parquet"), ENCODINGS[request.param])
    return str(d)


def test_load_table_normalizes_any_encoding(spark, encoded_dir):
    df = load_table(spark, encoded_dir, "events")
    dtypes = dict(df.dtypes)
    assert dtypes["ts"] == "timestamp", dtypes
    assert dtypes["ts_ns"] == "bigint", dtypes
    rows = {r["event_id"]: r for r in df.orderBy("event_id").collect()}
    assert [rows[i + 1]["ts_ns"] for i in range(3)] == _EXPECTED_NS
    # ts renders the same UTC wall clock in every encoding (session tz pinned).
    got = [rows[i + 1]["ts"].replace(tzinfo=None) for i in range(3)]
    assert got == _TS


def test_read_parquet_matches_spark_read(spark, encoded_dir):
    """The memoized read (schema handed to the reader) returns the same
    schema and rows as a plain inferring ``spark.read.parquet``."""
    load_table(spark, encoded_dir, "events")  # sets nanosAsLong, memoizes
    path = os.path.join(encoded_dir, "events.parquet")
    got, want = read_parquet(spark, path), spark.read.parquet(path)
    assert got.schema == want.schema
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_stream_reader_normalizes_and_watermarks(spark, encoded_dir):
    stream = read_events_stream(spark, encoded_dir)
    dtypes = dict(stream.dtypes)
    assert dtypes["ts"] == "timestamp", dtypes
    assert dtypes["ts_ns"] == "bigint", dtypes
    # The round-2 failure mode: withWatermark raises on TIMESTAMP_NTZ.
    stream.withWatermark("ts", "10 minutes")
