"""Round-13 (optimization round 2) focused tests.

Pins for the optimizations this round ships:

* ``functions/arrowdot.py: pair_dot_int64`` — the Arrow-vectorized
  exact integer dot that replaced the interpreted
  ``aggregate(zip_with(...))`` pair-verify folds (guide §4.2). The
  replacement is only legal because the sums are INTEGER (order-free);
  these tests pin bit-equality against the fold spelling, the
  pass-through column contract, and the loud-failure guards.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from spotify_tags_etl_spark.functions.arrowdot import pair_dot_int64


def _pairs(spark, rows):
    return spark.createDataFrame(
        rows, "id bigint, tag string, a array<bigint>, b array<bigint>"
    )


def test_pair_dot_matches_interpreted_fold(spark):
    """Bit-equality against the zip_with fold it replaced, including
    negative values and the widths the engine uses (64)."""
    rows = [
        (1, "x", [1, -2, 3], [4, 5, -6]),
        (2, "y", [127, 127, 127], [127, 127, 127]),
        (3, "z", [0, 0, 0], [9, 9, 9]),
        (4, "w", list(range(-32, 32)), list(range(64, 0, -1))),
    ]
    df = _pairs(spark, rows)
    fold = df.select(
        "id",
        F.expr(
            "aggregate(zip_with(a, b, (x, y) -> x * y), CAST(0 AS BIGINT),"
            " (acc, v) -> acc + v)"
        ).alias("dp"),
    )
    arrow = pair_dot_int64(df, "a", "b", "dp").select("id", "dp")
    assert sorted(fold.collect()) == sorted(arrow.collect())


def test_pair_dot_passes_other_columns_through(spark):
    df = _pairs(spark, [(7, "k", [2, 3], [5, 7])])
    out = pair_dot_int64(df, "a", "b", "dp")
    assert out.columns == ["id", "tag", "dp"]
    row = out.collect()[0]
    assert (row.id, row.tag, row.dp) == (7, "k", 31)
    # schema types preserved for pass-through columns, dp is bigint
    assert dict((f.name, f.dataType.simpleString()) for f in out.schema.fields) == {
        "id": "bigint",
        "tag": "string",
        "dp": "bigint",
    }


def test_pair_dot_plan_is_one_arrow_stage(spark):
    """The replacement's point: ONE MapInArrow node, no BatchEvalPython
    row-at-a-time boundary."""
    df = _pairs(spark, [(1, "x", [1, 2], [3, 4])])
    plan = pair_dot_int64(df, "a", "b", "dp")._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInArrow") == 1
    assert "BatchEvalPython" not in plan


def test_pair_dot_rejects_nulls_and_ragged_loudly(spark):
    """Violating the quantized-pair contract must fail with the named
    error, never mis-reshape into wrong dot products."""
    nulls = spark.createDataFrame(
        [(1, [1, 2], None)], "id bigint, a array<bigint>, b array<bigint>"
    )
    with pytest.raises(Exception, match="pair_dot_int64"):
        pair_dot_int64(nulls, "a", "b", "dp").collect()
    ragged = spark.createDataFrame(
        [(1, [1, 2], [1]), (2, [1, 2], [1, 2, 3])],
        "id bigint, a array<bigint>, b array<bigint>",
    )
    with pytest.raises(Exception, match="pair_dot_int64"):
        pair_dot_int64(ragged, "a", "b", "dp").collect()
    # equal flattened totals (4 and 4) but per-row widths (3, 1) vs (1, 3),
    # in ONE Arrow batch so only a per-row check can tell them apart
    same_total = spark.createDataFrame(
        [(1, [1, 2, 3], [1]), (2, [4], [1, 2, 3])],
        "id bigint, a array<bigint>, b array<bigint>",
    ).coalesce(1)
    with pytest.raises(Exception, match="pair_dot_int64"):
        pair_dot_int64(same_total, "a", "b", "dp").collect()


# ---------------------------------------------------------------------------
# bounded_shuffle / stream-partition pin (r13 §1, ADVICE fixes, VERDICT #6)
# ---------------------------------------------------------------------------


def test_shuffle_width_for_bytes_is_scale_adaptive():
    from spotify_tags_etl_spark.functions.concurrency import (
        BOUND_TASK_BYTES,
        shuffle_width_for_bytes,
    )

    # tiny input: floor of 2, never the session value
    assert shuffle_width_for_bytes(1, 32) == 2
    # fixture-sized: bytes-derived width
    assert shuffle_width_for_bytes(6 * BOUND_TASK_BYTES, 32) == 6
    # production-sized: the session value ALWAYS wins (the no-op contract)
    assert shuffle_width_for_bytes(10**14, 32) == 32
    assert shuffle_width_for_bytes(10**14, 4096) == 4096


def test_bounded_shuffle_sets_and_restores(spark):
    from spotify_tags_etl_spark.functions.concurrency import bounded_shuffle

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    with bounded_shuffle(spark, 1) as width:
        assert width == 2
        assert spark.conf.get("spark.sql.shuffle.partitions") == "2"
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev


def test_bounded_shuffle_restores_on_exception(spark):
    from spotify_tags_etl_spark.functions.concurrency import bounded_shuffle

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    with pytest.raises(RuntimeError):
        with bounded_shuffle(spark, 1):
            raise RuntimeError("boom")
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev


def test_stream_partition_pin_production_path(spark, sf_dir, monkeypatch):
    """With a production-sized SPARK_GRAFT_STREAM_PARTITIONS the pin is
    a no-op (the session value wins the min) and results are unchanged
    — the VERDICT #6 'env set, still green' pin."""
    from spotify_tags_etl_spark.streaming import ops as sops

    base = sops.st01(spark, sf_dir).orderBy("hour_bucket", "event_type").collect()
    monkeypatch.setattr(sops, "STREAM_PARTITIONS", 4096)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    wide = sops.st01(spark, sf_dir).orderBy("hour_bucket", "event_type").collect()
    assert wide == base
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev


def test_stream_partition_pin_restores_on_start_failure(spark, sf_dir):
    """A start-time analysis error must not leave the session pinned
    (r12 ADVICE: .start() used to sit outside the try/finally)."""
    from pyspark.sql import functions as F

    from spotify_tags_etl_spark.streaming.ops import (
        read_events_stream,
        run_to_memory,
    )

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    # unwatermarked aggregate in append mode -> AnalysisException at start
    bad = read_events_stream(spark, sf_dir).groupBy("event_type").count()
    with pytest.raises(Exception):
        run_to_memory(bad, "append")
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev
