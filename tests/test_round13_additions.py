"""Round-13 (optimization round 2) focused tests: the bounded shuffle
width and the streaming shuffle-partition pin. (The pair-dot kernel's
tests live in tests/test_vectors.py.)
"""

from __future__ import annotations

import pytest


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
