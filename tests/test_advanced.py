"""Unit tests for the advanced operator helpers (as-of join semantics,
sessionization edges, KMV sketch accuracy). Oracle parity for the full
registered queries is covered by test_oracle_parity.py; these pin the
operator semantics on hand-built frames where every edge is visible.
"""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from spotify_tags_etl_spark.operators.advanced import asof_join


@pytest.fixture(scope="module")
def asof_frames(spark):
    left = spark.createDataFrame(
        [
            Row(k=1, t=10, lid="a"),
            Row(k=1, t=20, lid="b"),
            Row(k=1, t=5, lid="c"),   # before any right row
            Row(k=2, t=100, lid="d"), # key with no right rows at all
            Row(k=1, t=15, lid="e"),  # exactly equal ts to a right row
        ]
    )
    right = spark.createDataFrame(
        [
            Row(k=1, t=8, rid="r1", v=1.0),
            Row(k=1, t=15, rid="r2", v=2.0),
            Row(k=1, t=19, rid="r3", v=3.0),
            Row(k=3, t=1, rid="r4", v=4.0),  # key absent on the left
        ]
    )
    return left, right


def test_asof_backward_latest(spark, asof_frames):
    left, right = asof_frames
    out = asof_join(left, right, key="k", ts="t", right_cols={"rid": "rid", "v": "v"})
    got = {r.lid: (r.rid, r.v) for r in out.collect()}
    assert got["a"] == ("r1", 1.0)   # t=10 → latest right at 8
    assert got["b"] == ("r3", 3.0)   # t=20 → latest right at 19
    assert got["c"] == (None, None)  # t=5 → nothing at-or-before
    assert got["d"] == (None, None)  # key 2 has no right rows
    assert got["e"] == ("r2", 2.0)   # t=15 equal ts → '<=' includes it


def test_asof_preserves_left_rowcount(spark, asof_frames):
    left, right = asof_frames
    out = asof_join(left, right, key="k", ts="t", right_cols={"rid": "rid"})
    assert out.count() == left.count()
    assert set(out.columns) == {"k", "t", "lid", "rid"}


def test_kmv_estimate_within_error(built):
    """KMV with k=32 has relative std error ~1/sqrt(k-2) ≈ 18%; the
    deterministic estimate for each event_type must land inside 3σ."""
    rows = built("av11_kmv_sketch").rows
    assert rows
    for r in rows:
        assert r.approx_distinct == pytest.approx(r.n_exact, rel=0.55)


def test_sessionize_counts_sum_to_events(spark, sf_dir, built):
    from spotify_tags_etl_spark.sources.tpch import load_table

    total = sum(r.n_events for r in built("av08_sessionize").rows)
    assert total == load_table(spark, sf_dir, "events").count()


def test_moments_match_builtin_stats(spark, sf_dir, built):
    """The exact-integer-sum moments must agree with Spark's float
    var_samp/corr to float precision (the builtins are the semantics;
    the integer path is the deterministic implementation)."""
    from spotify_tags_etl_spark.sources.tpch import load_table

    ours = {r.event_type: (r.var_value, r.corr_value_user)
            for r in built("av13_moments").rows}
    ref = {r.event_type: (r.v, r.c)
           for r in load_table(spark, sf_dir, "events").groupBy("event_type").agg(
               F.var_samp("value").alias("v"),
               F.corr("value", F.col("user_id").cast("double")).alias("c")).collect()}
    assert set(ours) == set(ref)
    for et in ours:
        assert ours[et][0] == pytest.approx(ref[et][0], rel=1e-6)
        assert ours[et][1] == pytest.approx(ref[et][1], rel=1e-4)


def test_hll_union_of_daily_equals_direct_weekly(spark, sf_dir):
    """xk02's rollup claim: merging per-day HLL sketches register-wise
    must give the SAME estimate as sketching the week directly — that
    equality is what makes stored daily partials a substitute for
    re-scanning raw events at any coarser grain."""
    from spotify_tags_etl_spark.operators.advanced import _DAY_US
    from spotify_tags_etl_spark.sources.tpch import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.expr(f"unix_micros(ts) DIV {_DAY_US}").alias("day"),
        F.expr(f"unix_micros(ts) DIV {7 * _DAY_US}").alias("wk"),
    )
    merged = {
        r.wk: r.est
        for r in ev.groupBy("wk", "day")
        .agg(F.hll_sketch_agg("user_id").alias("sk"))
        .groupBy("wk")
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est"))
        .collect()
    }
    direct = {
        r.wk: r.est
        for r in ev.groupBy("wk")
        .agg(F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("est"))
        .collect()
    }
    assert merged == direct


def test_clamped_balance_identity_vs_recursion(spark, sf_dir, built):
    """xr04's closed form (cumsum - min(0, running_min(cumsum))) must
    equal the literal non-associative recurrence b_t = max(0, b_(t-1)
    + d_t) row by row — the identity is the whole operator, so pin it
    against ground truth, not just the oracle's algebra mirror."""
    from collections import defaultdict

    from spotify_tags_etl_spark.sources.tpch import load_table

    got = {
        (r.user_id, r.event_id): r.balance_cents
        for r in built("xr04_clamped_running_balance").rows
    }
    ev = (
        load_table(spark, sf_dir, "events")
        .select(
            "user_id",
            "event_id",
            F.unix_micros("ts").alias("us"),
            F.when(
                F.col("event_type") == "purchase",
                -F.round(F.col("value") * 100).cast("bigint"),
            )
            .otherwise(F.round(F.col("value") * 100).cast("bigint"))
            .alias("d"),
        )
        .collect()
    )
    seqs = defaultdict(list)
    for r in ev:
        seqs[r.user_id].append((r.us, r.event_id, r.d))
    expected = {}
    for uid, rows in seqs.items():
        b = 0
        for _, eid, d in sorted(rows):
            b = max(0, b + d)
            expected[(uid, eid)] = b
    assert got == expected
