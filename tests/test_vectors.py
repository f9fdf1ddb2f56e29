"""Tests for the vector kernels in ``functions/vecexpr.py``.

The int64 kernels must be bit-equal to the interpreted folds they stand
for (integer sums are order-free); the double kernels must keep the
sequential left-fold order the DuckDB oracles pin; and no engine module
may spell a kernel outside the one module.
"""

from __future__ import annotations

import functools
import math
import operator
import pathlib
from fractions import Fraction

import numpy as np
import pytest
from pyspark.sql import functions as F

from spotify_tags_etl_spark.functions.vecexpr import (
    cosine_at_least_int64,
    dot,
    pair_dot_int64,
    quantize_long,
    sq_l2_int64_sql,
)

ENGINE = pathlib.Path(__file__).resolve().parents[1] / "spotify_tags_etl_spark"


# ---------------------------------------------------------------------------
# int64 pair dot (Arrow batch kernel)
# ---------------------------------------------------------------------------


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


def test_yv02_hoisted_quantize_matches_inline_fold(spark):
    """yv02's r12 rewrite hoists floor(cast(x)*127) out of the pair
    fold: quantize_long per SIDE then a bare x*y fold must equal the
    old form that quantized both elements inside every pair's lambda
    (covers negatives, zeros, fractional magnitudes)."""
    rows = [
        ([0.5, -0.25, 0.0, 1.0], [0.999, -0.999, 0.123, -0.123]),
        ([-1.0, 0.007874, -0.007874, 0.25], [0.5, 0.5, -0.5, -0.25]),
    ]
    df = spark.createDataFrame(rows, "a: array<float>, b: array<float>")
    got = df.select(
        quantize_long("a").alias("qa"), quantize_long("b").alias("qb"), "a", "b"
    ).select(
        F.expr(
            "aggregate(zip_with(a, b, (x, y) -> "
            "CAST(floor(CAST(x AS DOUBLE) * 127) AS BIGINT)"
            " * CAST(floor(CAST(y AS DOUBLE) * 127) AS BIGINT)), 0L,"
            " (acc, v) -> acc + v)"
        ).alias("ref"),
        F.expr(
            "aggregate(zip_with(qa, qb, (x, y) -> x * y), 0L, (acc, v) -> acc + v)"
        ).alias("hoisted"),
    ).collect()
    for r in got:
        assert r.ref == r.hoisted


# ---------------------------------------------------------------------------
# exactness contracts
# ---------------------------------------------------------------------------


def test_double_dot_is_a_sequential_left_fold(spark):
    """The double dot adds products in element order: here cancellation
    loses the first 1, so the fold gives 1.0 where an exact sum (fsum)
    gives 2.0. A reordered or compensated kernel would fail this."""
    a = [1e16, 1.0, -1e16, 1.0]
    b = [1.0] * 4
    seq = functools.reduce(operator.add, [x * y for x, y in zip(a, b)], 0.0)
    assert seq == 1.0 and math.fsum(x * y for x, y in zip(a, b)) == 2.0
    df = spark.createDataFrame([(a, b)], "a array<double>, b array<double>")
    assert df.select(dot("a", "b").alias("d")).first().d == seq


def test_sq_l2_int64_matches_numpy(spark):
    rng = np.random.default_rng(7)
    a = rng.integers(-127, 128, size=(32, 64))
    b = rng.integers(-127, 128, size=(32, 64))
    rows = [(i, a[i].tolist(), b[i].tolist()) for i in range(len(a))]
    df = spark.createDataFrame(rows, "id int, a array<bigint>, b array<bigint>")
    got = dict(
        df.select("id", F.expr(sq_l2_int64_sql("a", "b")).alias("d")).collect()
    )
    want = ((a - b) ** 2).sum(axis=1)
    assert (a < 0).any() and (b < 0).any()
    assert got == {i: int(want[i]) for i in range(len(a))}


@pytest.mark.parametrize("t_ppm", [350_000, 500_000])
def test_cosine_verify_agrees_with_exact_fractions(spark, t_ppm):
    """``dp / sqrt(na1 * na2) >= t_ppm / 1e6`` decided exactly: rows on
    the equality boundary (kept), one unit either side of it, dp <= 0
    (dropped even when dp^2 would pass), and magnitudes whose dp^2 * 1e12
    overflows int64."""
    t = Fraction(t_ppm, 10**6)
    rows = []
    for n in (100, 1_000_000):
        edge = int(t * n)  # na1 = na2 = n: dp = t * n is exactly on the boundary
        rows += [(edge + d, n, n) for d in (-1, 0, 1)]
        rows += [(-edge, n, n), (0, n, n)]
    rows += [(3, 4, 9), (2, 4, 9), (-3, 4, 9)]  # sqrt(36) = 6: boundary at 0.5
    df = spark.createDataFrame(
        [(i, *r) for i, r in enumerate(rows)], "id int, dp bigint, na1 bigint, na2 bigint"
    )
    kept = {r.id for r in df.where(cosine_at_least_int64(t_ppm)).collect()}
    want = {
        i
        for i, (dp, na1, na2) in enumerate(rows)
        if dp > 0 and Fraction(dp) ** 2 >= t**2 * na1 * na2
    }
    assert kept == want
    assert any(dp > 0 and Fraction(dp) ** 2 == t**2 * na1 * na2 for dp, na1, na2 in rows)


# ---------------------------------------------------------------------------
# structure: one kernel module
# ---------------------------------------------------------------------------


def test_vector_kernels_are_spelled_only_in_vecexpr():
    home = ENGINE / "functions" / "vecexpr.py"
    offenders = [
        f"{path.relative_to(ENGINE)}: {needle}"
        for path in sorted(ENGINE.rglob("*.py"))
        if path != home
        for needle in ("aggregate(zip_with", "einsum")
        if needle in path.read_text()
    ]
    assert offenders == []
