"""The engine's vector kernels: every dot, norm, cosine and int8
projection is spelled here once, named by its exactness contract.

**int64 — exact, order-free.** Inputs are int8-quantized embeddings
(``quantize_long``: |x| <= 127, so |x*y| <= 127^2 and a 64-dim dot is
<= ~1M, nowhere near int64 range). Integer addition is associative, so
any reduction order gives the same bits: the interpreted
``aggregate(zip_with(...))`` fold and ``pair_dot_int64``'s numpy einsum
are interchangeable. Kernels: ``quantize_long``, ``pair_dot_int64``,
``project_int64``/``self_dot_int64`` (the literal-weight sign-LSH
projection and its norm), ``sq_l2_int64_sql`` (the PQ argmin distance)
and ``cosine_at_least_int64`` (the exact-cosine verify predicate).

**double — sequential left fold.** ``dot``/``l2norm``/``cosine`` and
the ``dot_sql`` text fold ``acc + x*y`` in element order. Float
addition is NOT associative, so this order is part of the result: it
is the order of DuckDB's ``list_dot_product`` (``oracle_dot_sql``, the
oracles' side), and the oracles pin it bit-for-bit. Never route a double fold through a vectorized or
reordered kernel.

Measured evidence behind the spellings (do not change them without
re-measuring end to end — plan + execute, not just the stage):

* r12: Spark's higher-order functions are CodegenFallback (interpreted,
  boxed per element). Unrolling a fixed-dim fold into a flat 64-term
  expression makes the executed stage faster (1.85 s -> 0.93-1.07 s on
  the yv02 pair loop in a single-expression micro-bench), but every real
  query got 2-6x SLOWER end to end (ss02 2.8 -> 18 s, zc03 2.0 -> 10.7 s
  isolated medians): per-run analysis/optimization/codegen walks the
  64x larger trees, and planning dominates these queries. The folds
  below are therefore the right form. Details: OPTIMIZATION_r12.md.
* r13: ``pair_dot_int64`` hands whole Arrow batches to one numpy einsum
  (no per-element boxing, no tree blowup; the Python worker is reused
  across batches and tasks). sf0.1, local[32], median of 5 noop-sink
  runs: zc03_edges_from_b 1.87 -> 1.34 s, zc03 end to end 2.44 -> 1.96 s;
  yv02 1.90 -> 1.43 s interleaved A/B. The same site feeds zf01's sem
  stage and zf02/zh04's close-time verify. An Arrow rewrite of the
  per-ROW projection (zc03_project) measured neutral end to end (1.96
  vs 1.98 s) and was kept out. Details: OPTIMIZATION_r13.md.
* Hoisting: ``quantize_long`` runs once per ROW (O(rows x dim)), so the
  per-PAIR work reduces to the bare ``x * y`` multiply-add.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# int64: exact, order-free
# ---------------------------------------------------------------------------

_DOT_INT64 = (
    "aggregate(zip_with({a}, {b}, (x, y) -> x * y), CAST(0 AS BIGINT),"
    " (acc, v) -> acc + v)"
)


def quantize_long(col: str) -> Column:
    """Per-element int8 quantization, one pass per ROW (hoisted out of
    any downstream per-pair fold): ``floor(v * 127)`` as BIGINT — the
    spelling of ye01's per-element form and of the oracles of its
    callers (yv02, ye02, zc03, zd02, zd03)."""
    return F.expr(
        f"transform({col}, v -> CAST(floor(CAST(v AS DOUBLE) * 127) AS BIGINT))"
    )


def project_int64(q: str, wrows: Sequence[Sequence[int]]) -> list[Column]:
    """Columns ``p1..pN``: the int64 dot of ``q`` with each literal
    weight row of ``wrows`` (the sign-LSH random projection)."""
    return [
        F.expr(
            _DOT_INT64.format(a=q, b=f"array({','.join(str(w) for w in row)})")
        ).alias(f"p{j}")
        for j, row in enumerate(wrows, start=1)
    ]


def self_dot_int64(q: str) -> Column:
    """``q · q`` as int64 — the squared norm the verify predicate uses."""
    return F.expr(_DOT_INT64.format(a=q, b=q))


def sq_l2_int64_sql(a: str, b: str) -> str:
    """SQL text of the int64 squared L2 distance ``sum((x - y)^2)``, for
    embedding inside PQ argmin lambdas."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)), "
        "CAST(0 AS BIGINT), (a, v) -> a + v)"
    )


def cosine_at_least_int64(t_ppm: int) -> Column:
    """Exact-cosine verify over columns ``dp`` (pair dot), ``na1`` and
    ``na2`` (self-dots): ``cos >= t_ppm / 1e6`` as
    ``dp > 0 AND dp^2 * 1e12 >= t_ppm^2 * na1 * na2`` in DECIMAL(38,0),
    so no float rounding can move a pair across the threshold."""
    t2 = t_ppm * t_ppm
    return (F.col("dp") > 0) & (
        F.expr("CAST(dp AS DECIMAL(38,0)) * dp * 1000000000000")
        >= F.expr(f"{t2} * (CAST(na1 AS DECIMAL(38,0)) * na2)")
    )


def pair_dot_int64(
    df: DataFrame, a_col: str, b_col: str, out_col: str
) -> DataFrame:
    """Return ``df`` with the two ``array<bigint>`` columns ``a_col`` /
    ``b_col`` replaced by ``out_col`` = their exact int64 dot product,
    computed one Arrow batch at a time via ``numpy.einsum``. All other
    columns pass through unchanged (same order, same types). The input
    arrays must be non-null and of equal fixed width per batch — the
    quantized-embedding contract of every caller; violations raise
    with a clear message rather than mis-reshaping."""
    keep = [f.name for f in df.schema.fields if f.name not in (a_col, b_col)]
    out_fields = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in df.schema.fields
        if f.name not in (a_col, b_col)
    )
    schema = f"{out_fields}, {out_col} bigint" if out_fields else f"{out_col} bigint"
    narrow = df.select(*keep, a_col, b_col)

    def _dot(batches):
        import numpy as np
        import pyarrow as pa

        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            a = batch.column(a_col)
            b = batch.column(b_col)
            if a.null_count or b.null_count:
                raise ValueError(
                    f"pair_dot_int64: null {a_col}/{b_col} rows are not "
                    "part of the quantized-pair contract"
                )
            # Per-row widths, not flattened totals: rows of widths (3, 1)
            # against (1, 3) have equal totals but would mis-reshape.
            wa = np.diff(a.offsets.to_numpy())
            wb = np.diff(b.offsets.to_numpy())
            if not (np.array_equal(wa, wb) and (wa == wa[0]).all()):
                raise ValueError(
                    f"pair_dot_int64: ragged {a_col}/{b_col} widths "
                    f"(per-row {wa.tolist()[:8]} vs {wb.tolist()[:8]})"
                )
            w = int(wa[0])
            av = a.flatten().to_numpy(zero_copy_only=False).reshape(n, w)
            bv = b.flatten().to_numpy(zero_copy_only=False).reshape(n, w)
            dp = np.einsum("ij,ij->i", av, bv)
            yield pa.RecordBatch.from_arrays(
                [batch.column(k) for k in keep] + [pa.array(dp, type=pa.int64())],
                names=[*keep, out_col],
            )

    return narrow.mapInArrow(_dot, schema)


# ---------------------------------------------------------------------------
# double: sequential left fold (pinned by the DuckDB oracles)
# ---------------------------------------------------------------------------


def dot_sql(a: str, b: str) -> str:
    """SQL text of the in-order double dot — the same reduction sequence
    as DuckDB's ``list_dot_product``."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
        " CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )


def oracle_dot_sql(a: str, b: str) -> str:
    """DuckDB text of the same in-order double dot, for the oracles."""
    return f"list_dot_product(CAST({a} AS DOUBLE[]), CAST({b} AS DOUBLE[]))"


def dot(a: str, b: str) -> Column:
    return F.expr(dot_sql(a, b))


def l2norm(a: str) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: str, b: str, na: str, nb: str) -> Column:
    """``dot(a, b) / (na * nb)`` over precomputed norm columns; NULL
    when either norm is 0."""
    return dot(a, b) / F.nullif(F.col(na) * F.col(nb), F.lit(0.0))
