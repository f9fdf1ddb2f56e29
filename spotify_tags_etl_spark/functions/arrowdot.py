"""Arrow-vectorized exact integer dot products for the pair-verify
hot loops (optimization guide §4.2).

Spark's ``aggregate(zip_with(a, b, (x, y) -> x * y), 0L, ...)`` spelling
is CodegenFallback — interpreted, boxed per element — so the candidate
pair verify (O(pairs x dim) multiply-adds, the intrinsic cost of every
LSH dedup/eval operator here) pays tens of millions of boxed lambda
calls per run. Unrolling the fold into flat codegen arithmetic was
measured WORSE end-to-end (see functions/vecexpr.py — per-run planning
over 64x larger expression trees dominates). The remaining lever the
guide names (§4.2): hand whole Arrow batches to vectorized native code.
``pair_dot_int64`` maps the pair frame through ONE ``mapInArrow``
whose per-batch work is a single ``numpy.einsum`` over the two list
columns — no per-element boxing, no expression-tree blowup, and the
Python worker is reused across batches and tasks (§4.5).

Exactness: the folds this replaces are 64-bit INTEGER sums (int8-
quantized embeddings: |x*y| <= 127^2, dim 64 ⇒ |dot| <= ~1M, nowhere
near int64 range), and integer addition is associative — numpy's
reduction order cannot move a bit. This is why the DOUBLE-typed cosine
fold in similarity.py (ss02) is NOT routed through here: float
summation order changes the low bits, and the oracle pins the
sequential-fold spelling.

Measured (r13, sf0.1, local[32], median of 5 noop-sink runs):
zc03_edges_from_b 1.87 -> 1.34 s on the edges pass alone; zc03
end-to-end 2.44 -> 1.96 s. The same site feeds zf01's sem stage and
zf02/zh04's close-time verify. An Arrow rewrite of the per-ROW
projection matmul (zc03_project) was measured NEUTRAL end-to-end
(1.96 vs 1.98 s) and kept out.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


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
