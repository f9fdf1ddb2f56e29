"""Every registered query must hash-match its DuckDB oracle (driver's t2 gate)."""

from __future__ import annotations

import pytest

from spotify_tags_etl_spark.plans import registry
from tests.oracle_harness import compare_frames, oracle_frame

_DEFS = registry.all_defs()


@pytest.mark.parametrize("name", sorted(_DEFS))
def test_oracle_parity(sf_dir, built, name):
    rec = built(name)
    oracle = _DEFS[name].oracle
    if oracle is None:  # rows-only: the build ran and returned columns
        assert len(rec.pdf.columns) > 0
        return
    compare_frames(rec.pdf, oracle_frame(sf_dir, oracle), name)


def test_harness_is_dtype_strict(sf_dir, built):
    """The round-3 post-mortem: the driver's value-hash is dtype-
    sensitive, and the old harness widened dtypes before comparing, so
    DuckDB's un-CAST windowed integer SUM (HUGEINT -> fetchdf float64)
    slipped past it and reached the driver as av08/st03/uz02 hash reds.
    Reproduce that exact red here: run av08 against its PRE-FIX oracle
    (session_seq without the BIGINT cast) — the dtype-strict harness
    must fail it even though every value compares equal."""
    rec = built("av08_sessionize")
    fixed = _DEFS[rec.name].oracle
    assert "CAST(SUM(is_new) OVER" in fixed, "oracle lost its r4 BIGINT cast"
    broken = fixed.replace(
        "CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts\n"
        "                               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq",
        "SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts\n"
        "                               ROWS UNBOUNDED PRECEDING) AS session_seq",
    )
    assert broken != fixed, "revert substitution did not apply"
    with pytest.raises(AssertionError, match="dtype mismatch"):
        compare_frames(rec.pdf, oracle_frame(sf_dir, broken), rec.name)
    # and the FIXED oracle passes, same session, same data
    compare_frames(rec.pdf, oracle_frame(sf_dir, fixed), rec.name)


def test_harness_rejects_list_cells():
    """vx02's r3 driver `err`: the driver's hasher cannot hash list
    cells. Any array-typed output column must hard-fail locally."""
    import pandas as pd

    pdf = pd.DataFrame({"k": [1], "codes": [[1, 2, 3]]})
    with pytest.raises(AssertionError, match="list/array"):
        compare_frames(pdf, pdf.copy(), "listy")
