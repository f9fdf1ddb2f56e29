"""Tests for ``operators/sketches.py`` beyond its oracle and plan pins."""

from __future__ import annotations

import warnings


def test_xz11_builds_without_pandas_udf_type_warning(spark, sf_dir):
    """xz11's grouped-agg UDF is declared by type hints, not the
    deprecated ``PandasUDFType`` argument, so building it warns nothing."""
    from spotify_tags_etl_spark.operators.sketches import xz11

    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        df = xz11(spark, sf_dir)
    # pyspark's text for the deprecated form: "...instead of specifying
    # pandas UDF type which will be deprecated..."
    assert not [w for w in caught if "pandas udf type" in str(w.message).lower()]
    assert df.columns == ["event_type", "mad_cents"]
