"""Fuzzy top-1 match (J3) + offline lookup (J4) behavior tests."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from spotify_tags_etl_spark.functions.text import indel_ratio, normalize_text
from spotify_tags_etl_spark.operators.fuzzy import fuzzy_top_match, offline_lookup


@pytest.fixture(scope="module")
def frames(spark):
    local = spark.createDataFrame(
        [("Velvet Harbour",), ("Quiet Atlas",), ("Bjork",), ("Zzzz Qqqq",)],
        "keyword string",
    )
    candidates = spark.createDataFrame(
        [("Velvet Harbor", "a1"), ("Quiet Atlas", "a2"), ("Björk", "a3"), ("Lantern Motel", "a4")],
        "cand_name string, cand_id string",
    )
    return local, candidates


def test_exact_match_scores_100(spark, frames):
    local, candidates = frames
    matches, _ = fuzzy_top_match(local, candidates, "keyword", "cand_name", threshold=70.0, block=False)
    got = {r.keyword: (r.best_name, r.score) for r in matches.collect()}
    assert got["Quiet Atlas"] == ("Quiet Atlas", 100.0)
    # deaccent: Björk normalizes to Bjork → exact
    assert got["Bjork"] == ("Björk", 100.0)


def test_near_match_and_threshold_split(spark, frames):
    local, candidates = frames
    matches, audit = fuzzy_top_match(local, candidates, "keyword", "cand_name", threshold=70.0, block=False)
    got = {r.keyword: r for r in matches.collect()}
    expected = indel_ratio("velvet harbour", "velvet harbor")
    assert got["Velvet Harbour"].best_name == "Velvet Harbor"
    assert got["Velvet Harbour"].score == expected
    # the nonsense keyword's best match lands below threshold → audit frame
    audit_rows = audit.collect()
    assert [r.keyword for r in audit_rows] == ["Zzzz Qqqq"]
    assert all(r.score < 70.0 for r in audit_rows)


def test_blocked_path_agrees_on_matches(spark, frames):
    local, candidates = frames
    exact, _ = fuzzy_top_match(local, candidates, "keyword", "cand_name", threshold=70.0, block=False)
    blocked, _ = fuzzy_top_match(local, candidates, "keyword", "cand_name", threshold=70.0, block=True)
    e = {(r.keyword, r.best_name, r.score) for r in exact.collect()}
    b = {(r.keyword, r.best_name, r.score) for r in blocked.collect()}
    assert b == e  # same-prefix candidates survive the block rule here


def test_offline_lookup_default(spark):
    local = spark.createDataFrame([("Velvet Harbor",), ("Unknown Band",)], "artist_name string")
    ids = {"Velvet Harbor": "a1"}
    looked_up = local.withColumn("matched_id", offline_lookup(ids, "artist_name"))
    got = {r.artist_name: r.matched_id for r in looked_up.collect()}
    assert got == {"Velvet Harbor": "a1", "Unknown Band": "not_found"}


def test_normalize_udf_matches_python(spark):
    from spotify_tags_etl_spark.functions.text import normalize_udf

    vals = ["Björk", "A & B  (c)", None, "  x   y "]
    df = spark.createDataFrame([(v,) for v in vals], "s string").select(normalize_udf(F.col("s")).alias("n"))
    assert [r.n for r in df.collect()] == [normalize_text(v) for v in vals]


def test_duplicate_keywords_keep_one_row_each(spark, frames):
    """Two distinct local rows sharing a keyword must BOTH survive the
    argmax (the window partitions per local row, not per keyword value —
    the reference loops rows)."""
    _, candidates = frames
    local = spark.createDataFrame(
        [(1, "Velvet Harbor"), (2, "Velvet Harbor"), (3, "Quiet Atlas")],
        "pk long, keyword string",
    )
    matches, audit = fuzzy_top_match(local, candidates, "keyword", "cand_name", threshold=0.0)
    rows = matches.unionByName(audit).collect()
    assert sorted(r.pk for r in rows) == [1, 2, 3]
    by_pk = {r.pk: r for r in rows}
    assert by_pk[1].best_name == by_pk[2].best_name  # same keyword, same best


def test_blocked_unmatched_local_reaches_audit(spark, frames):
    """A local row whose block contains no candidate must surface in the
    audit frame with score 0 — blocking may degrade the match, never
    silently delete the keyword."""
    _, candidates = frames
    local = spark.createDataFrame([("Zebra Crossing",)], "keyword string")
    matches, audit = fuzzy_top_match(local, candidates, "keyword", "cand_name", threshold=70.0)
    assert matches.count() == 0
    rows = audit.collect()
    assert len(rows) == 1 and rows[0].keyword == "Zebra Crossing"
    assert rows[0].score == 0.0 and rows[0].best_name is None


def test_offline_lookup_survives_name_id_collision(spark):
    """A local frame with its own 'name'/'id' columns keeps them."""
    local = spark.createDataFrame(
        [("x9", "Velvet Harbor", "local-name")], "id string, artist string, name string"
    )
    ids = {"Velvet Harbor": "a1"}
    row = local.withColumn("matched_id", offline_lookup(ids, "artist")).collect()[0]
    assert (row.id, row.name, row.matched_id) == ("x9", "local-name", "a1")
