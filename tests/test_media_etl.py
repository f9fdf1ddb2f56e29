"""Golden tests: 12-row fixture → ingest → conform → split → canned queries.

The fixture (data/local_media_sample.json) is this repo's own 12-row
NDJSON with the reference corpus's quirks (mixed-type album_gain,
string-shipped numerics, unicode artist, trailing-CR encoder). Expected
values are hand-derived from the fixture; a DuckDB cross-check validates
the full conform+split against an independent engine.
"""

from __future__ import annotations

from decimal import Decimal

import duckdb
import pytest

from spotify_tags_etl_spark.etl.media import conform, read_media_json, register_media_views, split_valid, vertical_split
from spotify_tags_etl_spark.operators import canned
from spotify_tags_etl_spark.operators.canned import FIXTURE_PATH


@pytest.fixture(scope="module")
def tables(spark):
    return register_media_views(spark, FIXTURE_PATH)


def test_ingest_shape(spark):
    raw = read_media_json(spark, FIXTURE_PATH)
    assert raw.count() == 12
    assert len(raw.columns) == 30  # 27 source fields + 3 fill-in ID columns


def test_conform_types(spark):
    df = conform(read_media_json(spark, FIXTURE_PATH))
    dtypes = dict(df.dtypes)
    assert dtypes["track_number"] == "smallint"
    assert dtypes["year"] == "smallint"
    assert dtypes["album_gain"] == "decimal(5,2)"
    assert dtypes["last_modified"] == "timestamp"
    # mixed-type album_gain row (JSON number 0.0) survives the cast
    row12 = df.where("index = '012'").first()
    assert row12.album_gain == Decimal("0.00")
    assert row12.encoder == "LAME 3.100"
    # trailing \r stripped (reference data row 11 quirk)
    row10 = df.where("index = '010'").first()
    assert row10.encoder == "qaac 2.72"


def test_no_quarantine_on_clean_fixture(spark):
    valid, quarantined = split_valid(conform(read_media_json(spark, FIXTURE_PATH)))
    assert valid.count() == 12
    assert quarantined.count() == 0


def test_vertical_split_columns(tables):
    assert set(tables) == {"artist", "album", "track", "genre", "metadata"}
    assert tables["album"].columns == [
        "album_id", "artist_id", "album_title", "year", "album_gain", "album_art", "extract_date",
    ]
    for df in tables.values():
        assert df.count() == 12


def test_artist_select(tables):
    rows = canned.artist_select(tables, ["Velvet Harbor"]).collect()
    assert len(rows) == 2
    assert {r.composer for r in rows} == {"R. Calloway"}


def test_album_select(tables):
    rows = canned.album_select(tables, ["First Light"]).collect()
    assert len(rows) == 1
    assert rows[0].year == 2022
    assert rows[0].album_gain == Decimal("-8.67")


def test_track_select(tables):
    rows = canned.track_select(tables, ["Future Proof"]).collect()
    assert len(rows) == 1
    assert rows[0].track_length == "0:04:27"
    assert rows[0].rating == Decimal("4.0")


def test_genre_select(tables):
    rows = canned.genre_select(tables, ["Trip-Hop", "Alternative"]).collect()
    assert sorted(r.artist_name for r in rows) == [
        "Lantern Motel", "Quiet Atlas", "Quiet Atlas", "Velvet Harbor", "Velvet Harbor",
    ]


def test_file_select(tables):
    rows = canned.file_select(tables, ".flac").collect()
    assert {r.file_name for r in rows} == {
        "03_etude_no4.flac", "07_etude_no7.flac", "01_svartur_sandur.flac",
    }


def test_gain_select_order_and_filter(tables):
    rows = canned.gain_select(tables, -4.0).collect()
    # Per-record split tables (reference semantics: one row per source record
    # in every table, postgres_media.py:240-270), so a k-record artist joins
    # k x k x k_filtered. Velvet Harbor 2x2x2=8, Quiet Atlas 2x2x2=8, 5
    # single-record artists below -4.0 -> 1 each; Marta (-3.04) and Ash (0.0)
    # filtered out. Total 21.
    assert len(rows) == 21
    gains = [float(r.album_gain) for r in rows]
    assert gains == sorted(gains, reverse=True)
    assert gains[0] == -4.41


def test_join_select(tables):
    rows = canned.join_select(tables, ["Classical"]).collect()
    # Marta Jelinek: 2 genre rows x 2 artist rows x 2 track rows = 8
    assert len(rows) == 8
    assert {r.artist_name for r in rows} == {"Marta Jelinek"}
    assert {r.track_title for r in rows} == {
        "Etude No.4 in E-minor, Op.12: III. Allegro con brio",
        "Etude No.7 in A-major, Op.12: I. Andante",
    }


def test_avg_size_select(tables):
    rows = canned.avg_size_select(tables).collect()
    # sum(file_size)=114,666,496 over 12 rows → /1048576/12 → 9.11 MiB
    assert rows[0].avg_mib == pytest.approx(9.11, abs=0.01)


def test_parameterized_sql_path(spark, tables):
    rows = canned.artist_select_sql(spark, ["Velvet Harbor"]).collect()
    assert len(rows) == 2
    assert canned.avg_size_select_sql(spark).collect()[0].avg_mib == pytest.approx(9.11, abs=0.01)


def test_duckdb_cross_check_gain_select(spark, tables, tmp_path):
    """Independent-engine check of the 3-way join query on the split tables."""
    from spotify_tags_etl_spark.etl.media import enrich_offline_ids

    enriched = enrich_offline_ids(spark, conform(read_media_json(spark, FIXTURE_PATH)))
    split = vertical_split(enriched)
    for name in ("track", "artist", "album"):
        split[name].drop("extract_date").write.mode("overwrite").parquet(str(tmp_path / name))
    con = duckdb.connect()
    for name in ("track", "artist", "album"):
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{tmp_path}/{name}/*.parquet')")
    expected = con.execute(
        """
        SELECT t.track_title, a.artist_name, m.album_title, m.album_gain
        FROM track t JOIN artist a ON t.artist_id = a.artist_id
        JOIN album m ON m.artist_id = a.artist_id
        WHERE m.album_gain < -4.0 ORDER BY m.album_gain DESC
        """
    ).fetchall()
    got = [
        (r.track_title, r.artist_name, r.album_title, r.album_gain)
        for r in canned.gain_select(tables, -4.0).collect()
    ]
    assert sorted(map(tuple, expected)) == sorted(got)


def test_observe_quality_single_pass(spark):
    """One action on the observed frame must yield BOTH the output and
    the quarantine metrics — no second scan. Metric values must equal
    the explicit two-filter split."""
    from spotify_tags_etl_spark.etl.media import (
        conform,
        observe_quality,
        read_media_json,
        split_valid,
    )

    conformed = conform(read_media_json(spark, FIXTURE_PATH))
    observed, obs = observe_quality(conformed)
    n_out = observed.count()  # the single action
    valid, quarantined = split_valid(conformed)
    metrics = obs.get
    assert metrics["n_rows"] == n_out
    assert metrics["n_invalid"] == quarantined.count()
    assert metrics["n_rows"] - metrics["n_invalid"] == valid.count()


def test_enrich_offline_ids_matches_dict_lookups(spark):
    """Literal-map enrichment equals plain dict lookups on the fixture;
    null and unknown names give 'not_found'; columns keep their order."""
    from pyspark.sql import functions as F

    from spotify_tags_etl_spark.etl.media import enrich_offline_ids
    from spotify_tags_etl_spark.sources.offline_ids import ALBUM_IDS, ARTIST_IDS, NOT_FOUND, TRACK_IDS

    conformed = conform(read_media_json(spark, FIXTURE_PATH))
    probes = conformed.where("index IN ('001', '002')").withColumns(
        {
            "artist_name": F.when(F.col("index") == "001", F.lit(None)).otherwise("No Such Artist"),
            "album_title": F.when(F.col("index") == "001", "No Such Album").otherwise(F.lit(None)),
            "track_title": F.lit(None).cast("string"),
        }
    )
    enriched = enrich_offline_ids(spark, conformed.unionByName(probes))
    assert enriched.columns == conformed.columns
    rows = enriched.collect()
    assert len(rows) == 14
    for r in rows:
        assert r.artist_id == ARTIST_IDS.get(r.artist_name, NOT_FOUND)
        assert r.album_id == ALBUM_IDS.get(r.album_title, NOT_FOUND)
        assert r.track_id == TRACK_IDS.get(r.track_title, NOT_FOUND)
    assert sum(r.artist_id == NOT_FOUND for r in rows) == 2
    assert sum(r.track_id != NOT_FOUND for r in rows) == 12


def test_enrich_offline_ids_plan_has_no_join(spark):
    """The lookup is a projection: no broadcast exchange and no Python-RDD
    scan (a lookup table built with createDataFrame plans as one)."""
    from spotify_tags_etl_spark.etl.media import enrich_offline_ids

    enriched = enrich_offline_ids(spark, conform(read_media_json(spark, FIXTURE_PATH)))
    plan = enriched._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastExchange" not in plan
    assert "Scan ExistingRDD" not in plan
    assert "Join" not in plan


def _warehouse_input(spark):
    from spotify_tags_etl_spark.etl.media import enrich_offline_ids

    valid, _ = split_valid(conform(read_media_json(spark, FIXTURE_PATH)))
    return enrich_offline_ids(spark, valid), valid.count()


def test_write_warehouse_tables_columns_counts_partitions(spark, tmp_path):
    from spotify_tags_etl_spark.etl.media import write_warehouse
    from spotify_tags_etl_spark.schemas import WAREHOUSE_TABLES

    enriched, n_valid = _warehouse_input(spark)
    persisted = len(spark.sparkContext._jsc.getPersistentRDDs())
    write_warehouse(enriched, str(tmp_path), partition_by={"metadata": ["file_ext"]})
    assert len(spark.sparkContext._jsc.getPersistentRDDs()) == persisted
    assert sorted(p.name for p in tmp_path.iterdir()) == sorted(WAREHOUSE_TABLES)
    for table, cols in WAREHOUSE_TABLES.items():
        df = spark.read.parquet(str(tmp_path / table))
        if table == "metadata":
            # partition columns read back last
            assert sorted(df.columns) == sorted(cols)
        else:
            assert df.columns == cols
        assert df.count() == n_valid
    assert {p.name for p in (tmp_path / "metadata").iterdir() if p.is_dir()} == {
        "file_ext=.flac", "file_ext=.m4a", "file_ext=.mp3", "file_ext=.wma",
    }


def test_write_warehouse_unpersists_when_a_write_fails(spark, tmp_path):
    """One table's write raising must still release the shared cache, and
    must not stop the other, independent writes."""
    from spotify_tags_etl_spark.etl.media import write_warehouse

    enriched, _ = _warehouse_input(spark)
    (tmp_path / "album").write_text("not a parquet dataset")
    persisted = len(spark.sparkContext._jsc.getPersistentRDDs())
    with pytest.raises(Exception, match="album"):
        write_warehouse(enriched, str(tmp_path), mode="errorifexists")
    assert len(spark.sparkContext._jsc.getPersistentRDDs()) == persisted
    assert (tmp_path / "album").read_text() == "not a parquet dataset"
    for table in ("artist", "track", "genre", "metadata"):
        assert (tmp_path / table / "_SUCCESS").exists()
