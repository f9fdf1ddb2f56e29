"""Media-tags pipeline: NDJSON ingest → conform → validate → vertical split.

Spark-first re-expression of the reference's pipeline 1
(``run_pipeline.py trigger_etl`` → ``postgres_media.py load_data/load_df``,
reference ``postgres_media.py:228-306``). The reference iterates pandas
rows and INSERTs one row at a time; here the whole pipeline is five
declarative projections over one conformed DataFrame — no row loops, no
per-row catalog introspection (the reference re-reads
``information_schema`` per row, ``postgres_media.py:262``).

Scale notes: ingest is a schema-explicit ``spark.read.json`` (inference
would both mis-type the dirty columns and cost an extra pass); the split
writes are independent column-pruned projections of a single cached scan,
submitted concurrently, so each warehouse table write reads only its
columns. At 100 TB the writes partition by a stable key (e.g. ``file_ext``
for metadata) — exposed via ``partition_by``. Offline IDs are filled by a
literal-map lookup: one projection, no join and no job. It is sized for
the fixed 9-, 9- and 12-entry dicts; large ID tables belong in a real join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spotify_tags_etl_spark.schemas import MEDIA_CONFORMED_CASTS, MEDIA_RAW_SCHEMA, WAREHOUSE_TABLES


def read_media_json(spark: SparkSession, path: str, with_source_file: bool = False) -> DataFrame:
    """S1/S2/S3: NDJSON scan with explicit schema (postgres_media.py:285-300).

    Glob patterns work directly (``data/*local*.json``); blank lines are
    skipped by the reader; the mixed-type ``album_gain`` lands as string.
    ``with_source_file`` exposes the O3 observable scan provenance
    (postgres_media.py:291's sorted file list) as a ``source_file``
    column via ``input_file_name()`` — ordering by it reproduces the
    reference's deterministic per-file processing order.
    """
    from ..sources.tpch import ensure_session_defaults

    ensure_session_defaults(spark)
    df = spark.read.schema(MEDIA_RAW_SCHEMA).json(path)
    if with_source_file:
        df = df.withColumn("source_file", F.input_file_name())
    return df


def conform(raw: DataFrame) -> DataFrame:
    """Typed cast layer + extract stamp (postgres_media.py:302, F3-F6).

    String-shipped numerics cast to their DDL types; ``encoder`` trailing
    control chars trimmed; ``extract_date`` stamped once per batch.
    """
    import datetime as _dt

    df = raw
    for col, dtype in MEDIA_CONFORMED_CASTS.items():
        df = df.withColumn(col, F.col(col).cast(dtype))
    # Literal stamp, resolved ONCE on the driver: current_timestamp() is
    # re-evaluated per action, so a pipeline that writes the same batch
    # to several sinks would stamp each sink differently — breaking any
    # cross-table batch reconciliation on extract_date.
    stamp = _dt.datetime.now(_dt.timezone.utc).replace(tzinfo=None)
    return df.withColumn("encoder", F.regexp_replace("encoder", r"[\r\n\t]+$", "")).withColumn(
        "extract_date", F.lit(stamp).cast("timestamp")
    )


def validity_condition():
    """Q12/F10/F11 constraints as one boolean expression.

    Mirrors the reference's pydantic rejects (models.py:46,50,120-144):
    invalid rows are quarantined, not job-failing (run_playlist_etl.py:48-58
    catches per-row validation errors and skips).
    """
    key_fields_present = F.col("index").isNotNull() & F.col("artist_name").isNotNull()
    rating_ok = F.col("rating").isNull() | F.col("rating").between(0.0, 5.0)
    ranges_ok = (F.coalesce(F.col("track_number"), F.lit(0)) >= 0) & (
        F.coalesce(F.col("file_size"), F.lit(0)) >= 0
    )
    return key_fields_present & rating_ok & ranges_ok


def split_valid(conformed: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(valid, quarantine) pair — one filter each, same scan."""
    cond = validity_condition()
    return conformed.where(cond), conformed.where(~cond)


def vertical_split(conformed: DataFrame) -> dict[str, DataFrame]:
    """K1/Q10/Q11: five column-pruned projections (create_tables.sql:3-66).

    The reference writes these row-by-row with per-row INSERTs
    (postgres_media.py:264-270); here each table is a pure projection —
    Catalyst prunes the parquet scan to exactly the needed columns.
    """
    return {table: conformed.select(*cols) for table, cols in WAREHOUSE_TABLES.items()}


def enrich_offline_ids(spark: SparkSession, conformed: DataFrame) -> DataFrame:
    """Fill artist_id/album_id/track_id in place via literal-map lookups
    (J4), all in one projection.

    Deterministic stand-in for the fuzzy API enrichment
    (postgres_media.py:242-255); unmatched or null names → 'not_found'.
    ``spark`` is unused; it keeps the ``(spark, frame)`` shape of the
    other pipeline steps.
    """
    from spotify_tags_etl_spark.operators.fuzzy import offline_lookup
    from spotify_tags_etl_spark.sources.offline_ids import ALBUM_IDS, ARTIST_IDS, TRACK_IDS

    return conformed.withColumns(
        {
            "artist_id": offline_lookup(ARTIST_IDS, "artist_name"),
            "album_id": offline_lookup(ALBUM_IDS, "album_title"),
            "track_id": offline_lookup(TRACK_IDS, "track_title"),
        }
    )


def media_tables(spark: SparkSession, path: str) -> dict[str, DataFrame]:
    """Ingest → conform → enrich → split: the five warehouse frames,
    with NO catalog side effects (the canned query builders consume the
    dict directly; registering five temp views per query call would
    mutate the shared session catalog dozens of times per run)."""
    conformed, _quarantined = split_valid(conform(read_media_json(spark, path)))
    return vertical_split(enrich_offline_ids(spark, conformed))


def register_media_views(spark: SparkSession, path: str) -> dict[str, DataFrame]:
    """media_tables + temp views, for the spark.sql query layer."""
    tables = media_tables(spark, path)
    for name, df in tables.items():
        df.createOrReplaceTempView(name)
    return tables


def write_warehouse(
    conformed: DataFrame,
    out_dir: str,
    mode: str = "overwrite",
    partition_by: dict[str, list[str]] | None = None,
) -> None:
    """K6 analog: drop+recreate the 5 tables as parquet datasets, written
    concurrently.

    ``partition_by`` maps table → partition columns for the 100 TB layout
    (e.g. ``{"metadata": ["file_ext"]}``).
    """
    from spotify_tags_etl_spark.functions.concurrency import run_parallel

    partition_by = partition_by or {}
    # One materialization feeds all five projections — without the cache
    # each table write re-reads and re-conforms the NDJSON source.
    conformed = conformed.cache()
    try:
        writers = []
        for table, df in vertical_split(conformed).items():
            writer = df.write.mode(mode)
            if table in partition_by:
                writer = writer.partitionBy(*partition_by[table])
            writers.append(lambda w=writer, t=table: w.parquet(f"{out_dir}/{t}"))
        # Independent sinks over one cache: overlapped, each job's tail
        # is back-filled by another write's tasks.
        run_parallel(*writers)
    finally:
        conformed.unpersist()


def observe_quality(df: DataFrame, name: str = "media_quality"):
    """Attach single-pass quality metrics to a frame: returns
    ``(observed_df, observation)`` where the Observation yields
    ``n_rows`` / ``n_invalid`` (the validity_condition rejects) after
    the FIRST action on ``observed_df`` — no second scan, no separate
    count() job.

    This is the batch-side observability counterpart of the streaming
    progress listeners (streaming/ops.py): a 100 TB load shouldn't pay
    a second full pass just to report how many rows it quarantined, and
    a .count() on the quarantine split is exactly that second pass.
    Metrics ride the write action's own scan as an accumulator-style
    aggregate (any algebraic aggregate works)."""
    from pyspark.sql import Observation

    obs = Observation(name)
    observed = df.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(validity_condition(), 0).otherwise(1)).alias("n_invalid"),
    )
    return observed, obs
