"""The benchmark's workloads: what one pass runs, and how its outputs
are checked.

A workload turns a generated input directory into an ordered list of
``Op``s (one pass) and checks the outputs of a pass outside the timed
region. Every op calls the engine only through its public functions:
``plans.registry`` builders, ``etl.media`` and ``operators.canned``.
"""

from __future__ import annotations

import os
import random
from collections.abc import Callable
from dataclasses import dataclass

from inputs import CANNED_PARAMS, SIZES, MediaTruth, write_curation, write_media


@dataclass
class Op:
    name: str
    kind: str  # "etl" (writes a warehouse), "query" (read-only), "stream"
    build: Callable[[], object]  # returns a DataFrame to run, or None


def run_action(df) -> None:
    """The action that completes an op: a noop sink over the frame."""
    df.write.format("noop").mode("overwrite").save()


# --- media_etl ------------------------------------------------------------------


class MediaEtl:
    """The reference's media pipeline plus its canned queries.

    One pass: ingest → conform → validate → enrich → ``write_warehouse``
    over the NDJSON library, then the canned queries over the tables the
    load just wrote.
    """

    name = "media_etl"
    warmup_passes = 3
    min_passes = 3

    def generate(self, input_dir: str, seed: int, mode: str) -> MediaTruth:
        n = SIZES[mode]
        return write_media(input_dir, seed, n["media"])

    def ops(self, spark, input_dir: str, out_dir: str, seed: int) -> list[Op]:
        from spotify_tags_etl_spark.etl import media
        from spotify_tags_etl_spark.operators import canned
        from spotify_tags_etl_spark.schemas import WAREHOUSE_TABLES

        lib = os.path.join(input_dir, "media_library.json")
        wh = os.path.join(out_dir, "warehouse")
        tables: dict = {}

        def load():
            raw = media.read_media_json(spark, lib)
            valid, _quarantine = media.split_valid(media.conform(raw))
            media.write_warehouse(media.enrich_offline_ids(spark, valid), wh)
            tables.clear()
            tables.update({t: spark.read.parquet(os.path.join(wh, t)) for t in WAREHOUSE_TABLES})

        p = CANNED_PARAMS
        queries = {
            "artist_select": lambda: canned.artist_select(tables, p["artist_select"]),
            "album_select": lambda: canned.album_select(tables, p["album_select"]),
            "track_select": lambda: canned.track_select(tables, p["track_select"]),
            "genre_select": lambda: canned.genre_select(tables, p["genre_select"]),
            "file_select": lambda: canned.file_select(tables, p["file_select"]),
            "avg_size_select": lambda: canned.avg_size_select(tables),
        }
        return [Op("load", "etl", load)] + [
            Op(name, "query", fn) for name, fn in queries.items()
        ]

    def check(self, spark, input_dir: str, out_dir: str, truth: MediaTruth, results: dict) -> list[str]:
        """Compare a pass's outputs with the generator's own expectations."""
        from spotify_tags_etl_spark.etl import media
        from spotify_tags_etl_spark.schemas import WAREHOUSE_TABLES

        errors = []

        def expect(what: str, got, want) -> None:
            if got != want:
                errors.append(f"{what}: got {got!r}, want {want!r}")

        for table in WAREHOUSE_TABLES:
            got = spark.read.parquet(os.path.join(out_dir, "warehouse", table)).count()
            expect(f"load: warehouse.{table} rows", got, truth.valid_rows)
        raw = media.read_media_json(spark, os.path.join(input_dir, "media_library.json"))
        expect("load: quarantine rows", media.split_valid(media.conform(raw))[1].count(), truth.quarantine_rows)
        for name, want in truth.canned_rows.items():
            df = results.get(name)
            if df is None:
                errors.append(f"{name}: no result")
                continue
            rows = df.collect()
            expect(f"{name}: rows", len(rows), want)
            if name == "avg_size_select" and rows:
                expect(f"{name}: avg_mib", rows[0]["avg_mib"], truth.avg_mib)
        return errors


# --- registered-query workloads ---------------------------------------------------


class RegistryChain:
    """Registered engine queries run back to back with a noop sink.

    The seed permutes their order. Outputs are checked against each
    query's DuckDB oracle over the same generated parquet tables.
    """

    def __init__(self, name: str, queries: tuple[str, ...], warmup_passes: int, min_passes: int):
        self.name = name
        self.queries = queries
        self.warmup_passes = warmup_passes
        self.min_passes = min_passes

    def generate(self, input_dir: str, seed: int, mode: str) -> dict:
        n = SIZES[mode]
        return write_curation(input_dir, seed, n["docs"], n["embeddings"], n["events"])

    def ops(self, spark, input_dir: str, out_dir: str, seed: int) -> list[Op]:
        from spotify_tags_etl_spark.plans import registry

        defs = registry.all_defs()
        order = list(self.queries)
        random.Random(seed).shuffle(order)
        ops = []
        for short in order:
            qd = defs[_resolve(defs, short)]
            kind = "stream" if "streaming" in qd.tags else "query"
            ops.append(Op(short, kind, (lambda b=qd.builder: b(spark, input_dir))))
        return ops

    def check(self, spark, input_dir: str, out_dir: str, truth, results: dict) -> list[str]:
        from checks import oracle_mismatch
        from spotify_tags_etl_spark.plans import registry

        defs = registry.all_defs()
        errors = []
        for short in self.queries:
            df = results.get(short)
            if df is None:
                errors.append(f"{short}: no result")
                continue
            why = oracle_mismatch(df.toPandas(), defs[_resolve(defs, short)].oracle, input_dir)
            if why:
                errors.append(f"{short}: {why}")
        return errors


def _resolve(defs: dict, short: str) -> str:
    """Registry key for a query's short id (``zd01`` → ``zv_zd01_dedup_funnel``)."""
    for key in defs:
        if key.removeprefix("zv_").startswith(short + "_"):
            return key
    raise KeyError(short)


WORKLOADS = {
    "media_etl": MediaEtl(),
    # an Arrow pair-dot kernel (yv02), then AvailableNow streams whose
    # foreachBatch merges version parquet state (st08, za04). Its passes
    # keep falling for ten passes or more, and single passes swing by a
    # third on a shared host, so it warms up longer and times more passes.
    "curation_stream": RegistryChain(
        "curation_stream", ("yv02", "st08", "za04"), warmup_passes=4, min_passes=8
    ),
}
