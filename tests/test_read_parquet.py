"""sources/tpch.read_parquet — the engine's one parquet scan.

Given no schema, ``spark.read.parquet`` runs a one-task schema-merge job
on the driver for every read. The helper runs none for a schema the
driver already knows: engine-written frames are read back with the
schema of the frame that was written, and inputs/artifacts infer each
file version's schema once per process. These tests pin that the
helper returns what ``spark.read.parquet`` returns, that a repeat read
runs no job, that the memo follows file rewrites and session confs,
that errors still raise, and that no schema-less read can appear
elsewhere in the engine.
"""

from __future__ import annotations

import ast
import os
import time
import uuid
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrameReader
from pyspark.sql import functions as F

from spotify_tags_etl_spark.sources.tpch import TPCH_TABLES, read_parquet

ENGINE = Path(__file__).resolve().parents[1] / "spotify_tags_etl_spark"


def _clear_job_group(sc) -> None:
    for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
        sc.setLocalProperty(key, None)


def jobs_run_by(spark, fn):
    """(number of Spark jobs ``fn`` submits from this thread, its result),
    read from the status tracker's job ids for a fresh job group."""
    sc = spark.sparkContext
    group = f"read-parquet-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "read_parquet probe")
    try:
        out = fn()
    finally:
        _clear_job_group(sc)
    # Fence: the status store applies listener events in order, so once a
    # job started after fn() is visible, every job fn() started is too.
    sc.setJobGroup(group + "-fence", "read_parquet probe fence")
    try:
        spark.range(1).count()
    finally:
        _clear_job_group(sc)
    tracker = sc.statusTracker()
    deadline = time.time() + 30
    while not tracker.getJobIdsForGroup(group + "-fence") and time.time() < deadline:
        time.sleep(0.05)
    return len(tracker.getJobIdsForGroup(group)), out


def _rows(df) -> list[str]:
    return sorted(map(repr, df.collect()))


@pytest.mark.parametrize("name", TPCH_TABLES)
def test_matches_spark_read_on_every_fixture_table(spark, sf_dir, name):
    # the conf load_table sets for events; harmless for the other tables
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = os.path.join(sf_dir, f"{name}.parquet")
    read_parquet(spark, path)  # infers, unless this process already has
    n_jobs, df = jobs_run_by(spark, lambda: read_parquet(spark, path))
    want = spark.read.parquet(path)
    assert n_jobs == 0
    assert df.schema == want.schema
    assert _rows(df) == _rows(want)


def _write(path: str, table: pa.Table, mtime: float | None = None) -> None:
    pq.write_table(table, path)
    if mtime is not None:
        os.utime(path, (mtime, mtime))


def test_repeat_read_of_unchanged_files_runs_no_job(spark, tmp_path):
    one = str(tmp_path / "one.parquet")
    _write(one, pa.table({"k": pa.array([1, 2, 3], pa.int64())}))
    parts = tmp_path / "parts"
    parts.mkdir()
    for i in range(2):
        _write(str(parts / f"part-{i}.parquet"), pa.table({"k": pa.array([i], pa.int64())}))
    for paths in ((one,), (str(parts),), (one, str(parts))):
        first, _ = jobs_run_by(spark, lambda: read_parquet(spark, *paths))
        again, df = jobs_run_by(spark, lambda: read_parquet(spark, *paths))
        assert first >= 1, "the probe must see the inferring read's job"
        assert again == 0, paths
        assert df.schema == spark.read.parquet(*paths).schema
        assert _rows(df) == _rows(spark.read.parquet(*paths))


def test_rewritten_file_gives_its_new_schema(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    _write(path, pa.table({"a": pa.array([1], pa.int64())}), mtime=1_000_000)
    assert read_parquet(spark, path).columns == ["a"]
    _write(path, pa.table({"a": ["x"], "b": pa.array([2.5])}), mtime=2_000_000)
    df = read_parquet(spark, path)
    assert df.schema == spark.read.parquet(path).schema
    assert df.dtypes == [("a", "string"), ("b", "double")]
    assert [tuple(r) for r in df.collect()] == [("x", 2.5)]


@pytest.fixture
def restore_confs(spark):
    keys = (
        "spark.sql.legacy.parquet.nanosAsLong",
        "spark.sql.parquet.inferTimestampNTZ.enabled",
    )
    saved = {k: spark.conf.get(k, None) for k in keys}
    yield
    for k, v in saved.items():
        if v is None:
            spark.conf.unset(k)
        else:
            spark.conf.set(k, v)


def test_session_confs_are_part_of_the_memo_key(spark, tmp_path, restore_confs):
    nanos = str(tmp_path / "nanos.parquet")
    _write(nanos, pa.table({"ts": pa.array([1, 2], pa.int64()).cast(pa.timestamp("ns"))}))
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    assert read_parquet(spark, nanos).dtypes == [("ts", "bigint")]
    # off, Spark rejects the NANOS type outright; the memoized bigint
    # schema must not paper over that
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    with pytest.raises(AnalysisException, match="PARQUET_TYPE_ILLEGAL"):
        read_parquet(spark, nanos)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    assert read_parquet(spark, nanos).dtypes == [("ts", "bigint")]

    ntz = str(tmp_path / "ntz.parquet")
    _write(ntz, pa.table({"ts": pa.array([1_000_000], pa.int64()).cast(pa.timestamp("us"))}))
    for enabled, dtype in (("true", "timestamp_ntz"), ("false", "timestamp")):
        spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", enabled)
        df = read_parquet(spark, ntz)
        assert df.dtypes == [("ts", dtype)]
        assert df.schema == spark.read.parquet(ntz).schema


def test_reads_inference_rejects_still_raise(spark, tmp_path):
    empty = tmp_path / "empty"
    empty.mkdir()
    (empty / "_SUCCESS").write_text("")
    for path in (str(empty), str(tmp_path / "missing.parquet")):
        with pytest.raises(AnalysisException):
            read_parquet(spark, path)


def test_written_schema_equals_the_inferred_one(spark, tmp_path):
    """The hand-over the engine's own versions and side stores rely on:
    a frame's schema, nullability included, reads its files back
    exactly as inference would (the file source reads every column as
    nullable)."""
    df = spark.range(3).select(
        F.col("id"),  # non-nullable
        F.struct(F.col("id").alias("x"), F.lit("s").alias("y")).alias("st"),
        F.array(F.col("id")).alias("arr"),
        F.lit(None).cast("double").alias("maybe"),
    )
    path = str(tmp_path / "written")
    df.write.parquet(path)
    assert not df.schema["id"].nullable
    n_jobs, back = jobs_run_by(spark, lambda: read_parquet(spark, path, schema=df.schema))
    assert n_jobs == 0
    assert back.schema == spark.read.parquet(path).schema
    assert _rows(back) == _rows(spark.read.parquet(path))


# ---------------------------------------------------------------------------
# a multi-trigger foreachBatch twin: no inferring read on any trigger
# ---------------------------------------------------------------------------


@pytest.fixture
def schemaless_parquet_reads(monkeypatch):
    """Paths of every ``DataFrameReader.parquet`` call made without a
    schema — each one is a schema-inference job."""
    calls: list[tuple] = []
    real_schema, real_parquet = DataFrameReader.schema, DataFrameReader.parquet

    def schema(self, s):
        self._probe_has_schema = True
        return real_schema(self, s)

    def parquet(self, *paths, **options):
        if not getattr(self, "_probe_has_schema", False):
            calls.append(paths)
        return real_parquet(self, *paths, **options)

    monkeypatch.setattr(DataFrameReader, "schema", schema)
    monkeypatch.setattr(DataFrameReader, "parquet", parquet)
    return calls


def test_two_trigger_stream_runs_no_inferring_read(
    spark, sf_dir, tmp_path, schemaless_parquet_reads
):
    """za04 over two files at one file per trigger: the merge trigger
    reads the previous version, and the close reads the last one, both
    under the schema their writer handed over. The final state equals
    the single-trigger run's."""
    from spotify_tags_etl_spark.operators.zaops import streaming_preference_pairs
    from spotify_tags_etl_spark.sources.tpch import load_table
    from spotify_tags_etl_spark.streaming import ops as sops

    docs = load_table(spark, sf_dir, "documents")
    root = str(tmp_path / "docs")
    os.makedirs(root)
    for i in range(2):
        p = os.path.join(root, f"part-{i}.parquet")
        docs.where(docs.doc_id % 2 == i).select("doc_id").toPandas().to_parquet(
            p, index=False
        )
        now = time.time() + i
        os.utime(p, (now, now))
    schema = read_parquet(spark, root).schema

    def run(**opts):
        reader = spark.readStream.schema(schema).option("latestFirst", "false")
        for k, v in opts.items():
            reader = reader.option(k, v)
        return sorted(tuple(r) for r in streaming_preference_pairs(spark, reader.parquet(root)).collect())

    single = run()
    schemaless_parquet_reads.clear()
    sops.MICRO_PLAN_LOG.clear()
    two = run(maxFilesPerTrigger=1)
    merges = [label for label, _ in sops.MICRO_PLAN_LOG if label == "za04:pairs_merge"]
    assert len(merges) == 2  # a first trigger and a merge trigger ran
    assert schemaless_parquet_reads == []
    assert two == single
    assert len(two) > 0


# ---------------------------------------------------------------------------
# structure: one schema-less parquet read, inside the helper
# ---------------------------------------------------------------------------


def _schemaless_reads(tree: ast.AST) -> list[tuple[str, int]]:
    """(enclosing function, line) of every ``<...>.read...parquet(...)``
    call whose reader chain sets no ``.schema(...)``."""
    found = []

    def visit(node: ast.AST, func: str) -> None:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            func = node.name
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "parquet"
        ):
            chain, cur = [], node.func.value
            while isinstance(cur, (ast.Call, ast.Attribute)):
                if isinstance(cur, ast.Call):
                    cur = cur.func
                else:
                    chain.append(cur.attr)
                    cur = cur.value
            if "read" in chain and "schema" not in chain:
                found.append((func, node.lineno))
        for child in ast.iter_child_nodes(node):
            visit(child, func)

    visit(tree, "<module>")
    return found


def test_schemaless_parquet_reads_live_only_in_the_helper():
    home = ENGINE / "sources" / "tpch.py"
    offenders = [
        f"{path.relative_to(ENGINE)}:{line} ({func})"
        for path in sorted(ENGINE.rglob("*.py"))
        for func, line in _schemaless_reads(ast.parse(path.read_text()))
        if not (path == home and func == "read_parquet")
    ]
    assert offenders == []
    assert _schemaless_reads(ast.parse(home.read_text())) != []  # the pin still sees it
    assert _schemaless_reads(
        ast.parse('spark.read.option("mergeSchema", "true").parquet(a, b)\n'
                  "spark.read.schema(s).parquet(a)\n"
                  "df.write.parquet(a)\n")
    ) == [("<module>", 1)]
