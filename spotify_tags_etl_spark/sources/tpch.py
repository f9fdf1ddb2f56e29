"""Parquet warehouse source layer for the driver-generated test tables.

Tables (TESTDATA.md): region nation customer supplier part orders lineitem
events documents embeddings — one parquet file per table under an
``sf*/`` directory.

Scale notes (100 TB design point):

* :func:`read_parquet` is the engine's one parquet scan primitive —
  predicate pushdown, column pruning, and partition pruning all flow
  from declaring the read here and filtering lazily downstream. It
  never runs a schema-inference job for a schema the driver already
  knows: engine-written frames are read back with the schema their
  writer hands over, and inputs/artifacts infer each file version's
  schema once. Never ``.cache()`` inside the loader; callers decide
  materialization.
* At cluster scale these would be directory-partitioned datasets
  (``orders/o_orderdate=.../``); the loader takes any path, so swapping a
  partitioned root in requires no call-site change.
"""

from __future__ import annotations

import copy
import os
import threading
from collections import OrderedDict

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

TPCH_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: Small dimension tables that are always sensible broadcast candidates.
BROADCAST_DIMS = frozenset({"region", "nation", "supplier"})

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def ensure_session_defaults(spark: SparkSession) -> None:
    """Pin runtime-settable confs every loader depends on, on ANY session.

    The driver harness hands queries a vanilla SparkSession (none of our
    ``session.py`` build-time confs). Round 1 lost 18/50 driver checks to a
    loader that assumed a build-time conf; the standing rule is that every
    entry-point loader self-heals the confs it needs:

    * ``spark.sql.session.timeZone = UTC`` — parquet timestamps are instants;
      HOUR / date_format / year / string→timestamp literal casts all render
      in the *session* timezone, while the DuckDB oracles compare naive-UTC
      values. On a driver JVM whose default TZ is not UTC, every
      time-bucketing query would shift by the UTC offset without this pin.
    * ``spark.sql.ansi.enabled = false`` — Spark 4 defaults ANSI on for
      vanilla sessions while our ``session.py`` factory runs ANSI off; the
      engine's documented semantics (wrap-around integer sufficient
      statistics with stated overflow bounds, NULL on degenerate
      arithmetic) are the ANSI-off ones, and they must not depend on which
      session the caller built. Hot-path divisions are additionally
      NULLIF-guarded so results match the DuckDB oracles in either mode.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.ansi.enabled", "false")


def normalize_events_ts(df: DataFrame) -> DataFrame:
    """Normalize the events ``ts`` column to a canonical pair regardless of
    the parquet file's physical encoding:

    * ``ts``    — TIMESTAMP (instant; session tz is pinned UTC upstream)
    * ``ts_ns`` — BIGINT epoch nanoseconds (full-precision ordering key)

    The driver regenerates the fixtures between rounds and has shipped two
    encodings so far: TIMESTAMP(NANOS) (readable only as bigint ns via
    ``spark.sql.legacy.parquet.nanosAsLong``) and plain ``timestamp[us]``
    (read as TIMESTAMP_NTZ). Branching on the *observed* dtype here — not
    on an assumed encoding — is what keeps every downstream event-time
    operator (windows, as-of joins, watermarks) stable across regens.
    """
    from pyspark.sql import functions as F

    dtype = dict(df.dtypes).get("ts")
    if dtype == "bigint":
        # nanosAsLong path: keep full-precision ns, derive a usec instant.
        return df.withColumnRenamed("ts", "ts_ns").withColumn(
            "ts", F.timestamp_micros(F.expr("ts_ns DIV 1000"))
        )
    if dtype == "timestamp_ntz":
        # usec-encoded naive timestamp: the session tz is pinned UTC by
        # ensure_session_defaults, so the NTZ→TIMESTAMP cast is value-stable
        # (same wall-clock digits, now an instant — required by
        # withWatermark, which rejects TIMESTAMP_NTZ event time).
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        dtype = "timestamp"
    if dtype == "timestamp" and "ts_ns" not in df.columns:
        df = df.withColumn("ts_ns", F.unix_micros(F.col("ts")) * F.lit(1000))
    return df


#: Session confs that decide which schema parquet inference returns:
#: the footer-to-Spark type conversion, footer merging, and the types
#: and spelling of partition columns. Part of every memo key.
_SCHEMA_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.parquet.respectSummaryFiles",
    "spark.sql.sources.partitionColumnTypeInference.enabled",
    "spark.sql.caseSensitive",
)
_SCHEMA_MEMO_SIZE = 256
_schema_memo: OrderedDict[tuple, StructType] = OrderedDict()
_schema_lock = threading.Lock()


def _file_version(path: str) -> tuple | None:
    """``(abspath, ((name, mtime_ns, size), ...))`` for one parquet path —
    the per-file identity the artifact cache trusts
    (functions/partials.py:input_files). None when that identity does
    not cover everything a scan of ``path`` would list: a missing path
    or glob, a partitioned tree, data files without the ``.parquet``
    suffix, or no files at all."""
    from spotify_tags_etl_spark.functions.partials import input_files

    if not os.path.exists(path):
        return None
    ident = input_files(path)
    if not ident:
        return None
    if os.path.isdir(path):
        listed = [n for n in os.listdir(path) if not n.startswith(("_", "."))]
        if len(listed) != len(ident):
            return None
    files = tuple((n, i["mtime_ns"], i["size"]) for n, i in sorted(ident.items()))
    return os.path.abspath(path), files


def read_parquet(
    spark: SparkSession, *paths: str, schema: StructType | None = None
) -> DataFrame:
    """The engine's one parquet scan. Given no ``schema``, Spark would
    run a one-task schema-merge job on the driver for every read; here
    a read with a ``schema`` runs none, and a read without one infers
    each file version's schema once per process. The memo is keyed by
    every path's file identity (:func:`_file_version`) plus the session
    confs in ``_SCHEMA_CONFS``, holds only schemas (no Spark handle),
    and drops its least recently used entry past ``_SCHEMA_MEMO_SIZE``.
    Reads whose identity is unknowable infer every time, so errors
    (no parquet files, a missing path) still raise from Spark.

    Pass ``schema`` for frames the engine wrote itself: the schema of
    the frame that was written equals the inferred one, nullability
    included, because the file source reads every column as nullable."""
    if schema is None:
        versions = tuple(_file_version(p) for p in paths)
        key = None
        if versions and None not in versions:
            key = (versions, tuple(spark.conf.get(c, None) for c in _SCHEMA_CONFS))
            with _schema_lock:
                schema = _schema_memo.get(key)
                if schema is not None:
                    _schema_memo.move_to_end(key)
        if schema is None:
            df = spark.read.parquet(*paths)  # the one inferring read
            if key is not None:
                with _schema_lock:  # a copy: StructType.add mutates in place
                    _schema_memo[key] = copy.deepcopy(df.schema)
                    while len(_schema_memo) > _SCHEMA_MEMO_SIZE:
                        _schema_memo.popitem(last=False)
            return df
    return spark.read.schema(schema).parquet(*paths)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TPCH_TABLES:
        raise ValueError(f"unknown table {name!r}; expected one of {TPCH_TABLES}")
    ensure_session_defaults(spark)
    if name == "events":
        # Some fixture generations store TIMESTAMP(NANOS); vanilla Spark
        # rejects that physical type outright (PARQUET_TYPE_ILLEGAL) unless
        # this runtime conf is on. Harmless for usec-encoded files. Set it
        # here so the loader is self-sufficient on ANY session it is handed
        # (driver harness, notebooks), not only sessions built by our
        # session.py factory.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        df = normalize_events_ts(df)
    else:
        # Generalized round-2 lesson: fixture regens can flip timestamp
        # encodings on ANY table. The session tz is pinned UTC above, so
        # NTZ→TIMESTAMP is value-stable, and DuckDB (which reads the same
        # parquet naively) renders identical wall-clock digits either way.
        ntz = [c for c, t in df.dtypes if t == "timestamp_ntz"]
        if ntz:
            from pyspark.sql import functions as F

            df = df.withColumns({c: F.col(c).cast("timestamp") for c in ntz})
    return df


def load_tables(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    """Load every test table lazily; nothing is scanned until an action."""
    return {name: load_table(spark, sf_dir, name) for name in TPCH_TABLES}


def register_views(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    """Register each table as a temp view for ``spark.sql`` queries."""
    tables = load_tables(spark, sf_dir)
    for name, df in tables.items():
        df.createOrReplaceTempView(name)
    return tables
