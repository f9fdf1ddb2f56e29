"""Dataset maintenance operators: CDC upsert/merge and table profiling.

The training-data warehouse jobs around the analytics: applying a change
batch to a dimension (the engine-level primitive beneath lakehouse MERGE
INTO) and single-pass column profiling (the stats a pipeline checks
before trusting an input drop).

(``uz`` registry prefix = late-sorting slot queued for the next
driver-window rotation, oracle-checked locally meanwhile; see
``plans/registry.py``.)

Scale notes (100 TB):

* upsert = full-outer join on the key + coalesce precedence. Both sides
  hash-partition on the merge key — with the base table bucketed/
  pre-partitioned by key (operators/skew.py), only the (small) change
  batch shuffles; this is exactly merge-on-read compaction's shape.
* profiling is ONE global aggregate: every metric is algebraic
  (count/min/max/sum) or sketchable, so the scan is single-pass with
  map-side partials and a 1-row result — never per-column jobs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from spotify_tags_etl_spark.plans.registry import register
from spotify_tags_etl_spark.sources.tpch import load_table, read_parquet

# far above max c_custkey at any plausible SF (150k x SF): a small
# offset collides with REAL keys as SF grows (1e6 collides at SF>=7),
# silently turning synthetic inserts into duplicate-key updates.
_NEW_KEY_OFFSET = 10_000_000_000


#: Scratch paths whose removal at interpreter exit is already registered.
_PID_TMP_PATHS: set[str] = set()


def _pid_tmp_path(base: str, tag: str) -> str:
    """PID-keyed scratch dir ``<tempdir>/<base>/<tag>-<pid>`` (concurrent
    runs must not race one run's mode-overwrite write against another's
    read), removed at interpreter exit so repeated sweeps/pytest runs
    don't accumulate orphaned PID trees. Rooted at
    ``tempfile.gettempdir()``, so a run that sets ``TMPDIR`` keeps its
    scratch inside its own root."""
    import atexit
    import os
    import shutil
    import tempfile

    path = os.path.join(tempfile.gettempdir(), base, f"{tag}-{os.getpid()}")
    if path not in _PID_TMP_PATHS:
        _PID_TMP_PATHS.add(path)
        atexit.register(shutil.rmtree, path, ignore_errors=True)
    return path


def upsert(base: DataFrame, changes: DataFrame, key: str) -> DataFrame:
    """Type-1 (overwrite) upsert: rows in ``changes`` replace same-key
    rows of ``base``; new keys append; other base rows pass through.
    Adds ``_op`` (update/insert/keep) for audit/verification.

    Precondition: ``changes`` has at most one row per key (like MERGE
    INTO); duplicate change keys fan the full-outer join out to multiple
    output rows per key.
    """
    b = base.select([F.col(c).alias(f"_b_{c}") for c in base.columns])
    c = changes.select([F.col(col).alias(f"_c_{col}") for col in changes.columns])
    joined = b.join(c, b[f"_b_{key}"] == c[f"_c_{key}"], "full_outer")
    # True type-1 overwrite keyed on change-row PRESENCE, not per-column
    # coalesce: a change row legitimately setting a column to NULL must
    # win (coalesce would silently keep the stale base value).
    out_cols = [
        F.when(F.col(f"_c_{key}").isNotNull(), F.col(f"_c_{col}"))
        .otherwise(F.col(f"_b_{col}"))
        .alias(col)
        for col in base.columns
    ]
    op = (
        F.when(F.col(f"_c_{key}").isNull(), F.lit("keep"))
        .when(F.col(f"_b_{key}").isNull(), F.lit("insert"))
        .otherwise(F.lit("update"))
    )
    return joined.select(*out_cols, op.alias("_op"))


def upsert_lww(
    base: DataFrame, changes: DataFrame, key: str, order_cols: tuple[str, ...]
) -> DataFrame:
    """Last-write-wins MERGE: a change row replaces the base row for its
    key only when its ordering tuple (``order_cols``, compared as a
    struct) is strictly larger; new keys insert; other base rows pass
    through. Same co-partitioned full-outer-join shape as :func:`upsert`
    — one shuffle of each side on the merge key, no driver state — with
    the conditional WHEN MATCHED AND condition of MERGE INTO.

    Precondition: both sides have at most one row per ``key`` and share
    the same columns. The merge relation is associative and commutative,
    which is what makes a foreachBatch caller micro-batch-layout
    invariant (streaming/ops.py:streaming_upsert).
    """
    b = base.select([F.col(c).alias(f"_b_{c}") for c in base.columns])
    c = changes.select([F.col(col).alias(f"_c_{col}") for col in changes.columns])
    joined = b.join(c, b[f"_b_{key}"] == c[f"_c_{key}"], "full_outer")
    b_ord = F.struct(*[F.col(f"_b_{o}") for o in order_cols])
    c_ord = F.struct(*[F.col(f"_c_{o}") for o in order_cols])
    change_wins = F.col(f"_b_{key}").isNull() | (
        F.col(f"_c_{key}").isNotNull() & (c_ord > b_ord)
    )
    return joined.select(
        *[
            F.when(change_wins, F.col(f"_c_{col}")).otherwise(F.col(f"_b_{col}")).alias(col)
            for col in base.columns
        ]
    )


def _change_batch(customer: DataFrame) -> DataFrame:
    """Deterministic synthetic CDC batch: every 7th customer gets a new
    account balance; every 997th spawns a brand-new customer row."""
    updates = customer.where(F.col("c_custkey") % 7 == 0).select(
        "c_custkey",
        "c_name",
        (F.col("c_acctbal").cast("decimal(12,2)") + 100).alias("c_acctbal"),
        "c_mktsegment",
    )
    inserts = customer.where(F.col("c_custkey") % 997 == 0).select(
        (F.col("c_custkey") + _NEW_KEY_OFFSET).alias("c_custkey"),
        F.concat(F.lit("NEW Customer#"), (F.col("c_custkey") + _NEW_KEY_OFFSET).cast("string")).alias(
            "c_name"
        ),
        F.lit(0).cast("decimal(12,2)").alias("c_acctbal"),
        F.lit("BUILDING").alias("c_mktsegment"),
    )
    return updates.unionByName(inserts)


@register(
    "uz01_upsert_merge",
    oracle=f"""
    WITH base AS (
      SELECT c_custkey, c_name, CAST(c_acctbal AS DECIMAL(12,2)) AS c_acctbal, c_mktsegment
      FROM customer
    ),
    changes AS (
      SELECT c_custkey, c_name, c_acctbal + 100 AS c_acctbal, c_mktsegment
      FROM base WHERE c_custkey % 7 = 0
      UNION ALL
      SELECT c_custkey + {_NEW_KEY_OFFSET},
             'NEW Customer#' || CAST(c_custkey + {_NEW_KEY_OFFSET} AS VARCHAR),
             CAST(0 AS DECIMAL(12,2)), 'BUILDING'
      FROM base WHERE c_custkey % 997 = 0
    )
    SELECT COALESCE(c.c_custkey, b.c_custkey) AS c_custkey,
           CASE WHEN c.c_custkey IS NOT NULL THEN c.c_name ELSE b.c_name END AS c_name,
           CAST(CASE WHEN c.c_custkey IS NOT NULL THEN c.c_acctbal ELSE b.c_acctbal END AS DOUBLE) AS acctbal,
           CASE WHEN c.c_custkey IS NOT NULL THEN c.c_mktsegment ELSE b.c_mktsegment END AS c_mktsegment,
           CASE WHEN c.c_custkey IS NULL THEN 'keep'
                WHEN b.c_custkey IS NULL THEN 'insert'
                ELSE 'update' END AS _op
    FROM base b FULL OUTER JOIN changes c ON b.c_custkey = c.c_custkey
    """,
    doc=(
        "CDC upsert (MERGE INTO primitive): deterministic change batch "
        "(balance updates + new keys) applied to the customer dimension "
        "via full-outer join + change-row-presence overwrite, with an _op audit "
        "column. At scale the base side is bucketed by the key so only "
        "the change batch shuffles."
    ),
    tags=("maintenance", "upsert", "join"),
)
def uz01(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", F.col("c_acctbal").cast("decimal(12,2)").alias("c_acctbal"), "c_mktsegment"
    )
    merged = upsert(customer, _change_batch(customer), "c_custkey")
    return merged.select(
        "c_custkey",
        "c_name",
        F.col("c_acctbal").cast("double").alias("acctbal"),
        "c_mktsegment",
        "_op",
    )


@register(
    "uz02_profile_table",
    oracle="""
    SELECT COUNT(*) AS n_rows,
           COUNT(DISTINCT o_custkey) AS n_customers,
           CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_status,
           CAST(MIN(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS min_price,
           CAST(MAX(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS max_price,
           STRFTIME(MIN(o_orderdate), '%Y-%m-%d') AS min_date,
           STRFTIME(MAX(o_orderdate), '%Y-%m-%d') AS max_date,
           COUNT(DISTINCT o_orderpriority) AS n_priorities,
           CAST(SUM(length(o_orderpriority)) AS BIGINT) AS total_priority_chars
    FROM orders
    """,
    doc=(
        "Single-pass table profile of orders: row/null/distinct counts, "
        "min/max of measures and dates, total string length — ONE global "
        "aggregate (map-side partials, 1-row result), never per-column "
        "scan jobs. The input-validation stats step of a data pipeline."
    ),
    tags=("maintenance", "profile", "aggregate"),
)
def uz02(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return orders.agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("o_custkey").alias("n_customers"),
        F.sum(F.when(F.col("o_orderstatus").isNull(), 1).otherwise(0)).alias("null_status"),
        F.min(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("min_price"),
        F.max(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("max_price"),
        F.date_format(F.min("o_orderdate"), "yyyy-MM-dd").alias("min_date"),
        F.date_format(F.max("o_orderdate"), "yyyy-MM-dd").alias("max_date"),
        F.countDistinct("o_orderpriority").alias("n_priorities"),
        F.sum(F.length("o_orderpriority")).cast("bigint").alias("total_priority_chars"),
    )


# ---------------------------------------------------------------------------
# Z-order (Morton) layout key — multi-dimensional clustering for file skip
# ---------------------------------------------------------------------------

_Z_BITS = 8


def _z_terms(xe: str, ye: str, div: str) -> str:
    """Bit-interleave arithmetic (engine-portable: integer div + mod only).
    ``div`` is the engine's integer-division operator."""
    terms = []
    for i in range(_Z_BITS):
        terms.append(f"(({xe}) {div} {1 << i}) % 2 * {1 << (2 * i)}")
        terms.append(f"(({ye}) {div} {1 << i}) % 2 * {1 << (2 * i + 1)}")
    return " + ".join(terms)


def with_zorder(df: DataFrame, x_col, y_col) -> DataFrame:
    """Attach the Morton key ``zval`` of two 8-bit dimensions (pure
    integer div/mod arithmetic — codegen'd, engine-portable); callers lay
    data out with ``repartitionByRange('zval').sortWithinPartitions('zval')``
    at write time so min/max file stats prune BOTH dimensions at scan."""
    # Clamp into the 8-bit domain: interleaving only reads the low
    # _Z_BITS bits, so out-of-range inputs would silently alias (300
    # clusters like 44) and negatives would produce garbage keys (% in
    # Spark follows the dividend's sign). pmod is the identity for
    # in-range inputs, so clamping never changes a correct caller.
    return (
        df.withColumn("_zx", F.pmod(x_col, F.lit(1 << _Z_BITS)))
        .withColumn("_zy", F.pmod(y_col, F.lit(1 << _Z_BITS)))
        .withColumn("zval", F.expr(_z_terms("_zx", "_zy", "DIV")))
        .drop("_zx", "_zy")
    )


@register(
    "uz03_zorder_key",
    oracle=f"""
    SELECT o_orderkey,
           CAST(o_custkey % 256 AS BIGINT) AS zx,
           CAST(EXTRACT(day FROM o_orderdate) AS BIGINT) AS zy,
           CAST({_z_terms('o_custkey % 256', "EXTRACT(day FROM o_orderdate)", '//')} AS BIGINT) AS zval
    FROM orders
    """,
    doc=(
        "Z-order (Morton) layout key over (custkey mod 256, day-of-month): "
        "bit interleaving as pure integer div/mod arithmetic, identical in "
        "any engine. Writing sorted by zval clusters BOTH dimensions into "
        "each file, so parquet min/max stats skip files for either "
        "predicate — the multi-dimensional answer to single-column "
        "partitionBy at 100 TB."
    ),
    tags=("maintenance", "layout"),
)
def uz03(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    zx = (F.col("o_custkey") % 256).cast("bigint")
    zy = F.dayofmonth("o_orderdate").cast("bigint")
    out = with_zorder(orders.select("o_orderkey", "o_custkey", "o_orderdate"), zx, zy)
    return out.select(
        "o_orderkey", zx.alias("zx"), zy.alias("zy"), F.col("zval").cast("bigint").alias("zval")
    )


# ---------------------------------------------------------------------------
# incremental rollup maintenance (continuous aggregate / hypertable rollup)
# ---------------------------------------------------------------------------


def hourly_rollup(events: DataFrame) -> DataFrame:
    """The materialized shape: hourly (bucket, event_type) counts + exact
    decimal value sums. COUNT and SUM are algebraic — partials merge, so
    the rollup itself can be maintained by merging, never recomputed."""
    return events.groupBy(
        F.date_format(F.date_trunc("hour", F.col("ts")), "yyyy-MM-dd HH:00:00").alias(
            "hour_bucket"
        ),
        F.col("event_type"),
    ).agg(
        F.count("*").alias("n"),
        F.sum(F.col("value").cast("decimal(14,2)")).alias("_sum_dec"),
    )


def rollup_incremental(events: DataFrame) -> DataFrame:
    """Continuous-aggregate maintenance: the rollup over a time-partitioned
    events table is refreshed by aggregating ONLY the newest partition and
    merging its partial aggregates into the standing rollup — the
    timescale-style hypertable refresh, in Spark algebra.

    Here the "late batch" is the max event-hour (discovered with a 1-row
    aggregate — the partition-boundary lookup a real table gets from its
    metadata); base and delta are aggregated separately and merged by
    re-aggregating the union of PARTIALS. The merge input is
    O(buckets), not O(events): at 100 TB the standing rollup is a few
    million rows and the delta scan touches one partition — this is why
    partition pruning + algebraic aggregates make continuous aggregates
    cheap. Correctness oracle: full recompute over all events.
    """
    cutoff = events.select(F.max(F.date_trunc("hour", F.col("ts"))).alias("m")).collect()[0]["m"]
    base = hourly_rollup(events.where(F.date_trunc("hour", F.col("ts")) < F.lit(cutoff)))
    delta = hourly_rollup(events.where(F.date_trunc("hour", F.col("ts")) >= F.lit(cutoff)))
    merged = (
        base.unionByName(delta)
        .groupBy("hour_bucket", "event_type")
        .agg(F.sum("n").alias("n"), F.sum("_sum_dec").alias("_sum_dec"))
    )
    return merged.select(
        "hour_bucket",
        "event_type",
        "n",
        F.col("_sum_dec").cast("double").alias("sum_value"),
    )


@register(
    "uz04_rollup_incremental",
    oracle="""
    SELECT STRFTIME(DATE_TRUNC('hour', ts), '%Y-%m-%d %H:00:00') AS hour_bucket,
           event_type, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS sum_value
    FROM events GROUP BY 1, 2
    """,
    doc=(
        "Hypertable-style continuous aggregate: hourly rollup refreshed by "
        "aggregating only the newest hour partition and merging partial "
        "aggregates into the standing rollup (merge input O(buckets), not "
        "O(events)); oracle is the full recompute."
    ),
    tags=("maintenance", "eventtime", "incremental"),
)
def uz04(spark: SparkSession, sf_dir: str) -> DataFrame:
    return rollup_incremental(load_table(spark, sf_dir, "events"))


@register(
    "uz05_schema_evolution",
    oracle="""
    SELECT c_custkey, c_name, CAST(NULL AS DOUBLE) AS c_acctbal
    FROM customer WHERE c_custkey % 2 = 0
    UNION ALL
    SELECT c_custkey, c_name, c_acctbal
    FROM customer WHERE c_custkey % 2 = 1
    """,
    doc=(
        "Schema-evolution scan: two parquet generations of the same "
        "table — v2 adds a column — read as ONE dataset under the union "
        "schema, which is v2's: the writer of v2 hands it over, so no "
        "footer is reconciled at read time; v1's missing column null-"
        "fills. The lakehouse add-a-column migration path: no rewrite of "
        "old files, readers see the union schema. The table schema is "
        "metadata kept by the writer, as a table format keeps it — "
        "mergeSchema would read every footer on every scan."
    ),
    tags=("scan", "schema"),
)
def uz05(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import tempfile

    cust = load_table(spark, sf_dir, "customer")
    root = tempfile.mkdtemp(prefix="uz05_evo_")
    v1_dir, v2_dir = os.path.join(root, "v1"), os.path.join(root, "v2")
    cust.where(F.col("c_custkey") % 2 == 0).select("c_custkey", "c_name").write.parquet(v1_dir)
    v2 = cust.where(F.col("c_custkey") % 2 == 1).select("c_custkey", "c_name", "c_acctbal")
    v2.write.parquet(v2_dir)
    merged = (
        read_parquet(spark, v1_dir, v2_dir, schema=v2.schema)
        .select("c_custkey", "c_name", "c_acctbal")
        .localCheckpoint(eager=True)  # detach before temp cleanup
    )
    shutil.rmtree(root, ignore_errors=True)
    return merged


@register(
    "xv01_constraint_audit",
    oracle="""
    SELECT 'orders_custkey_fk' AS rule, COUNT(*) AS n_violations FROM orders o
      WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
    UNION ALL
    SELECT 'lineitem_orderkey_fk', COUNT(*) FROM lineitem l
      WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
    UNION ALL
    SELECT 'customer_custkey_unique',
           (SELECT COUNT(*) FROM customer) - (SELECT COUNT(DISTINCT c_custkey) FROM customer)
    UNION ALL
    SELECT 'customer_nation_fk', COUNT(*) FROM customer c
      WHERE NOT EXISTS (SELECT 1 FROM nation n WHERE n.n_nationkey = c.c_nationkey)
    UNION ALL
    SELECT 'events_value_not_null', COUNT(*) FROM events WHERE value IS NULL
    UNION ALL
    SELECT 'documents_text_not_empty', COUNT(*) FROM documents
      WHERE text IS NULL OR length(text) = 0
    """,
    doc=(
        "Data-quality constraint audit (the dbt-test / Deequ shape): "
        "referential integrity via anti-join counts, key uniqueness via "
        "count-vs-distinct, nullability/emptiness scans — one row per "
        "rule with its violation count, unioned into a single report. "
        "At scale each FK rule is one anti-join whose dim side "
        "broadcasts; scans are column-pruned single passes; the report "
        "is O(#rules) rows."
    ),
    tags=("maintenance", "quality", "audit"),
)
def xv01(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    lineitem = load_table(spark, sf_dir, "lineitem")
    nation = load_table(spark, sf_dir, "nation")
    events = load_table(spark, sf_dir, "events")
    documents = load_table(spark, sf_dir, "documents")

    def count_rule(name: str, df: DataFrame) -> DataFrame:
        return df.agg(F.lit(name).alias("rule"), F.count(F.lit(1)).cast("long").alias("n_violations"))

    fk_orders = count_rule(
        "orders_custkey_fk",
        orders.join(
            customer.select(F.col("c_custkey").alias("o_custkey")), "o_custkey", "left_anti"
        ),
    )
    fk_lineitem = count_rule(
        "lineitem_orderkey_fk",
        lineitem.join(
            orders.select(F.col("o_orderkey").alias("l_orderkey")), "l_orderkey", "left_anti"
        ),
    )
    uniq = customer.agg(
        F.lit("customer_custkey_unique").alias("rule"),
        (F.count(F.lit(1)) - F.countDistinct("c_custkey")).cast("long").alias("n_violations"),
    )
    fk_nation = count_rule(
        "customer_nation_fk",
        customer.join(
            nation.select(F.col("n_nationkey").alias("c_nationkey")), "c_nationkey", "left_anti"
        ),
    )
    ev_null = count_rule("events_value_not_null", events.where(F.col("value").isNull()))
    doc_empty = count_rule(
        "documents_text_not_empty",
        documents.where(F.col("text").isNull() | (F.length("text") == 0)),
    )
    return fk_orders.unionByName(fk_lineitem).unionByName(uniq).unionByName(fk_nation).unionByName(ev_null).unionByName(doc_empty)


@register(
    "xh01_equi_depth_histogram",
    oracle="""
    SELECT tile, COUNT(*) AS n,
           ROUND(MIN(o_totalprice), 2) AS lo,
           ROUND(MAX(o_totalprice), 2) AS hi
    FROM (
      SELECT o_totalprice,
             NTILE(16) OVER (ORDER BY o_totalprice, o_orderkey) AS tile
      FROM orders
    )
    GROUP BY tile
    """,
    doc=(
        "Equi-depth histogram (ANALYZE-style optimizer statistics): 16 "
        "equal-count buckets over o_totalprice with per-bucket bounds — "
        "the selectivity-estimation statistic a cost-based planner "
        "consumes. Bucket assignment is exact NTILE over the (value, "
        "key) total order, but computed SCALE-SAFE: range-repartition + "
        "per-partition parallel row_number + broadcast offsets "
        "(operators/scalerank.py — no single-reducer ORDER BY window "
        "anywhere in the plan, pinned by tests/test_scale_ranking.py), "
        "then the closed-form NTILE bucket from the global rank. The "
        "oracle keeps the literal NTILE spelling as the truth anchor; "
        "both must agree bucket-for-bucket."
    ),
    tags=("maintenance", "statistics", "window"),
)
def xh01(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .scalerank import global_rank, ntile_expr

    orders = load_table(spark, sf_dir, "orders")
    ranked, n_rows = global_rank(
        orders.select("o_totalprice", "o_orderkey"),
        ["o_totalprice", "o_orderkey"],
        rank_col="_rk",
    )
    return (
        ranked.withColumn("tile", ntile_expr("_rk", n_rows, 16))
        .groupBy("tile")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("o_totalprice"), 2).alias("lo"),
            F.round(F.max("o_totalprice"), 2).alias("hi"),
        )
    )


@register(
    "xd01_scd2_intervals",
    oracle="""
    SELECT user_id,
           ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS version,
           event_id,
           CAST(epoch_us(ts) AS BIGINT) AS valid_from_us,
           CAST(LEAD(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS BIGINT)
             AS valid_to_us,
           CAST(round(value * 100) AS BIGINT) AS value_cents
    FROM events
    WHERE event_type = 'purchase'
    """,
    doc=(
        "SCD type-2 interval build: each change event becomes a "
        "versioned dimension row with [valid_from, valid_to) closed by "
        "the next change (LEAD over a total order; the current version "
        "stays open with NULL valid_to) — the as-of-queryable history "
        "table uz01's type-1 overwrite discards. One shuffle on the "
        "dimension key; at scale this is the standard merge-on-read "
        "history layout, and av06's as-of join is its query-side dual."
    ),
    tags=("maintenance", "scd2", "window"),
)
def xd01(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").where(F.col("event_type") == "purchase")
    us = F.unix_micros(F.col("ts"))
    w = Window.partitionBy("user_id").orderBy(us.asc(), F.col("event_id").asc())
    return ev.select(
        "user_id",
        F.row_number().over(w).alias("version"),
        "event_id",
        us.alias("valid_from_us"),
        F.lead(us).over(w).alias("valid_to_us"),
        F.round(F.col("value") * 100).cast("bigint").alias("value_cents"),
    )


@register(
    "xp01_point_in_time_join",
    oracle="""
    WITH ver AS (
      SELECT user_id,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS version,
             CAST(epoch_us(ts) AS BIGINT) AS valid_from_us,
             CAST(round(value * 100) AS BIGINT) AS value_cents
      FROM events WHERE event_type = 'purchase'
    ),
    -- one version per (user, instant): at duplicate timestamps only the
    -- LAST version is ever 'current', and the dedup removes the
    -- ASOF-join tie ambiguity on both engines
    ver1 AS (
      SELECT user_id, version, valid_from_us, value_cents FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, valid_from_us
                                     ORDER BY version DESC) AS rn
        FROM ver
      ) WHERE rn = 1
    ),
    clicks AS (
      SELECT event_id, user_id, CAST(epoch_us(ts) AS BIGINT) AS ts_us
      FROM events WHERE event_type = 'click'
    )
    SELECT c.event_id, c.user_id, v.version, v.value_cents
    FROM clicks c
    ASOF LEFT JOIN ver1 v
      ON c.user_id = v.user_id AND v.valid_from_us <= c.ts_us
    """,
    doc=(
        "Point-in-time (feature-store) join: each click event is paired "
        "with the purchase-derived dimension VERSION in effect at its "
        "timestamp — the training-data join that prevents feature "
        "leakage (never read a version from the future). Composition of "
        "xd01's SCD2 versions with av06's union+window as-of merge: ONE "
        "shuffle on the entity key, no per-row subquery; events before "
        "any version get NULLs (left semantics)."
    ),
    tags=("maintenance", "asof", "feature-store"),
)
def xp01(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from spotify_tags_etl_spark.operators.advanced import asof_join

    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    wv = Window.partitionBy("user_id").orderBy(us.asc(), F.col("event_id").asc())
    ver = (
        ev.where(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.row_number().over(wv).alias("version"),
            us.alias("valid_from_us"),
            F.round(F.col("value") * 100).cast("bigint").alias("value_cents"),
        )
    )
    w1 = Window.partitionBy("user_id", "valid_from_us").orderBy(F.desc("version"))
    ver1 = ver.withColumn("_rn", F.row_number().over(w1)).where(F.col("_rn") == 1).drop("_rn")
    clicks = ev.where(F.col("event_type") == "click").select(
        "event_id", "user_id", us.alias("ts_us")
    )
    return asof_join(
        clicks,
        ver1.select("user_id", F.col("valid_from_us").alias("ts_us"), "version", "value_cents"),
        key="user_id",
        ts="ts_us",
        right_cols={"version": "version", "value_cents": "value_cents"},
    ).select("event_id", "user_id", "version", "value_cents")


#: xv02 CSV fixture parameters: row count and corrupt-row period.
_CSV_ROWS = 600
_CSV_BAD_PERIOD = 50


@register(
    "xv02_csv_quarantine",
    oracle=f"""
    SELECT
      COUNT(*) FILTER (WHERE range % {_CSV_BAD_PERIOD} != 0) AS n_good,
      COUNT(*) FILTER (WHERE range % {_CSV_BAD_PERIOD} = 0) AS n_corrupt,
      CAST(SUM(CASE WHEN range % {_CSV_BAD_PERIOD} != 0
                    THEN (range * 7) % 1000 END) AS BIGINT) AS sum_val
    FROM range({_CSV_ROWS})
    """,
    doc=(
        "CSV scan with source-level malformed-record quarantine: "
        "PERMISSIVE parse against an explicit schema routes rows that "
        "fail type coercion into the _corrupt_record column instead of "
        "failing the job or silently nulling — the ingest-boundary "
        "counterpart of q12's row-level validity quarantine, on a "
        "600-row fixture derived deterministically from range() (every "
        "50th line malformed) so the DuckDB oracle is closed-form with "
        "no file dependency. Spark requires materializing the parsed "
        "frame before filtering on the corrupt-record column (the "
        "parser otherwise prunes the raw text away); at scale that "
        "materialization is the same single pass the quarantine split "
        "needs anyway. Scan stays parallel: the fixture is written as "
        "partitioned text and read back by glob."
    ),
    tags=("source", "csv", "quarantine"),
)
def xv02(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib
    import os

    from pyspark.sql.types import LongType, StringType, StructField, StructType

    tag = hashlib.sha256(f"xv02:{_CSV_ROWS}:{_CSV_BAD_PERIOD}".encode()).hexdigest()[:12]
    path = _pid_tmp_path("spark_graft_csv", tag)
    line = F.when(
        F.col("id") % _CSV_BAD_PERIOD == 0,
        F.concat_ws(",", F.lit("corrupt"), F.lit("not-a-number")),
    ).otherwise(
        F.concat_ws(
            ",",
            F.col("id").cast("string"),
            ((F.col("id") * 7) % 1000).cast("string"),
            F.concat(F.lit("row_"), F.col("id")),
        )
    )
    spark.range(_CSV_ROWS).select(line.alias("value")).write.mode("overwrite").text(path)

    schema = StructType(
        [
            StructField("id", LongType()),
            StructField("val", LongType()),
            StructField("name", StringType()),
            StructField("_corrupt_record", StringType()),
        ]
    )
    parsed = spark.read.schema(schema).option("mode", "PERMISSIVE").option(
        "columnNameOfCorruptRecord", "_corrupt_record"
    ).csv(path)
    parsed = parsed.cache()  # required before referencing _corrupt_record
    bad = F.col("_corrupt_record").isNotNull()
    return parsed.agg(
        F.count(F.when(~bad, 1)).alias("n_good"),
        F.count(F.when(bad, 1)).alias("n_corrupt"),
        F.sum(F.when(~bad, F.col("val"))).cast("bigint").alias("sum_val"),
    )


#: xw02 synthetic-snapshot parameters (all deterministic key-modular).
_DIFF_DROP, _DIFF_MOD, _DIFF_ADD = 97, 13, 10


@register(
    "xw02_table_diff",
    oracle=f"""
    WITH new AS (
      SELECT c_custkey,
             CASE WHEN c_custkey % {_DIFF_MOD} = 0
                  THEN CAST(round(c_acctbal * 100) AS BIGINT) + 100
                  ELSE CAST(round(c_acctbal * 100) AS BIGINT) END AS acct_cents,
             c_nationkey
      FROM customer WHERE c_custkey % {_DIFF_DROP} != 0
      UNION ALL
      SELECT 10000000000 + range AS c_custkey, 0 AS acct_cents, 0 AS c_nationkey
      FROM range({_DIFF_ADD})
    ),
    base AS (
      SELECT c_custkey, CAST(round(c_acctbal * 100) AS BIGINT) AS acct_cents,
             c_nationkey
      FROM customer
    )
    SELECT
      COUNT(*) FILTER (WHERE b.c_custkey IS NULL) AS n_added,
      COUNT(*) FILTER (WHERE n.c_custkey IS NULL) AS n_removed,
      COUNT(*) FILTER (WHERE b.c_custkey IS NOT NULL AND n.c_custkey IS NOT NULL
                       AND (b.acct_cents != n.acct_cents OR b.c_nationkey != n.c_nationkey))
        AS n_changed,
      COUNT(*) FILTER (WHERE b.c_custkey IS NOT NULL AND n.c_custkey IS NOT NULL
                       AND b.acct_cents = n.acct_cents AND b.c_nationkey = n.c_nationkey)
        AS n_unchanged
    FROM base b FULL OUTER JOIN new n USING (c_custkey)
    """,
    doc=(
        "Snapshot reconciliation (data-diff audit): full-outer join two "
        "table generations on the key and classify every row "
        "added/removed/changed/unchanged — the verification step behind "
        "CDC replication, backfills, and migration cutovers (uz01 "
        "APPLIES changes; this AUDITS two snapshots that should "
        "agree). The 'new' generation is derived deterministically "
        "from the base (every 97th key dropped, every 13th acct "
        "bumped one dollar, 10 synthetic inserts) so the oracle is "
        "pure SQL. Compared columns go through integer cents. Shape: "
        "ONE key-partitioned full-outer join + a 1-row aggregate; "
        "with the base bucketed by key (skew.py) only the new "
        "snapshot shuffles. Column-level drill-down is the same plan "
        "with a struct-compare projection."
    ),
    tags=("maintenance", "cdc", "audit"),
)
def xw02(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    base = cust.select(
        "c_custkey",
        F.round(F.col("c_acctbal") * 100).cast("bigint").alias("acct_cents"),
        "c_nationkey",
    )
    modified = base.where(F.col("c_custkey") % _DIFF_DROP != 0).select(
        "c_custkey",
        F.when(
            F.col("c_custkey") % _DIFF_MOD == 0, F.col("acct_cents") + 100
        ).otherwise(F.col("acct_cents")).alias("acct_cents"),
        "c_nationkey",
    )
    inserts = spark.range(_DIFF_ADD).select(
        (F.lit(10_000_000_000) + F.col("id")).alias("c_custkey"),
        F.lit(0).cast("bigint").alias("acct_cents"),
        F.lit(0).cast("bigint").alias("c_nationkey"),
    )
    new = modified.unionByName(inserts)
    b = base.alias("b")
    n = new.alias("n")
    j = b.join(n, F.col("b.c_custkey") == F.col("n.c_custkey"), "full_outer")
    in_b = F.col("b.c_custkey").isNotNull()
    in_n = F.col("n.c_custkey").isNotNull()
    same = (F.col("b.acct_cents") == F.col("n.acct_cents")) & (
        F.col("b.c_nationkey") == F.col("n.c_nationkey")
    )
    return j.agg(
        F.count(F.when(~in_b, 1)).alias("n_added"),
        F.count(F.when(~in_n, 1)).alias("n_removed"),
        F.count(F.when(in_b & in_n & ~same, 1)).alias("n_changed"),
        F.count(F.when(in_b & in_n & same, 1)).alias("n_unchanged"),
    )


def _custkey_revenue(orders: DataFrame, li: DataFrame) -> DataFrame:
    """Partial aggregates of the revenue-per-customer join view."""
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .groupBy("o_custkey")
        .agg(
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("bigint")).alias("cents"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@register(
    "xz03_ivm_join_delta",
    oracle="""
    SELECT o.o_custkey,
           CAST(SUM(CAST(round(l.l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS cents,
           COUNT(*) AS n_items
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_custkey
    """,
    doc=(
        "Incremental maintenance of a JOIN-aggregate view (revenue per "
        "customer over orders x lineitem): the standing view is "
        "refreshed by joining ONLY the newest lineitem partition "
        "(l_shipdate >= the max month, found by uz04's 1-row "
        "partition-boundary lookup) against the dimension and merging "
        "the delta's partial aggregates into the base partials — "
        "uz04's continuous-aggregate discipline pushed THROUGH a join. "
        "The delta join's shuffle is O(delta), the merge input is "
        "O(groups); a full recompute (the oracle) would re-shuffle the "
        "entire fact table. One-sided deltas suffice because the "
        "orders side is static here; a dimension delta adds the "
        "symmetric A-delta term (and their intersection) — same "
        "algebra, same merge. All money through integer cents so "
        "base+delta merge is exact regardless of split point."
    ),
    tags=("maintenance", "incremental", "join"),
)
def xz03(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_shipdate"
    )
    cutoff = li.select(
        F.date_trunc("month", F.max("l_shipdate")).alias("m")
    ).collect()[0]["m"]
    base = _custkey_revenue(orders, li.where(F.col("l_shipdate") < F.lit(cutoff)))
    delta = _custkey_revenue(orders, li.where(F.col("l_shipdate") >= F.lit(cutoff)))
    return (
        base.unionByName(delta)
        .groupBy("o_custkey")
        .agg(
            F.sum("cents").cast("bigint").alias("cents"),
            F.sum("n_items").alias("n_items"),
        )
    )


#: xs02 anonymity threshold.
_K_ANON = 5


@register(
    "xs02_k_anonymity_audit",
    oracle=f"""
    WITH classes AS (
      SELECT c_nationkey, c_mktsegment, COUNT(*) AS class_size
      FROM customer GROUP BY c_nationkey, c_mktsegment
    )
    SELECT
      MIN(class_size) AS k_anonymity,
      COUNT(*) AS n_classes,
      COUNT(*) FILTER (WHERE class_size < {_K_ANON}) AS n_small_classes,
      CAST(SUM(CASE WHEN class_size < {_K_ANON} THEN class_size END) AS BIGINT)
        AS n_rows_at_risk
    FROM classes
    """,
    doc=(
        "k-anonymity audit over a quasi-identifier tuple (nation x "
        "market segment): equivalence-class sizes, the dataset's "
        "k-anonymity level (min class size), and the classes/rows "
        "below the k=5 threshold — the privacy-governance check a "
        "training-data release runs AFTER tx05's direct-identifier "
        "redaction (small classes are the re-identification risk "
        "direct redaction cannot see). One groupBy on the "
        "quasi-identifier with map-side partials + an O(#classes) "
        "summary; at 100 TB the class census is the only wide stage "
        "and generalization ladders (coarsen QI columns until k >= "
        "threshold) re-run just the census, not the scan."
    ),
    tags=("maintenance", "privacy", "audit"),
)
def xs02(spark: SparkSession, sf_dir: str) -> DataFrame:
    classes = (
        load_table(spark, sf_dir, "customer")
        .groupBy("c_nationkey", "c_mktsegment")
        .agg(F.count(F.lit(1)).alias("class_size"))
    )
    small = F.col("class_size") < _K_ANON
    return classes.agg(
        F.min("class_size").alias("k_anonymity"),
        F.count(F.lit(1)).alias("n_classes"),
        F.count(F.when(small, 1)).alias("n_small_classes"),
        F.sum(F.when(small, F.col("class_size"))).cast("bigint").alias("n_rows_at_risk"),
    )


#: xa01: split point (epoch-anchored day) and drift alarm threshold.
_DRIFT_SPLIT_DAY = 19738  # 2024-01-16: first half vs second half of the span
_DRIFT_PPM = 10_000  # 1% absolute share shift


@register(
    "xa01_category_drift",
    oracle=f"""
    WITH sides AS (
      SELECT event_type,
             CASE WHEN epoch_us(ts) // 86400000000 < {_DRIFT_SPLIT_DAY}
                  THEN 'a' ELSE 'b' END AS side
      FROM events
    ),
    counts AS (
      SELECT event_type,
             COUNT(*) FILTER (WHERE side = 'a') AS n_a,
             COUNT(*) FILTER (WHERE side = 'b') AS n_b
      FROM sides GROUP BY event_type
    ),
    tot AS (SELECT SUM(n_a) AS t_a, SUM(n_b) AS t_b FROM counts)
    SELECT event_type, n_a, n_b,
           CAST((1000000 * n_a) // t_a AS BIGINT) AS share_a_ppm,
           CAST((1000000 * n_b) // t_b AS BIGINT) AS share_b_ppm,
           CAST(abs((1000000 * n_a) // t_a - (1000000 * n_b) // t_b) AS BIGINT) AS drift_ppm,
           abs((1000000 * n_a) // t_a - (1000000 * n_b) // t_b) > {_DRIFT_PPM}
             AS drifted
    FROM counts CROSS JOIN tot
    """,
    doc=(
        "Categorical distribution drift monitor: event-type share in "
        "an earlier time window vs a later one, with exact integer "
        "ppm shares and a 1%-absolute-shift alarm — the train/serve "
        "skew check an ML data pipeline runs between ingest "
        "generations (uz02 profiles ONE snapshot; this compares "
        "two). One scan with conditional partial aggregation (no "
        "self-join of the two windows), an O(#categories) census, "
        "and a 2-value broadcast total. At 100 TB the windows come "
        "from partition pruning on the date key and the comparison "
        "cost is the census only."
    ),
    tags=("maintenance", "drift", "quality"),
)
def xa01(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    is_a = F.expr(f"unix_micros(ts) DIV 86400000000 < {_DRIFT_SPLIT_DAY}")
    counts = ev.groupBy("event_type").agg(
        F.count(F.when(is_a, 1)).alias("n_a"),
        F.count(F.when(~is_a, 1)).alias("n_b"),
    )
    tot = counts.agg(F.sum("n_a").alias("t_a"), F.sum("n_b").alias("t_b"))
    return (
        counts.crossJoin(F.broadcast(tot))
        .withColumn("share_a_ppm", F.expr("(1000000 * n_a) DIV t_a"))
        .withColumn("share_b_ppm", F.expr("(1000000 * n_b) DIV t_b"))
        .withColumn("drift_ppm", F.abs(F.col("share_a_ppm") - F.col("share_b_ppm")))
        .withColumn("drifted", F.col("drift_ppm") > _DRIFT_PPM)
        .select(
            "event_type", "n_a", "n_b", "share_a_ppm", "share_b_ppm", "drift_ppm", "drifted"
        )
    )


@register(
    "xw04_cdc_log_compaction",
    oracle=f"""
    WITH log AS (
      SELECT c_custkey, 1 AS seq, 'I' AS op,
             CAST(round(c_acctbal * 100) AS BIGINT) AS acct_cents
      FROM customer
      UNION ALL
      SELECT c_custkey, 2, 'U', CAST(round(c_acctbal * 100) AS BIGINT) + 500
      FROM customer WHERE c_custkey % 7 = 0
      UNION ALL
      SELECT c_custkey, 3, 'D', NULL
      FROM customer WHERE c_custkey % 31 = 0
    ),
    latest AS (
      SELECT c_custkey, seq, op, acct_cents,
             ROW_NUMBER() OVER (PARTITION BY c_custkey ORDER BY seq DESC) AS rn
      FROM log
    )
    SELECT c_custkey, seq AS last_seq, acct_cents
    FROM latest WHERE rn = 1 AND op != 'D'
    """,
    doc=(
        "CDC log compaction with DELETE tombstones: an append-only "
        "change log (insert / update / delete ops, strictly ordered "
        "per key) compacts to final state by per-key argmax on the "
        "sequence — and a winning tombstone REMOVES the key, the "
        "semantic uz01/st08's upsert-only merges never exercise. The "
        "log is derived deterministically from customer (all inserts, "
        "every 7th updated, every 31st deleted) so the oracle is pure "
        "SQL. Shape: ONE key-partitioned window over the log — "
        "merge-on-read compaction's exact plan; at 100 TB the log is "
        "bucketed by key at write time and compaction never "
        "re-shuffles the base (skew.py's contract). Tombstones must "
        "survive until compaction (never filter 'D' before the "
        "argmax: a dropped tombstone resurrects the row — the classic "
        "CDC bug this operator's oracle would catch)."
    ),
    tags=("maintenance", "cdc", "compaction"),
)
def xw04(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", F.round(F.col("c_acctbal") * 100).cast("bigint").alias("acct_cents")
    )
    log = (
        cust.select(
            "c_custkey", F.lit(1).alias("seq"), F.lit("I").alias("op"), "acct_cents"
        )
        .unionByName(
            cust.where(F.col("c_custkey") % 7 == 0).select(
                "c_custkey",
                F.lit(2).alias("seq"),
                F.lit("U").alias("op"),
                (F.col("acct_cents") + 500).alias("acct_cents"),
            )
        )
        .unionByName(
            cust.where(F.col("c_custkey") % 31 == 0).select(
                "c_custkey",
                F.lit(3).alias("seq"),
                F.lit("D").alias("op"),
                F.lit(None).cast("bigint").alias("acct_cents"),
            )
        )
    )
    w = Window.partitionBy("c_custkey").orderBy(F.desc("seq"))
    return (
        log.withColumn("rn", F.row_number().over(w))
        .where((F.col("rn") == 1) & (F.col("op") != "D"))
        .select("c_custkey", F.col("seq").alias("last_seq"), "acct_cents")
    )


@register(
    "xd02_interval_union_audit",
    oracle="""
    WITH iv AS (
      SELECT user_id, epoch_us(ts) AS s,
             epoch_us(ts) + CAST(round(value * 100) AS BIGINT) * 1000 AS e
      FROM events WHERE event_type = 'click'
    ),
    marked AS (
      SELECT user_id, s, e,
             CASE WHEN s > COALESCE(
               MAX(e) OVER (PARTITION BY user_id ORDER BY s, e
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               -1) THEN 1 ELSE 0 END AS is_new
      FROM iv
    ),
    islands AS (
      SELECT user_id, s, e,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY s, e
                               ROWS UNBOUNDED PRECEDING) AS isl
      FROM marked
    ),
    merged AS (
      SELECT user_id, isl, MIN(s) AS i_s, MAX(e) AS i_e
      FROM islands GROUP BY user_id, isl
    )
    SELECT i.user_id,
           MAX(n.n_iv) AS n_intervals,
           COUNT(*) AS n_islands,
           MAX(n.sum_len) AS sum_len_us,
           CAST(SUM(i.i_e - i.i_s) AS BIGINT) AS union_len_us,
           MAX(n.sum_len) - CAST(SUM(i.i_e - i.i_s) AS BIGINT) AS overlap_us
    FROM merged i
    JOIN (
      SELECT user_id, COUNT(*) AS n_iv, CAST(SUM(e - s) AS BIGINT) AS sum_len
      FROM iv GROUP BY user_id
    ) n USING (user_id)
    GROUP BY i.user_id
    """,
    doc=(
        "Interval union / overlap audit (sweep-line as window "
        "algebra): per-user activity windows (click instant + "
        "value-cents milliseconds) merge into maximal islands via the "
        "classic trick — an interval starts a new island iff its "
        "start exceeds the running max END of everything before it — "
        "then union coverage, island count, and total overlap "
        "(sum-of-lengths minus union) fall out of one grouped "
        "aggregate. The temporal-QA primitive behind SCD2 history "
        "validation (xd01), on-call coverage, and utilization "
        "metrics; a per-pair overlap join would be quadratic in "
        "overlap depth — the sweep is one user-keyed exchange + two "
        "windows, linear at any scale. All integer microseconds."
    ),
    tags=("maintenance", "interval", "window"),
)
def xd02(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").where(F.col("event_type") == "click")
    iv = ev.select(
        "user_id",
        F.unix_micros("ts").alias("s"),
        (F.unix_micros("ts") + F.round(F.col("value") * 100).cast("bigint") * 1000).alias("e"),
    )
    wo = Window.partitionBy("user_id").orderBy("s", "e")
    prev_max_e = F.max("e").over(wo.rowsBetween(Window.unboundedPreceding, -1))
    marked = iv.withColumn(
        "is_new", F.when(F.col("s") > F.coalesce(prev_max_e, F.lit(-1)), 1).otherwise(0)
    )
    islands = marked.withColumn(
        "isl",
        F.sum("is_new").over(wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    merged = islands.groupBy("user_id", "isl").agg(
        F.min("s").alias("i_s"), F.max("e").alias("i_e")
    )
    per_user = iv.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_iv"),
        F.sum(F.col("e") - F.col("s")).cast("bigint").alias("sum_len"),
    )
    return (
        merged.join(per_user, "user_id")
        .groupBy("user_id")
        .agg(
            F.max("n_iv").alias("n_intervals"),
            F.count(F.lit(1)).alias("n_islands"),
            F.max("sum_len").alias("sum_len_us"),
            F.sum(F.col("i_e") - F.col("i_s")).cast("bigint").alias("union_len_us"),
            (F.max("sum_len") - F.sum(F.col("i_e") - F.col("i_s")).cast("bigint")).alias(
                "overlap_us"
            ),
        )
    )


# ---------------------------------------------------------------------------
# xv03 — date-partitioned layout + partition-pruned scan
# ---------------------------------------------------------------------------

#: Date window the pruned scan reads back (fixture events span 2024-01).
XV03_LO, XV03_HI = "2024-01-08", "2024-01-14"


def partitioned_events_path(sf_dir: str) -> str:
    """Deterministic per-(sf-dir, process) scratch target, overwritten
    each run. The PID key means two CONCURRENT runs against the same
    sf_dir (parallel pytest, overlapping sweeps) never race one run's
    mode-overwrite write against the other's read."""
    import hashlib
    import os

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:12]
    return _pid_tmp_path("spark_graft_xv03", tag)


def write_partitioned_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialize events as a date-partitioned parquet dataset
    (``event_date=YYYY-MM-DD/`` directories) — the layout step every
    event warehouse runs so that time-ranged queries prune I/O — and
    return the dataset read back under the written frame's schema
    (the scan lists the partition column last, as inference would)."""
    path = partitioned_events_path(sf_dir)
    ev = load_table(spark, sf_dir, "events").withColumn("event_date", F.to_date("ts"))
    ev.write.mode("overwrite").partitionBy("event_date").parquet(path)
    return read_parquet(spark, path, schema=ev.schema)


@register(
    "xv03_partition_prune_scan",
    oracle=f"""
    SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS event_date,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS sum_value
    FROM events
    WHERE CAST(ts AS DATE) BETWEEN DATE '{XV03_LO}' AND DATE '{XV03_HI}'
    GROUP BY 1 ORDER BY 1
    """,
    doc=(
        "Partition-pruning round trip: write events date-partitioned "
        "(dynamic partitionBy on to_date(ts)), then aggregate one "
        "calendar week reading ONLY those directories — the scan's "
        "PartitionFilters prune ~77% of files before any I/O "
        "(asserted in tests/test_scale_physical.py). This is the "
        "layout contract every 100 TB event store lives by: time-range "
        "queries must touch O(range) bytes, not O(history); the same "
        "mechanism gives retention deletes (drop directories) for "
        "free. Writer side: dynamic partition overwrite, one file per "
        "(task, date) — at scale preceded by a repartition on the "
        "partition column to bound small files (uz03's z-order is the "
        "within-file cousin)."
    ),
    tags=("source", "layout", "pruning"),
)
def xv03(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = write_partitioned_events(spark, sf_dir)
    return (
        part.where(
            F.col("event_date").between(F.lit(XV03_LO).cast("date"), F.lit(XV03_HI).cast("date"))
        )
        .groupBy(F.col("event_date").cast("string").alias("event_date"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(14,2)")).cast("double").alias("sum_value"),
        )
        .orderBy("event_date")
    )


# ---------------------------------------------------------------------------
# xw07 — versioned store + AS OF (time-travel) read
# ---------------------------------------------------------------------------

#: Three deterministic change batches: events days [1,11), [11,21), [21,31).
_XW07_DAY_EDGES = (11, 21)


def _xw07_batches(ev: DataFrame) -> list[DataFrame]:
    """Per-batch LWW state: each batch's last (ts, event_id)-ordered
    value-cents per user, as a MERGE-ready one-row-per-key frame."""
    day = F.expr("CAST(unix_micros(ts) DIV 86400000000 AS BIGINT)")
    day0 = F.lit(19723)  # 2024-01-01 epoch days
    batch = (
        F.when(day - day0 < _XW07_DAY_EDGES[0] - 1, F.lit(0))
        .when(day - day0 < _XW07_DAY_EDGES[1] - 1, F.lit(1))
        .otherwise(F.lit(2))
    )
    keyed = ev.select(
        "user_id",
        batch.alias("b"),
        F.unix_micros(F.col("ts")).alias("us"),
        "event_id",
        F.round(F.col("value") * 100, 0).cast("bigint").alias("cents"),
    )
    out = []
    for b in range(3):
        w = Window.partitionBy("user_id").orderBy(F.desc("us"), F.desc("event_id"))
        out.append(
            keyed.where(F.col("b") == b)
            .withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select("user_id", "cents")
        )
    return out


@register(
    "xw07_version_travel",
    oracle="""
    WITH keyed AS (
      SELECT user_id,
             CASE WHEN epoch_us(ts) // 86400000000 - 19723 < 10 THEN 0
                  WHEN epoch_us(ts) // 86400000000 - 19723 < 20 THEN 1
                  ELSE 2 END AS b,
             epoch_us(ts) AS us, event_id,
             CAST(ROUND(value * 100, 0) AS BIGINT) AS cents
      FROM events
    ),
    v1 AS (
      SELECT user_id, cents FROM (
        SELECT user_id, cents,
               ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY us DESC, event_id DESC) AS rn
        FROM keyed WHERE b <= 1
      ) WHERE rn = 1
    ),
    v2 AS (
      SELECT user_id, cents FROM (
        SELECT user_id, cents,
               ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY us DESC, event_id DESC) AS rn
        FROM keyed
      ) WHERE rn = 1
    )
    SELECT v2.user_id,
           v1.cents AS v1_cents,
           v2.cents AS v2_cents,
           (v1.cents IS NULL OR v1.cents <> v2.cents) AS changed
    FROM v2 LEFT JOIN v1 ON v1.user_id = v2.user_id
    ORDER BY v2.user_id
    """,
    doc=(
        "Snapshot time travel on plain parquet: three LWW change "
        "batches (events by day tertile) MERGE into a versioned store "
        "— every version's files are RETAINED, so 'AS OF v1' is just "
        "reading an older directory while v2 serves current traffic "
        "(the snapshot-isolation mechanism under Delta/Iceberg, here "
        "as an explicit version-pointer pattern shared with st08/"
        "xk03). Output diffs the v1 snapshot against head: per-user "
        "state then vs now plus a changed flag. Each batch reduces to "
        "one row per key BEFORE merging (window argmax), so the merge "
        "join is O(keys), never O(events); the store swap is atomic "
        "by pointer update. Verified against a pure-SQL reconstruction "
        "of both snapshots from the ordered change log."
    ),
    tags=("maintenance", "cdc", "time-travel"),
)
def xw07(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import tempfile

    ev = load_table(spark, sf_dir, "events")
    batches = _xw07_batches(ev)
    root = tempfile.mkdtemp(prefix="xw07_tt_")
    versions: list[DataFrame] = []
    state: DataFrame | None = None
    for i, b in enumerate(batches):
        state = b if state is None else (
            upsert(state.select("user_id", "cents"), b, "user_id").select("user_id", "cents")
        )
        path = os.path.join(root, f"v{i}")
        state.write.mode("overwrite").parquet(path)
        state = read_parquet(spark, path, schema=state.schema)
        versions.append(state)
    as_of_v1 = versions[1].select("user_id", F.col("cents").alias("v1_cents"))
    head = versions[2].select("user_id", F.col("cents").alias("v2_cents"))
    out = (
        head.join(as_of_v1, "user_id", "left")
        .select(
            "user_id",
            "v1_cents",
            "v2_cents",
            (F.col("v1_cents").isNull() | (F.col("v1_cents") != F.col("v2_cents"))).alias(
                "changed"
            ),
        )
        .orderBy("user_id")
        .localCheckpoint(eager=True)
    )
    shutil.rmtree(root, ignore_errors=True)
    return out


# ---------------------------------------------------------------------------
# xv04 — cross-fact reconciliation audit (orders vs lineitem totals)
# ---------------------------------------------------------------------------


@register(
    "xv04_reconciliation_audit",
    oracle="""
    WITH li AS (
      SELECT l_orderkey,
             SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS li_cents
      FROM lineitem GROUP BY l_orderkey
    ),
    j AS (
      SELECT o.o_orderkey,
             CAST(round(o.o_totalprice * 100) AS BIGINT) AS o_cents,
             li.li_cents,
             CAST(round(o.o_totalprice * 100) AS BIGINT) - li.li_cents AS delta
      FROM orders o JOIN li ON li.l_orderkey = o.o_orderkey
    )
    SELECT COUNT(*) AS n_checked,
           CAST(SUM(CASE WHEN 100 * ABS(delta) <= o_cents THEN 1 ELSE 0 END) AS BIGINT) AS n_within_1pct,
           CAST(SUM(CASE WHEN delta > 0 AND 100 * delta > o_cents THEN 1 ELSE 0 END) AS BIGINT) AS n_over,
           CAST(SUM(CASE WHEN delta < 0 AND -100 * delta > o_cents THEN 1 ELSE 0 END) AS BIGINT) AS n_under,
           CAST(MAX(ABS(delta)) AS BIGINT) AS max_abs_delta_cents
    FROM j
    """,
    doc=(
        "Cross-fact reconciliation: every order's header total against "
        "the sum of its line items, classified by a 1% integer-cross-"
        "multiplied tolerance (100*|delta| <= total_cents — no float "
        "percent anywhere) into within/over/under, plus the worst "
        "absolute discrepancy. The closing-the-books audit between any "
        "summary fact and its detail fact; the fixture generates the "
        "two independently, so the audit HONESTLY reports mass "
        "mismatch — which is exactly the report shape. Lineitem "
        "pre-aggregates to one row per order BELOW the join (q23's "
        "pinned pattern), so the join carries O(orders) rows and the "
        "final rollup is a 1-row global aggregate with map-side "
        "partials."
    ),
    tags=("quality", "audit", "join"),
)
def xv04(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.sum(F.round(F.col("l_extendedprice") * 100).cast("bigint")).alias("li_cents"))
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.round(F.col("o_totalprice") * 100).cast("bigint").alias("o_cents")
    )
    j = o.join(li, F.col("l_orderkey") == F.col("o_orderkey")).select(
        "o_cents", (F.col("o_cents") - F.col("li_cents")).alias("delta")
    )
    return j.agg(
        F.count(F.lit(1)).alias("n_checked"),
        F.sum(F.expr("CASE WHEN 100 * ABS(delta) <= o_cents THEN 1 ELSE 0 END")).alias(
            "n_within_1pct"
        ),
        F.sum(F.expr("CASE WHEN delta > 0 AND 100 * delta > o_cents THEN 1 ELSE 0 END")).alias(
            "n_over"
        ),
        F.sum(
            F.expr("CASE WHEN delta < 0 AND -100 * delta > o_cents THEN 1 ELSE 0 END")
        ).alias("n_under"),
        F.max(F.abs(F.col("delta"))).alias("max_abs_delta_cents"),
    )


# ---------------------------------------------------------------------------
# xv05 — ORC interchange round trip (second columnar format)
# ---------------------------------------------------------------------------


@register(
    "xv05_orc_roundtrip",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
    FROM orders
    WHERE o_orderstatus = 'F'
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
    doc=(
        "Columnar-format interchange: orders rewritten as ORC (Spark's "
        "second first-class columnar format — Hive-ecosystem exchange), "
        "read back with a pushed status filter, and aggregated; the "
        "oracle reads the ORIGINAL parquet, so the round trip proves "
        "byte-faithful value transport across formats, not just "
        "self-consistency. ORC carries the same column pruning + "
        "predicate pushdown machinery as parquet (min/max stripe "
        "stats); the DECIMAL money discipline is format-independent. "
        "At scale this is the migration path between Hive/ORC estates "
        "and parquet lakes — same DataFrame plan either side."
    ),
    tags=("source", "format", "interchange"),
)
def xv05(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib
    import os

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:12]
    path = _pid_tmp_path("spark_graft_xv05", tag)
    load_table(spark, sf_dir, "orders").write.mode("overwrite").orc(path)
    back = spark.read.orc(path)
    return (
        back.where(F.col("o_orderstatus") == "F")
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("total_price"),
        )
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# xs04 — observed scan metrics as a first-class result (Observation API)
# ---------------------------------------------------------------------------


@register(
    "xs04_observed_scan_metrics",
    oracle="""
    SELECT COUNT(*) AS n_rows,
           CAST(SUM(CASE WHEN value < 0 OR value IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_invalid,
           MAX(user_id) AS max_user_id,
           CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS sum_cents
    FROM events
    """,
    doc=(
        "Single-pass observability: quality metrics (row count, "
        "invalid count, distinct users, cents total) ride the SCAN "
        "ITSELF via the Observation API — the metrics row is collected "
        "from the action's accumulators, not from a second aggregation "
        "job, so a 100 TB validation pass costs zero extra scans (the "
        "batch cousin of streaming's progress listener; the media "
        "pipeline uses the same mechanism inside its write action, "
        "etl/media.py observe_quality). The oracle recomputes the "
        "same metrics relationally and must agree exactly — pinning "
        "that observed-on-the-way-through equals computed-after."
    ),
    tags=("quality", "observability"),
)
def xs04(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Observation

    ev = load_table(spark, sf_dir, "events")
    obs = Observation("scan_metrics")
    cents = F.round(F.col("value") * 100, 0).cast("bigint")
    observed = ev.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(
            F.when(F.col("value").isNull() | (F.col("value") < 0), 1).otherwise(0)
        ).alias("n_invalid"),
        F.max(F.col("user_id")).alias("max_user_id"),
        F.sum(cents).cast("bigint").alias("sum_cents"),
    )
    observed.write.format("noop").mode("overwrite").save()  # the one real pass
    row = obs.get
    return spark.createDataFrame(
        [
            (
                int(row["n_rows"]),
                int(row["n_invalid"]),
                int(row["max_user_id"]),
                int(row["sum_cents"]),
            )
        ],
        "n_rows long, n_invalid long, max_user_id long, sum_cents long",
    )


# ---------------------------------------------------------------------------
# xs05 — inclusion-dependency (FK) discovery audit
# ---------------------------------------------------------------------------

#: Candidate (child table, child col, parent table, parent col) edges the
#: profiler scores. Fixed list: IND discovery enumerates type-compatible
#: pairs from catalog metadata; the scoring below is the data-driven part.
_FK_CANDIDATES = (
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation", "n_regionkey", "region", "r_regionkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    # deliberate negative control: value domains overlap only partially,
    # so the audit must NOT flag it — guards against a scorer that
    # saturates on any numeric pair.
    ("nation", "n_nationkey", "region", "r_regionkey"),
)


def _fk_pair_sql(child: str, ccol: str, parent: str, pcol: str) -> str:
    return f"""
      SELECT '{child}.{ccol}' AS child, '{parent}.{pcol}' AS parent,
             (SELECT COUNT(DISTINCT {ccol}) FROM {child} WHERE {ccol} IS NOT NULL) AS n_child,
             (SELECT COUNT(DISTINCT c.{ccol}) FROM {child} c
               WHERE c.{ccol} IS NOT NULL
                 AND EXISTS (SELECT 1 FROM {parent} p WHERE p.{pcol} = c.{ccol})) AS n_matched"""


@register(
    "xs05_fk_discovery",
    oracle="WITH pairs AS ("
    + "\nUNION ALL".join(_fk_pair_sql(*c) for c in _FK_CANDIDATES)
    + """
    )
    SELECT child, parent, n_child, n_matched,
           CAST((n_matched * 1000000) // n_child AS BIGINT) AS containment_ppm,
           n_matched = n_child AS is_inclusion
    FROM pairs ORDER BY child, parent
    """,
    doc=(
        "Inclusion-dependency (foreign-key) discovery: for each type-"
        "compatible candidate edge, the fraction of distinct non-null "
        "child values contained in the parent's key domain (integer "
        "ppm; exact inclusion flagged) — the data-driven half of "
        "schema discovery over an undocumented lake, with a deliberate "
        "partial-overlap negative control that a saturating scorer "
        "would wrongly flag. Each edge is a distinct-project + LEFT "
        "SEMI probe: child side collapses to its distinct key set "
        "BEFORE the join (O(distinct values) state, never O(rows)); "
        "parent sides here are dimension-sized and broadcast. "
        "Complements xv01's declared-constraint audit (this DISCOVERS "
        "what xv01 then enforces)."
    ),
    tags=("quality", "profiling", "discovery"),
)
def xs05(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = None
    for child, ccol, parent, pcol in _FK_CANDIDATES:
        c = (
            load_table(spark, sf_dir, child)
            .select(F.col(ccol).alias("v"))
            .where(F.col("v").isNotNull())
            .distinct()
        )
        p = load_table(spark, sf_dir, parent).select(F.col(pcol).alias("pv")).distinct()
        stats = (
            c.join(p, F.col("v") == F.col("pv"), "left")
            .agg(
                F.count(F.lit(1)).alias("n_child"),
                F.count("pv").alias("n_matched"),
            )
            .select(
                F.lit(f"{child}.{ccol}").alias("child"),
                F.lit(f"{parent}.{pcol}").alias("parent"),
                "n_child",
                "n_matched",
            )
        )
        out = stats if out is None else out.unionByName(stats)
    return out.select(
        "child",
        "parent",
        "n_child",
        "n_matched",
        F.expr("CAST((n_matched * 1000000) DIV n_child AS BIGINT)").alias("containment_ppm"),
        (F.col("n_matched") == F.col("n_child")).alias("is_inclusion"),
    ).orderBy("child", "parent")


# ---------------------------------------------------------------------------
# xd03 — incremental SCD2 MERGE (close open intervals + append versions)
# ---------------------------------------------------------------------------

#: History/incoming split day (relative to the 2024-01-01 fixture epoch):
#: purchases before day 20 form the standing SCD2 table, the rest arrive
#: as the change batch. The split is BY TIME, so cross-boundary ordering
#: ties are impossible and the merged table must equal a full rebuild.
_XD03_SPLIT_DAY = 20
_XD03_DAY0 = 19723  # 2024-01-01 in epoch days


@register(
    "xd03_scd2_merge",
    oracle="""
    SELECT user_id,
           ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS version,
           event_id,
           CAST(epoch_us(ts) AS BIGINT) AS valid_from_us,
           CAST(LEAD(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS BIGINT)
             AS valid_to_us,
           CAST(round(value * 100) AS BIGINT) AS value_cents
    FROM events
    WHERE event_type = 'purchase'
    """,
    doc=(
        "Incremental SCD2 MERGE: a standing history table (purchases "
        "before day 20, xd01's interval form) receives a change batch "
        "— each affected key's OPEN interval closes at the key's first "
        "incoming change, incoming changes append as new versions "
        "numbered past the key's previous max. The oracle is the FULL "
        "REBUILD over all history: incremental maintenance must be "
        "indistinguishable from recomputation (the lakehouse SCD2 "
        "MERGE INTO contract; xz03's IVM delta is the same idea for "
        "join views). Merge cost is O(affected keys + batch): the "
        "open-interval close is a broadcast-joined update of one row "
        "per changed key, never a history rewrite; version offsets "
        "come from a per-key max aggregated on the same exchange."
    ),
    tags=("maintenance", "scd2", "cdc"),
)
def xd03(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").where(F.col("event_type") == "purchase")
    us = F.unix_micros(F.col("ts"))
    day = F.expr("unix_micros(ts) DIV 86400000000") - F.lit(_XD03_DAY0)
    base_ev = ev.where(day < _XD03_SPLIT_DAY)
    inc_ev = ev.where(day >= _XD03_SPLIT_DAY)

    w = Window.partitionBy("user_id").orderBy(us.asc(), F.col("event_id").asc())
    base = base_ev.select(
        "user_id",
        F.row_number().over(w).alias("version"),
        "event_id",
        us.alias("valid_from_us"),
        F.lead(us).over(w).alias("valid_to_us"),
        F.round(F.col("value") * 100).cast("bigint").alias("value_cents"),
    )
    inc = inc_ev.select(
        "user_id",
        F.row_number().over(w).alias("iver"),
        "event_id",
        us.alias("valid_from_us"),
        F.lead(us).over(w).alias("valid_to_us"),
        F.round(F.col("value") * 100).cast("bigint").alias("value_cents"),
    )
    # per-key close point (first incoming change) and version offset
    firsts = inc.where(F.col("iver") == 1).select(
        "user_id", F.col("valid_from_us").alias("close_us")
    )
    offsets = base.groupBy("user_id").agg(F.max("version").alias("voff"))
    closed = (
        base.join(F.broadcast(firsts), "user_id", "left")
        .withColumn(
            "valid_to_us",
            F.when(
                F.col("valid_to_us").isNull() & F.col("close_us").isNotNull(),
                F.col("close_us"),
            ).otherwise(F.col("valid_to_us")),
        )
        .drop("close_us")
    )
    appended = (
        inc.join(F.broadcast(offsets), "user_id", "left")
        .select(
            "user_id",
            (F.col("iver") + F.coalesce(F.col("voff"), F.lit(0))).alias("version"),
            "event_id",
            "valid_from_us",
            "valid_to_us",
            "value_cents",
        )
    )
    return closed.select(
        "user_id", "version", "event_id", "valid_from_us", "valid_to_us", "value_cents"
    ).unionByName(appended)


# ---------------------------------------------------------------------------
# xv06 — XML interchange round trip (Spark 4 built-in XML source)
# ---------------------------------------------------------------------------


@register(
    "xv06_xml_roundtrip",
    oracle="""
    SELECT n.n_name, COUNT(*) AS n_suppliers,
           CAST(SUM(CAST(s.s_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS total_bal
    FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
    GROUP BY n.n_name ORDER BY n.n_name
    """,
    doc=(
        "XML interchange (Spark 4's built-in XML source — the "
        "spark-xml lineage, no external package): the supplier "
        "dimension rewritten as rowTag'd XML, read back with an "
        "explicit schema, joined to nation, aggregated; the oracle "
        "reads the ORIGINAL parquet, so the round trip proves value-"
        "faithful transport through the text format (xv05's ORC "
        "check, one format over). B2B/legacy-feed ingestion is where "
        "XML still lives; per-row parse cost makes it a landing "
        "format only — the first hop is always a columnar rewrite, "
        "which is exactly what this query's plan does."
    ),
    tags=("source", "format", "interchange"),
)
def xv06(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib
    import os

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:12]
    path = _pid_tmp_path("spark_graft_xv06", tag)
    sup = load_table(spark, sf_dir, "supplier")
    sup.write.mode("overwrite").format("xml").option("rootTag", "suppliers").option(
        "rowTag", "supplier"
    ).save(path)
    back = (
        spark.read.format("xml")
        .option("rowTag", "supplier")
        .schema(sup.schema)
        .load(path)
    )
    nation = load_table(spark, sf_dir, "nation")
    return (
        back.join(F.broadcast(nation), back["s_nationkey"] == nation["n_nationkey"])
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            F.sum(F.col("s_acctbal").cast("decimal(12,2)")).cast("double").alias("total_bal"),
        )
        .orderBy("n_name")
    )


# ---------------------------------------------------------------------------
# xs07 — distinct l-diversity audit (k-anonymity's sensitive-value check)
# ---------------------------------------------------------------------------


@register(
    "xs07_l_diversity_audit",
    oracle="""
    WITH cells AS (
      SELECT c_mktsegment, c_nationkey,
             COUNT(*) AS k,
             COUNT(DISTINCT CAST(round(c_acctbal) AS BIGINT) // 1000) AS l_distinct
      FROM customer
      GROUP BY c_mktsegment, c_nationkey
    )
    SELECT COUNT(*) AS n_cells,
           CAST(MIN(k) AS BIGINT) AS k_anonymity,
           CAST(MIN(l_distinct) AS BIGINT) AS l_diversity,
           CAST(SUM(CASE WHEN l_distinct < 3 THEN k ELSE 0 END) AS BIGINT)
             AS n_rows_in_low_diversity_cells
    FROM cells
    """,
    doc=(
        "Distinct l-diversity audit: for every quasi-identifier cell "
        "(segment x nation), the count of DISTINCT sensitive-attribute "
        "values (account-balance band) — k-anonymity (xs02) bounds "
        "re-identification, l-diversity bounds attribute DISCLOSURE "
        "when an attacker knows the cell (a k-anonymous cell whose "
        "members all share one sensitive value still leaks it). "
        "Reports the dataset's k, its distinct-l, and how many rows "
        "sit in cells below l=3 — the release gate number. One "
        "grouped aggregate with map-side partials; the sensitive "
        "banding is an integer floor division."
    ),
    tags=("quality", "privacy", "audit"),
)
def xs07(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    cells = c.groupBy("c_mktsegment", "c_nationkey").agg(
        F.count(F.lit(1)).alias("k"),
        F.count_distinct(
            F.expr("CAST(round(c_acctbal) AS BIGINT) DIV 1000")
        ).alias("l_distinct"),
    )
    return cells.agg(
        F.count(F.lit(1)).alias("n_cells"),
        F.min("k").cast("bigint").alias("k_anonymity"),
        F.min("l_distinct").cast("bigint").alias("l_diversity"),
        F.sum(F.expr("CASE WHEN l_distinct < 3 THEN k ELSE 0 END"))
        .cast("bigint")
        .alias("n_rows_in_low_diversity_cells"),
    )


# ---------------------------------------------------------------------------
# xz21 — order-independent table checksum (replication verification)
# ---------------------------------------------------------------------------


@register(
    "xz21_table_checksum",
    oracle="""
    WITH e AS (
      SELECT ('0x' || substr(md5(
               COALESCE(CAST(event_id AS VARCHAR), '~null~') || ':'
               || COALESCE(CAST(user_id AS VARCHAR), '~null~') || ':'
               || COALESCE(CAST(CAST(ROUND(value * 100, 0) AS BIGINT) AS VARCHAR), '~null~')
               || ':' || COALESCE(event_type, '~null~')
             ), 1, 8))::UBIGINT AS h
      FROM events
    ),
    o AS (
      SELECT ('0x' || substr(md5(
               COALESCE(CAST(o_orderkey AS VARCHAR), '~null~') || ':'
               || COALESCE(CAST(o_custkey AS VARCHAR), '~null~') || ':'
               || COALESCE(CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT) AS VARCHAR), '~null~')
               || ':' || COALESCE(o_orderstatus, '~null~')
             ), 1, 8))::UBIGINT AS h
      FROM orders
    )
    SELECT 'events' AS tbl, COUNT(*) AS n_rows, CAST(SUM(h::HUGEINT) AS VARCHAR) AS checksum FROM e
    UNION ALL
    SELECT 'orders', COUNT(*), CAST(SUM(h::HUGEINT) AS VARCHAR) FROM o
    ORDER BY tbl
    """,
    doc=(
        "Order-independent table checksum: per row, a canonical "
        "rendering of the key + integer-normalized measures is md5-"
        "hashed to a uint32 and SUMMED — addition is commutative, so "
        "the fingerprint is identical for any row order, partition "
        "layout, or engine, and a single corrupted/missing/extra row "
        "changes it with probability ~1-2^-32. The replication/"
        "migration verification primitive: compare one (n_rows, "
        "checksum) pair per table instead of shipping either side "
        "(xw02's row-level diff is the drill-down when checksums "
        "disagree). Map-combined sum, constant-size output; floats "
        "enter only through the documented cents normalization — "
        "raw float rendering is engine-dependent and is exactly what "
        "a portable checksum must never include. The sum of uint32 "
        "chunks accumulates in DECIMAL(38,0)/HUGEINT (rendered as a "
        "digit string): an int64 accumulator passes 2^63 at ~2.1e9 "
        "rows — Spark would wrap silently while the oracle's down-"
        "cast errors, the exact silent-divergence class the width "
        "audit exists to kill, and 2e9 rows is ordinary at 100 TB."
    ),
    tags=("quality", "checksum", "replication"),
)
def xz21(spark: SparkSession, sf_dir: str) -> DataFrame:
    def chk(df: DataFrame, parts: list, tbl: str) -> DataFrame:
        # Explicit per-field NULL sentinel: concat_ws silently SKIPS null
        # parts (row still hashed, differently) while the oracle's '||'
        # propagates NULL (row silently dropped from the SUM) — the same
        # row must hash identically on both sides even when a field is
        # NULL, so both spell COALESCE(field, '~null~').
        safe = [F.coalesce(p, F.lit("~null~")) for p in parts]
        h = F.conv(
            F.substring(F.md5(F.concat_ws(":", *safe)), 1, 8), 16, 10
        ).cast("bigint")
        return df.agg(
            F.count(F.lit(1)).alias("n_rows"),
            # DECIMAL(38,0) accumulator: uint32 addends pass an int64
            # accumulator's 2^63 at ~2.1e9 rows (Spark wraps silently,
            # the oracle's HUGEINT is exact) — emit as a digit string.
            F.sum(h.cast("decimal(38,0)")).cast("string").alias("checksum"),
        ).select(F.lit(tbl).alias("tbl"), "n_rows", "checksum")

    ev = load_table(spark, sf_dir, "events")
    o = load_table(spark, sf_dir, "orders")
    e_chk = chk(
        ev,
        [
            F.col("event_id").cast("string"),
            F.col("user_id").cast("string"),
            F.round(F.col("value") * 100, 0).cast("bigint").cast("string"),
            F.col("event_type"),
        ],
        "events",
    )
    o_chk = chk(
        o,
        [
            F.col("o_orderkey").cast("string"),
            F.col("o_custkey").cast("string"),
            F.round(F.col("o_totalprice") * 100).cast("bigint").cast("string"),
            F.col("o_orderstatus"),
        ],
        "orders",
    )
    return e_chk.unionByName(o_chk).orderBy("tbl")
