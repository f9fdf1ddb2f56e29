"""Mergeable frequency sketches: count-min heavy-hitter estimation.

Companion family to the cardinality sketches (av11 KMV, xk02 HLL rollup
merge in ``operators/advanced.py``): where those answer "how many
DISTINCT keys", count-min answers "how often does THIS key occur"
without per-key state. The reference has no sketch surface at all
(SURVEY.md §2.4 stops at exact aggregation); at the 100 TB design point
frequency estimation over a key space too wide for an exact groupBy
(URLs, n-grams, user agents) is a standard curation primitive.

Cross-engine determinism: the sketch's hash functions are the md5-hex
idiom shared with ``functions/hashing.py`` — ``uint32(md5(j || ':' ||
key)) % width`` — identical in Spark and DuckDB, so the full sketch
(and therefore every estimate) is bit-reproducible across engines,
retries, and layouts. No engine-private hash (xxhash64) anywhere.

Scale notes (100 TB):

* The sketch is ``DEPTH x WIDTH`` counters REGARDLESS of corpus size or
  key cardinality: the explode is a map-side narrow op and the groupBy
  partial-aggregates into at most D*W cells per task before ONE shuffle
  of O(D*W * n_tasks) pre-combined rows — never O(rows).
* Counters are additive: sketches from different partitions, days, or
  streams merge by cell-wise sum (the groupBy IS the merge), which is
  what makes this the streaming/incremental frequency primitive.
* Estimation joins candidates against the (tiny, broadcast) sketch and
  takes the min across depths. The candidate set here is the observed
  distinct keys (enumerable for this column); at n-gram scale the
  candidates come from a sampled pre-pass, the sketch itself never
  changes shape.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spotify_tags_etl_spark.plans.registry import register
from spotify_tags_etl_spark.sources.tpch import load_table

#: Count-min geometry: 4 independent hash rows x 256 buckets. Error
#: bound: overestimate <= e * N / WIDTH with prob 1 - e^-DEPTH; at the
#: fixture's N=10k events that is a tight enough bound that the top-1
#: heavy hitter is unambiguous, while the shape (explode-D, groupBy,
#: min-across-depths) is exactly the 100 TB one.
CMS_DEPTH = 4
CMS_WIDTH = 256


def _bucket_spark(j: F.Column, key: F.Column) -> F.Column:
    """uint32(md5(j || ':' || key)) % CMS_WIDTH — engine-portable."""
    h = F.md5(F.concat_ws(":", j.cast("string"), key))
    return (F.conv(F.substring(h, 1, 8), 16, 10).cast("bigint") % F.lit(CMS_WIDTH)).alias(
        "bucket"
    )


def _bucket_sql(j: str, key: str) -> str:
    return (
        f"CAST(('0x' || substr(md5(CAST({j} AS VARCHAR) || ':' || {key}), 1, 8))::UBIGINT "
        f"% {CMS_WIDTH} AS BIGINT)"
    )


def cms_sketch(df: DataFrame, key_col: str) -> DataFrame:
    """Build the count-min table: (j, bucket, c) with c additive."""
    j = F.explode(F.array(*[F.lit(d) for d in range(CMS_DEPTH)])).alias("j")
    incr = df.select(F.col(key_col).alias("k")).select("k", j)
    return (
        incr.select("j", _bucket_spark(F.col("j"), F.col("k")))
        .groupBy("j", "bucket")
        .agg(F.count("*").alias("c"))
    )


def cms_estimate(sketch: DataFrame, candidates: DataFrame, key_col: str) -> DataFrame:
    """Point-estimate each candidate key: min over depths of its cell."""
    j = F.explode(F.array(*[F.lit(d) for d in range(CMS_DEPTH)])).alias("j")
    kb = candidates.select(F.col(key_col).alias("k")).select("k", j)
    kb = kb.select("k", "j", _bucket_spark(F.col("j"), F.col("k")))
    return (
        kb.join(F.broadcast(sketch), ["j", "bucket"])
        .groupBy("k")
        .agg(F.min("c").alias("est_count"))
    )


#: Shared by xz06 (batch) and xw06 (streaming merge) — the counter table
#: is additive, so the incrementally-merged sketch is bit-identical to
#: the batch one and both check against the SAME oracle.
CMS_ORACLE = f"""
    WITH inc AS (
      SELECT j.j,
             {_bucket_sql('j.j', 'e.event_type')} AS bucket
      FROM events e CROSS JOIN (SELECT unnest(range({CMS_DEPTH})) AS j) j
    ),
    sketch AS (SELECT j, bucket, COUNT(*) AS c FROM inc GROUP BY j, bucket),
    keys AS (SELECT event_type, COUNT(*) AS exact_count FROM events GROUP BY event_type),
    kb AS (
      SELECT k.event_type, k.exact_count, j.j,
             {_bucket_sql('j.j', 'k.event_type')} AS bucket
      FROM keys k CROSS JOIN (SELECT unnest(range({CMS_DEPTH})) AS j) j
    )
    SELECT kb.event_type,
           MIN(s.c) AS est_count,
           kb.exact_count,
           MIN(s.c) - kb.exact_count AS overcount
    FROM kb JOIN sketch s USING (j, bucket)
    GROUP BY kb.event_type, kb.exact_count
    ORDER BY kb.event_type
    """


def cms_report(spark: SparkSession, sf_dir: str, sketch: DataFrame) -> DataFrame:
    """Estimate every observed key from ``sketch`` next to its exact
    count (shared tail of xz06/xw06)."""
    ev = load_table(spark, sf_dir, "events")
    keys = ev.groupBy("event_type").agg(F.count("*").alias("exact_count"))
    est = cms_estimate(sketch, keys, "event_type")
    return (
        keys.join(est, keys["event_type"] == est["k"])
        .select(
            "event_type",
            "est_count",
            "exact_count",
            (F.col("est_count") - F.col("exact_count")).alias("overcount"),
        )
        .orderBy("event_type")
    )


@register(
    "xz06_cms_heavy_hitters",
    oracle=CMS_ORACLE,
    doc=(
        "Count-min sketch frequency estimation over event_type: build a "
        f"{CMS_DEPTH}x{CMS_WIDTH} counter table with portable md5 hash "
        "rows, then point-estimate every observed key as the min across "
        "depths, reporting the estimate next to the exact count (the "
        "CMS guarantee est >= exact is part of the checked output via "
        "the overcount column). The sketch build partial-aggregates "
        "into <= D*W cells per task before one tiny shuffle; counters "
        "are additive so per-partition/per-day sketches merge by "
        "cell-wise sum — the streaming-friendly frequency primitive "
        "(cardinality cousins: av11 KMV, xk02 mergeable HLL)."
    ),
    tags=("sketch", "frequency", "llm-pipeline"),
)
def xz06(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return cms_report(spark, sf_dir, cms_sketch(ev, "event_type"))


# ---------------------------------------------------------------------------
# xz11 / xz12 — the remaining Python-UDF surfaces, held to the same gate
# ---------------------------------------------------------------------------
#
# The engine's standing rule is JVM-side expressions everywhere the
# semantics allow (PLANS.md "Python boundary"); these two queries exist to
# prove the OTHER Arrow lanes — a GROUPED_AGG pandas UDAF and a GROUPED_MAP
# applyInPandas — run under the exact same DuckDB hash gate as the built-in
# paths, not to bless Python for hot paths. Each docstring names the
# built-in form that replaces it in production. Semantics are chosen
# integer-exact (medians of ints interpolate to binary-exact halves), so
# the cross-engine comparison is as strict as everywhere else.


@register(
    "xz11_grouped_agg_udaf_mad",
    oracle="""
    WITH c AS (
      SELECT event_type, CAST(ROUND(value * 100, 0) AS BIGINT) AS cents FROM events
    ),
    med AS (SELECT event_type, quantile_cont(cents, 0.5) AS m FROM c GROUP BY event_type)
    SELECT c.event_type,
           quantile_cont(ABS(c.cents - med.m), 0.5) AS mad_cents
    FROM c JOIN med USING (event_type)
    GROUP BY c.event_type ORDER BY c.event_type
    """,
    doc=(
        "GROUPED_AGG pandas UDAF (Arrow-batched numpy median-absolute-"
        "deviation per event type) checked against the relational "
        "median-of-deviations oracle — proving the Arrow aggregation "
        "lane produces gate-identical numbers. Production form is the "
        "built-in percentile pipeline (xo01); this lane exists for "
        "aggregations that genuinely need numpy/scipy kernels. Plan: "
        "ObjectHashAggregate with partial merge — same two-level "
        "shape as a JVM aggregate, state = the group's value buffer."
    ),
    tags=("udf", "grouped-agg", "statistics"),
)
def xz11(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def mad(cents: pd.Series) -> float:
        a = cents.to_numpy(dtype="int64")
        return float(np.median(np.abs(a - np.median(a))))

    ev = load_table(spark, sf_dir, "events")
    return (
        ev.withColumn("cents", F.round(F.col("value") * 100, 0).cast("bigint"))
        .groupBy("event_type")
        .agg(mad("cents").alias("mad_cents"))
        .orderBy("event_type")
    )


@register(
    "xz12_grouped_map_demean",
    oracle="""
    WITH c AS (
      SELECT user_id, event_id, CAST(ROUND(value * 100, 0) AS BIGINT) AS cents FROM events
    ),
    med AS (SELECT user_id, quantile_cont(cents, 0.5) AS m FROM c GROUP BY user_id)
    SELECT c.event_id, c.user_id,
           CAST(2 * c.cents - CAST(2 * med.m AS BIGINT) AS BIGINT) AS dev2_cents
    FROM c JOIN med USING (user_id)
    ORDER BY c.event_id
    """,
    doc=(
        "GROUPED_MAP applyInPandas (per-user numpy median-centering, "
        "emitted as 2*(x - median) so every output is an exact BIGINT "
        "— the interpolated median's half survives the doubling) "
        "against the window-join relational oracle. The lane for "
        "per-group transforms needing a Python kernel (model scoring, "
        "signal processing); relational equivalents stay the default "
        "(a groupBy median + broadcast join back, as the oracle "
        "shows). One shuffle on the group key; each group's rows "
        "materialize as ONE Arrow batch — the documented constraint "
        "that group size must fit an executor's batch memory."
    ),
    tags=("udf", "grouped-map", "statistics"),
)
def xz12(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd

    def demean(pdf: pd.DataFrame) -> pd.DataFrame:
        a = pdf["cents"].to_numpy(dtype="int64")
        m2 = int(round(2 * float(np.median(a))))
        return pd.DataFrame(
            {
                "event_id": pdf["event_id"],
                "user_id": pdf["user_id"],
                "dev2_cents": 2 * pdf["cents"] - m2,
            }
        )

    ev = load_table(spark, sf_dir, "events")
    return (
        ev.withColumn("cents", F.round(F.col("value") * 100, 0).cast("bigint"))
        .select("event_id", "user_id", "cents")
        .groupBy("user_id")
        .applyInPandas(demean, "event_id long, user_id long, dev2_cents long")
        .orderBy("event_id")
    )


@register(
    "xz15_map_in_arrow_partials",
    oracle="""
    SELECT event_type,
           CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS sum_cents,
           COUNT(*) AS n
    FROM events GROUP BY event_type ORDER BY event_type
    """,
    doc=(
        "mapInArrow partial aggregation: each Arrow RecordBatch is "
        "reduced to per-key (sum, count) partials with pyarrow.compute "
        "— zero pandas materialization, the lowest-overhead Python "
        "lane — then a JVM groupBy sums the partials. Integer partial "
        "sums are associative, so the two-level result equals the "
        "plain relational aggregate (the oracle) exactly on any batch "
        "layout: the hand-built map-side-combine shape, demonstrating "
        "the lane a binary-heavy kernel (codec, tokenizer) would use "
        "when even Arrow→pandas conversion is too much. Per-task "
        "output is O(keys-in-task); the one shuffle carries partials."
    ),
    tags=("udf", "arrow", "aggregate"),
)
def xz15(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pyarrow as pa

    def partials(batches):
        import pyarrow.compute as pc  # noqa: F401 — group_by pulls it in

        for b in batches:
            t = pa.Table.from_batches([b])
            g = t.group_by("event_type").aggregate([("cents", "sum"), ("cents", "count")])
            out = pa.table(
                {
                    "event_type": g.column("event_type"),
                    "s": g.column("cents_sum").cast(pa.int64()),
                    "n": g.column("cents_count").cast(pa.int64()),
                }
            )
            yield from out.to_batches()

    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.round(F.col("value") * 100, 0).cast("bigint").alias("cents")
    )
    part = ev.mapInArrow(partials, "event_type string, s long, n long")
    return (
        part.groupBy("event_type")
        .agg(F.sum("s").cast("bigint").alias("sum_cents"), F.sum("n").cast("bigint").alias("n"))
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# xz19 — sample-based distinct-count estimation (Chao1, exact rational)
# ---------------------------------------------------------------------------

#: Deterministic sample rate for the NDV estimator (md5-bucket, per
#: functions/hashing.py — never rand()).
NDV_SAMPLE_RATE = 0.10


@register(
    "xz19_chao_ndv_estimate",
    oracle=f"""
    WITH s AS (
      SELECT event_id, user_id FROM events
      WHERE {{frac}} < {NDV_SAMPLE_RATE}
    ),
    f AS (
      SELECT user_id, COUNT(*) AS c FROM s GROUP BY user_id
    ),
    stats AS (
      SELECT COUNT(*) AS d_sample,
             CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
             CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2
      FROM f
    )
    SELECT d_sample, f1, f2,
           CAST(2 * d_sample * GREATEST(f2, 1) + f1 * f1 AS BIGINT) AS chao_num,
           CAST(2 * GREATEST(f2, 1) AS BIGINT) AS chao_den,
           (SELECT COUNT(DISTINCT user_id) FROM events) AS true_ndv
    FROM stats
    """.replace(
        "{frac}",
        "CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 8))::UBIGINT AS DOUBLE)"
        " / 4294967296.0",
    ),
    doc=(
        "Sample-based distinct-count (NDV) estimation — the optimizer-"
        "statistics primitive behind join-cardinality planning when a "
        "full count_distinct pass is too expensive: a deterministic "
        f"{int(NDV_SAMPLE_RATE * 100)}% md5-bucket row sample, "
        "frequency-of-frequency stats (f1 singletons, f2 doubletons), "
        "and the Chao1 lower-bound estimate D + f1²/(2·max(f2,1)) "
        "emitted as an EXACT integer numerator/denominator pair (one "
        "division nobody performs — the gate checks the rational, "
        "the consumer divides at display time), next to the true NDV "
        "verdict column. Sample is a scan-time narrow filter (no "
        "shuffle to sample); the estimator itself aggregates "
        "O(sampled distinct keys). Sketch-based cousins: av11 KMV, "
        "av14/xk02 HLL — this is the SAMPLING column of the NDV "
        "toolbox, the one that also yields frequency skew (f1/f2) "
        "for free."
    ),
    tags=("sketch", "statistics", "sampling"),
)
def xz19(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spotify_tags_etl_spark.functions.hashing import hash_frac

    ev = load_table(spark, sf_dir, "events")
    s = ev.where(hash_frac(F.col("event_id")) < NDV_SAMPLE_RATE)
    f = s.groupBy("user_id").agg(F.count(F.lit(1)).alias("c"))
    stats = f.agg(
        F.count(F.lit(1)).alias("d_sample"),
        F.sum(F.expr("CASE WHEN c = 1 THEN 1 ELSE 0 END")).alias("f1"),
        F.sum(F.expr("CASE WHEN c = 2 THEN 1 ELSE 0 END")).alias("f2"),
    )
    true_ndv = ev.agg(F.count_distinct("user_id").alias("true_ndv"))
    return stats.crossJoin(F.broadcast(true_ndv)).select(
        "d_sample",
        "f1",
        "f2",
        F.expr("CAST(2 * d_sample * GREATEST(f2, 1) + f1 * f1 AS BIGINT)").alias("chao_num"),
        F.expr("CAST(2 * GREATEST(f2, 1) AS BIGINT)").alias("chao_den"),
        "true_ndv",
    )


# ---------------------------------------------------------------------------
# yj01 — AMS-sketch join-size estimation (the optimizer's join predictor)
# ---------------------------------------------------------------------------

#: AMS (Alon-Matias-Szegedy) geometry: 5 independent sign-hash rows of
#: 128 counters. The row estimate Σ_j SA[j]·SB[j] is an unbiased
#: estimator of the true join size Σ_k cA(k)·cB(k); the median over the
#: 5 rows tames the variance. Everything — bucket, sign, counters,
#: estimate, median — is integer md5 math, so the ESTIMATE ITSELF is
#: engine-exact and hash-checked (no tolerance hedge needed, unlike the
#: float-path sketches av12/av14).
AMS_DEPTH = 5
AMS_WIDTH = 128


def _ams_bucket_spark(r: F.Column, key: F.Column) -> F.Column:
    h = F.md5(F.concat_ws(":", F.lit("b"), r.cast("string"), key.cast("string")))
    return (F.conv(F.substring(h, 1, 8), 16, 10).cast("bigint") % F.lit(AMS_WIDTH)).alias("bucket")


def _ams_sign_spark(r: F.Column, key: F.Column) -> F.Column:
    h = F.md5(F.concat_ws(":", F.lit("s"), r.cast("string"), key.cast("string")))
    return F.when(
        F.conv(F.substring(h, 1, 8), 16, 10).cast("bigint") % 2 == 1, F.lit(1)
    ).otherwise(F.lit(-1))


def _ams_bucket_sql(r: str, key: str) -> str:
    return (
        f"CAST(('0x' || substr(md5('b:' || CAST({r} AS VARCHAR) || ':' || CAST({key} AS VARCHAR)), 1, 8))::UBIGINT"
        f" % {AMS_WIDTH} AS BIGINT)"
    )


def _ams_sign_sql(r: str, key: str) -> str:
    return (
        f"CASE WHEN ('0x' || substr(md5('s:' || CAST({r} AS VARCHAR) || ':' || CAST({key} AS VARCHAR)), 1, 8))::UBIGINT"
        f" % 2 = 1 THEN 1 ELSE -1 END"
    )


def ams_sketch(df: DataFrame, key_col: str) -> DataFrame:
    """(r, bucket, v) with v = Σ_keys sign(r,k) * count(k) — additive and
    mergeable exactly like the CMS table above."""
    counts = df.groupBy(F.col(key_col).cast("bigint").alias("k")).agg(
        F.count(F.lit(1)).alias("c")
    )
    r = F.explode(F.array(*[F.lit(d) for d in range(AMS_DEPTH)])).alias("r")
    rows = counts.select("k", "c", r)
    return (
        rows.select(
            "r",
            _ams_bucket_spark(F.col("r"), F.col("k")),
            (_ams_sign_spark(F.col("r"), F.col("k")) * F.col("c")).alias("sv"),
        )
        .groupBy("r", "bucket")
        .agg(F.sum("sv").cast("bigint").alias("v"))
    )


@register(
    "yj01_ams_join_size",
    oracle=f"""
    WITH rr AS (SELECT unnest(range({AMS_DEPTH})) AS r),
    ca AS (SELECT user_id AS k, COUNT(*) AS c FROM events GROUP BY user_id),
    cb AS (SELECT o_custkey AS k, COUNT(*) AS c FROM orders GROUP BY o_custkey),
    sa AS (
      SELECT rr.r, {_ams_bucket_sql('rr.r', 'ca.k')} AS bucket,
             CAST(SUM({_ams_sign_sql('rr.r', 'ca.k')} * ca.c) AS BIGINT) AS v
      FROM ca CROSS JOIN rr GROUP BY 1, 2
    ),
    sb AS (
      SELECT rr.r, {_ams_bucket_sql('rr.r', 'cb.k')} AS bucket,
             CAST(SUM({_ams_sign_sql('rr.r', 'cb.k')} * cb.c) AS BIGINT) AS v
      FROM cb CROSS JOIN rr GROUP BY 1, 2
    ),
    per_row AS (
      SELECT sa.r, CAST(SUM(CAST(sa.v AS HUGEINT) * sb.v) AS BIGINT) AS est
      FROM sa JOIN sb ON sb.r = sa.r AND sb.bucket = sa.bucket
      GROUP BY sa.r
    ),
    exact AS (
      SELECT CAST(SUM(CAST(ca.c AS HUGEINT) * cb.c) AS BIGINT) AS exact_join_rows
      FROM ca JOIN cb ON cb.k = ca.k
    )
    SELECT exact.exact_join_rows,
           CAST(list_sort(list(per_row.est))[{AMS_DEPTH // 2 + 1}] AS BIGINT) AS ams_estimate,
           CAST((CAST(list_sort(list(per_row.est))[{AMS_DEPTH // 2 + 1}] AS BIGINT)
                 - exact.exact_join_rows) * 1000000 // exact.exact_join_rows AS BIGINT) AS err_ppm
    FROM per_row CROSS JOIN exact
    GROUP BY exact.exact_join_rows
    """,
    doc=(
        "AMS-sketch join-size estimation — the cost-based optimizer's "
        "join-cardinality predictor: |events ⋈ orders| on the user/"
        "customer key, estimated from two "
        f"{AMS_DEPTH}x{AMS_WIDTH} signed-count sketches as the median "
        "of per-row inner products Σ_j SA[j]·SB[j] (unbiased; median "
        "tames variance), next to the exactly-computed join size and "
        "the signed ppm error. The sketches are built in one pass per "
        "side, are ADDITIVE (partition partials merge by +, same as "
        "the CMS table), and never materialize the join. Because "
        "bucket, sign, and median are all integer md5 math, the "
        "estimate itself is engine-exact and value-hash-checked — no "
        "tolerance verdict needed. At 100 TB this is how you decide "
        "broadcast-vs-shuffle or pre-size shuffle partitions WITHOUT "
        "running the join; the exact column here is the gate's anchor "
        "and is exactly what the sketch spares you at scale."
    ),
    tags=("sketch", "join", "statistics"),
)
def yj01(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(F.col("user_id").alias("k"))
    orders = load_table(spark, sf_dir, "orders").select(F.col("o_custkey").alias("k"))
    sa = ams_sketch(ev, "k")
    sb = ams_sketch(orders, "k")
    # 128-bit inner products on both sides: a bucket's signed count |v|
    # is bounded only by the side's row count, so v_a*v_b (and a hot
    # key's c_a*c_b) can pass 2^63 PER ROW at fact scale — Spark wraps
    # silently, DuckDB errors on the int64 multiply. DECIMAL(38,0)
    # accumulate, cast the (join-size-scale) totals down at the end.
    per_row = (
        sa.alias("a")
        .join(sb.alias("b"), ["r", "bucket"])
        .groupBy("r")
        .agg(
            F.sum(F.col("a.v").cast("decimal(38,0)") * F.col("b.v"))
            .cast("bigint")
            .alias("est")
        )
    )
    ca = ev.groupBy("k").agg(F.count(F.lit(1)).alias("c"))
    cb = orders.groupBy("k").agg(F.count(F.lit(1)).alias("c"))
    exact = (
        ca.alias("ca")
        .join(cb.alias("cb"), "k")
        .agg(
            F.sum(F.col("ca.c").cast("decimal(38,0)") * F.col("cb.c"))
            .cast("bigint")
            .alias("exact_join_rows")
        )
    )
    mid = AMS_DEPTH // 2 + 1
    est = per_row.agg(
        F.expr(f"CAST(element_at(array_sort(collect_list(est)), {mid}) AS BIGINT)").alias(
            "ams_estimate"
        )
    )
    return (
        exact.crossJoin(F.broadcast(est))
        .select(
            "exact_join_rows",
            "ams_estimate",
            F.expr(
                "CAST((ams_estimate - exact_join_rows) * 1000000 DIV exact_join_rows AS BIGINT)"
            ).alias("err_ppm"),
        )
    )
