"""Similarity search over embedding columns (``array<float>``).

Two paths, both pure DataFrame algebra:

* brute-force cosine top-k — the exact baseline: query-set × corpus join,
  sequential-fold dot product (``functions/vecexpr.dot`` —
  bit-identical to DuckDB's ``list_dot_product``, both are in-order
  double folds), window top-k;
* hyperplane-LSH-bucketed ANN — the scale path: sign-signature buckets
  from fixed hyperplanes, candidates = same bucket, exact re-rank inside
  the bucket. Hyperplanes here are deterministic (taken from the corpus
  itself) so the oracle can reproduce them; in production they'd be a
  broadcast random matrix.

At 100 TB: brute force is O(|Q|·|C|) — viable only when one side
broadcasts; the LSH path shuffles each side once on the signature key,
turning all-pairs into per-bucket joins. Skewed buckets → AQE skew-join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from spotify_tags_etl_spark.functions.hashing import hash_frac, hash_frac_sql
from spotify_tags_etl_spark.functions.vecexpr import (
    cosine,
    dot,
    dot_sql,
    l2norm,
    oracle_dot_sql,
    sq_l2_int64_sql,
)
from spotify_tags_etl_spark.plans.registry import register
from spotify_tags_etl_spark.sources.tpch import load_table


def with_norm(df: DataFrame, vec: str = "embedding") -> DataFrame:
    return df.withColumn("_norm", l2norm(vec))


def cosine_topk(
    queries: DataFrame, corpus: DataFrame, k: int, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Exact top-k cosine neighbors per query (self-matches excluded)."""
    q = with_norm(queries.select(F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec")), "q_vec").withColumnRenamed("_norm", "q_norm")
    c = with_norm(corpus.select(F.col(id_col).alias("c_id"), F.col(vec_col).alias("c_vec")), "c_vec").withColumnRenamed("_norm", "c_norm")
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .where(F.col("q_id") != F.col("c_id"))
        .withColumn("cosine", cosine("q_vec", "c_vec", "q_norm", "c_norm"))
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("c_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("q_id", "c_id", "rank", F.round("cosine", 6).alias("cosine_r"))
    )


@register(
    "ss01_bruteforce_cosine_topk",
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS q_id, embedding AS q_vec,
             sqrt({oracle_dot_sql('embedding', 'embedding')}) AS q_norm
      FROM embeddings WHERE vec_id < 8
    ),
    c AS (
      SELECT vec_id AS c_id, embedding AS c_vec,
             sqrt({oracle_dot_sql('embedding', 'embedding')}) AS c_norm
      FROM embeddings
    ),
    scored AS (
      SELECT q_id, c_id,
             {oracle_dot_sql('q_vec', 'c_vec')} / NULLIF(q_norm * c_norm, 0) AS cosine
      FROM q, c WHERE q_id <> c_id
    )
    SELECT q_id, c_id, rank, ROUND(cosine, 6) AS cosine_r FROM (
      SELECT q_id, c_id, cosine,
             ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id) AS rank
      FROM scored
    ) WHERE rank <= 10
    """,
    doc=(
        "Brute-force cosine top-10 for 8 query vectors over the corpus: "
        "broadcast queries, in-order double-fold dot product, window top-k "
        "with id tiebreak."
    ),
    tags=("similarity", "ann"),
)
def ss01(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return cosine_topk(emb.where(F.col("vec_id") < 8), emb, k=10)


N_PLANES_PER_TABLE = 4  # 4-bit signature → 16 buckets per table
N_TABLES = 4  # OR-amplification: candidate if bucket-equal in ANY table
N_PLANES = N_PLANES_PER_TABLE * N_TABLES


def _signature(vec_col: str, table: int) -> F.Column:
    base = table * N_PLANES_PER_TABLE
    return F.concat(
        *[
            F.when(dot(vec_col, f"p{base + i}") >= 0, F.lit("1")).otherwise(F.lit("0"))
            for i in range(N_PLANES_PER_TABLE)
        ]
    )


def lsh_bucketed_ann(corpus: DataFrame, planes: DataFrame, k: int) -> DataFrame:
    """Multi-table hyperplane-LSH ANN: L sign-signature tables, candidates
    = bucket-equal in any table (OR-amplification lifts recall from ~p to
    1-(1-p)^L), exact cosine re-rank over the candidate union.

    ``planes``: one row with columns p0..p{L*b-1} (array<float> each) —
    broadcast; the corpus is scanned once, signatures for all tables AND
    the re-rank norm are computed in that pass and materialized, then one
    bucket self-join over the tiny (vec_id, t, bk) keys.

    The candidate relation is symmetric (bucket-equality), so each
    UNORDERED pair is joined and scored ONCE (``q_id < c_id``) and both
    orientations are emitted afterwards: IEEE multiplication commutes
    elementwise and the fold visits elements in the same order either
    way, so cosine(q, c) is bit-identical to cosine(c, q) — half the
    distinct shuffle, half the pair dot products. The signature+norm
    frame is eagerly materialized (localCheckpoint) because it is read
    three times (both self-join sides + the re-rank vector lookup);
    without it each read re-pays the L × b signature dot products and
    the parquet scan — at 100 TB this materialization is the written
    ANN index itself.
    """
    base = corpus.crossJoin(F.broadcast(planes)).select(
        "vec_id",
        "embedding",
        l2norm("embedding").alias("_norm"),
        *[_signature("embedding", t).alias(f"bucket_{t}") for t in range(N_TABLES)],
    )
    base = base.localCheckpoint(eager=True)
    banded = base.select(
        "vec_id",
        F.posexplode(F.array(*[F.col(f"bucket_{t}") for t in range(N_TABLES)])).alias(
            "t", "bk"
        ),
    )
    cand = (
        banded.select(F.col("vec_id").alias("q_id"), "t", "bk")
        .join(banded.select(F.col("vec_id").alias("c_id"), "t", "bk"), ["t", "bk"])
        .where(F.col("q_id") < F.col("c_id"))
        .select("q_id", "c_id")
        .distinct()
    )

    q = base.select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_vec"),
        F.col("_norm").alias("q_norm"),
    )
    c = base.select(
        F.col("vec_id").alias("c_id"),
        F.col("embedding").alias("c_vec"),
        F.col("_norm").alias("c_norm"),
    )
    half = (
        cand.join(q, "q_id")
        .join(c, "c_id")
        .select(
            "q_id",
            "c_id",
            cosine("q_vec", "c_vec", "q_norm", "c_norm").alias("cosine"),
        )
    )
    scored = half.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("q_id").alias("q_id"),
                    F.col("c_id").alias("c_id"),
                    F.col("cosine").alias("cosine"),
                ),
                F.struct(
                    F.col("c_id").alias("q_id"),
                    F.col("q_id").alias("c_id"),
                    F.col("cosine").alias("cosine"),
                ),
            )
        ).alias("e")
    ).select("e.q_id", "e.c_id", "e.cosine")
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("c_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("q_id", "c_id", "rank", F.round("cosine", 6).alias("cosine_r"))
    )


def _ss02_oracle() -> str:
    plane_sel = ",\n        ".join(
        f"(SELECT embedding FROM embeddings WHERE vec_id = {i}) AS p{i}" for i in range(N_PLANES)
    )
    def bucket(t: int) -> str:
        bits = ",\n               ".join(
            f"CASE WHEN {oracle_dot_sql('embedding', f'p{t * N_PLANES_PER_TABLE + i}')} >= 0"
            f" THEN '1' ELSE '0' END"
            for i in range(N_PLANES_PER_TABLE)
        )
        return f"concat(\n               {bits}) AS bucket_{t}"

    buckets = ",\n             ".join(bucket(t) for t in range(N_TABLES))
    cand_union = "\n      UNION ALL\n".join(
        f"      SELECT l.vec_id AS q_id, r.vec_id AS c_id FROM sig l"
        f" JOIN sig r ON l.bucket_{t} = r.bucket_{t} AND l.vec_id <> r.vec_id"
        for t in range(N_TABLES)
    )
    return f"""
    WITH planes AS (
      SELECT
        {plane_sel}
    ),
    sig AS (
      SELECT vec_id, embedding,
             {buckets}
      FROM embeddings, planes
    ),
    cand AS (
      SELECT DISTINCT q_id, c_id FROM (
{cand_union}
      )
    ),
    q AS (SELECT vec_id AS q_id, embedding AS q_vec,
                 sqrt({oracle_dot_sql('embedding', 'embedding')}) AS q_norm FROM embeddings),
    c AS (SELECT vec_id AS c_id, embedding AS c_vec,
                 sqrt({oracle_dot_sql('embedding', 'embedding')}) AS c_norm FROM embeddings),
    scored AS (
      SELECT cand.q_id, cand.c_id,
             {oracle_dot_sql('q_vec', 'c_vec')} / NULLIF(q_norm * c_norm, 0) AS cosine
      FROM cand JOIN q USING (q_id) JOIN c USING (c_id)
    )
    SELECT q_id, c_id, rank, ROUND(cosine, 6) AS cosine_r FROM (
      SELECT q_id, c_id, cosine,
             ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id) AS rank
      FROM scored
    ) WHERE rank <= 3
    """


@register(
    "ss02_lsh_ann",
    oracle=_ss02_oracle(),
    doc=(
        "Multi-table hyperplane-LSH ANN: 4 tables × 4-bit sign signatures "
        "(deterministic planes = corpus vectors 0-15 so the oracle "
        "reproduces them), candidate union across tables, exact re-rank, "
        "top-3 per query. OR-amplification: recall 1-(1-p)^4 per neighbor."
    ),
    tags=("similarity", "ann", "lsh"),
)
def ss02(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    planes = (
        emb.where(F.col("vec_id") < N_PLANES)
        .groupBy()
        .pivot("vec_id", list(range(N_PLANES)))
        .agg(F.first("embedding"))
        .withColumnsRenamed({str(i): f"p{i}" for i in range(N_PLANES)})
    )
    return lsh_bucketed_ann(emb, planes, k=3)


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — the partition-pruned scale path
# ---------------------------------------------------------------------------

N_CENTROIDS = 8  # deterministic "trained" centroids = corpus vectors 0..7
NPROBE = 2       # probe the 2 nearest inverted lists per query
IVF_K = 5


def ivf_assign(corpus: DataFrame, centroids: DataFrame) -> DataFrame:
    """Assign every corpus vector to its nearest centroid (max cosine,
    centroid-id tiebreak) — builds the inverted lists.

    One broadcast pass over the corpus, no shuffle for the assignment
    itself (the window is per-vec_id over K centroid rows produced by the
    broadcast join — AQE keeps it map-side-dominant). At 100 TB the
    assigned frame is written ``partitionBy(cent_id)`` so query-time
    probes do partition pruning: only nprobe/K of the data is read.
    """
    scored = (
        with_norm(corpus, "embedding")
        .crossJoin(F.broadcast(centroids))
        .withColumn("sim", cosine("embedding", "cent_vec", "_norm", "cent_norm"))
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("sim"), F.asc("cent_id"))
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select("vec_id", "embedding", "_norm", "cent_id")
    )


def ivf_ann(corpus: DataFrame, centroids: DataFrame, query_ids, k: int = IVF_K, nprobe: int = NPROBE) -> DataFrame:
    """IVF search: per query, rank centroids, take the ``nprobe`` nearest
    lists, exact cosine re-rank over just those lists' members."""
    assigned = ivf_assign(corpus, centroids)
    queries = with_norm(corpus.where(F.col("vec_id").isin(query_ids)), "embedding").select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"), F.col("_norm").alias("q_norm")
    )
    probe_scored = queries.crossJoin(F.broadcast(centroids)).withColumn(
        "sim", cosine("q_vec", "cent_vec", "q_norm", "cent_norm")
    )
    wp = Window.partitionBy("q_id").orderBy(F.desc("sim"), F.asc("cent_id"))
    probes = (
        probe_scored.withColumn("_rn", F.row_number().over(wp))
        .where(F.col("_rn") <= nprobe)
        .select("q_id", "q_vec", "q_norm", "cent_id")
    )
    # probes is |Q|*nprobe rows — always the broadcast side; the corpus-
    # sized assigned frame must never shuffle for this join (at 100 TB it
    # is the partitioned inverted-list layout being partition-pruned).
    cand = (
        assigned.join(F.broadcast(probes), "cent_id")
        .where(F.col("q_id") != F.col("vec_id"))
        .withColumn("cosine", cosine("q_vec", "embedding", "q_norm", "_norm"))
    )
    wk = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        cand.withColumn("rank", F.row_number().over(wk))
        .where(F.col("rank") <= k)
        .select("q_id", F.col("vec_id").alias("c_id"), "rank", F.round("cosine", 6).alias("cosine_r"))
    )


def _ivf_oracle() -> str:
    d = oracle_dot_sql
    return f"""
    WITH cent AS (
      SELECT vec_id AS cent_id, embedding AS cent_vec,
             sqrt({d('embedding', 'embedding')}) AS cent_norm
      FROM embeddings WHERE vec_id < {N_CENTROIDS}
    ),
    corpus AS (
      SELECT vec_id, embedding, sqrt({d('embedding', 'embedding')}) AS nrm
      FROM embeddings
    ),
    assigned AS (
      SELECT vec_id, embedding, nrm, cent_id FROM (
        SELECT c.vec_id, c.embedding, c.nrm, cent.cent_id,
               ROW_NUMBER() OVER (PARTITION BY c.vec_id
                 ORDER BY {d('c.embedding', 'cent.cent_vec')} / NULLIF(c.nrm * cent.cent_norm, 0) DESC,
                          cent.cent_id) AS rn
        FROM corpus c, cent
      ) WHERE rn = 1
    ),
    probes AS (
      SELECT q_id, q_vec, q_norm, cent_id FROM (
        SELECT c.vec_id AS q_id, c.embedding AS q_vec, c.nrm AS q_norm, cent.cent_id,
               ROW_NUMBER() OVER (PARTITION BY c.vec_id
                 ORDER BY {d('c.embedding', 'cent.cent_vec')} / NULLIF(c.nrm * cent.cent_norm, 0) DESC,
                          cent.cent_id) AS rn
        FROM corpus c, cent
        WHERE c.vec_id < 8
      ) WHERE rn <= {NPROBE}
    )
    SELECT q_id, c_id, rank, ROUND(cosine, 6) AS cosine_r FROM (
      SELECT p.q_id, a.vec_id AS c_id,
             {d('p.q_vec', 'a.embedding')} / NULLIF(p.q_norm * a.nrm, 0) AS cosine,
             ROW_NUMBER() OVER (PARTITION BY p.q_id
               ORDER BY {d('p.q_vec', 'a.embedding')} / NULLIF(p.q_norm * a.nrm, 0) DESC,
                        a.vec_id) AS rank
      FROM probes p JOIN assigned a USING (cent_id)
      WHERE p.q_id <> a.vec_id
    ) WHERE rank <= {IVF_K}
    """


@register(
    "vx01_ivf_ann",
    oracle=_ivf_oracle(),
    doc=(
        "IVF (inverted-file) ANN: corpus vectors assigned to their nearest "
        "of 8 deterministic centroids (= corpus vectors 0-7, so the oracle "
        "reproduces the 'training'), queries probe the 2 nearest lists and "
        "exact-re-rank only those members — top-5 per query. The 100 TB "
        "shape: inverted lists are a partitionBy(cent_id) layout, probing "
        "is partition pruning, so each query touches nprobe/K of the data; "
        "assignment is one broadcast pass. (vx = rotation-safe registry "
        "name for the ss vector-search family; see registry VERIFIED.)"
    ),
    tags=("similarity", "ann", "ivf"),
)
def vx01(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    centroids = (
        emb.where(F.col("vec_id") < N_CENTROIDS)
        .select(
            F.col("vec_id").alias("cent_id"),
            F.col("embedding").alias("cent_vec"),
        )
        .withColumn("cent_norm", l2norm("cent_vec"))
    )
    return ivf_ann(emb, centroids, query_ids=list(range(8)))


# ---------------------------------------------------------------------------
# Arrow-batched GEMM top-k — the vectorized Python scale path
# ---------------------------------------------------------------------------


def gemm_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k via per-partition matrix multiply: the small
    query matrix rides the task closure (the broadcast side), each Arrow
    batch of the corpus becomes one ``C @ Q.T`` GEMM, and a per-batch
    local top-k bounds the shuffle to O(k·|Q|) rows per batch — the
    map-side-combine analog for ANN. Semantics are identical to
    :func:`cosine_topk` (ss01); this is the documented fast path when
    the expression-level fold becomes compute-bound: one BLAS call per
    batch instead of |batch|·|Q| interpreted array folds.

    The ``queries.collect()`` is O(|Q|) plan-feeding (8 vectors here) —
    the same pattern as the broadcast centroid/plane frames, never the
    corpus side. Products of float32 inputs are exact in float64, so
    GEMM vs in-order-fold differences are confined to sub-ulp summation
    rounding — far below the 6-dp output rounding (and pinned equal to
    ss01 row-for-row in tests/test_llm_ops.py).
    """
    import numpy as np
    import pandas as pd

    q_rows = queries.select(id_col, vec_col).collect()
    q_ids = np.array([r[0] for r in q_rows], dtype=np.int64)
    Q = np.array([list(r[1]) for r in q_rows], dtype=np.float64)
    q_norms = np.sqrt((Q * Q).sum(axis=1))

    def score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            c_ids = pdf[id_col].to_numpy(dtype=np.int64)
            C = np.array([list(v) for v in pdf[vec_col]], dtype=np.float64)
            c_norms = np.sqrt((C * C).sum(axis=1))
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = (C @ Q.T) / np.outer(c_norms, q_norms)
            out_q, out_c, out_s = [], [], []
            for j in range(len(q_ids)):
                col = cos[:, j]
                valid = np.isfinite(col) & (c_ids != q_ids[j])
                idx = np.flatnonzero(valid)
                if not len(idx):
                    continue
                # local top-k in the GLOBAL tiebreak order (desc cosine,
                # asc c_id) so boundary ties survive into the final window
                order = idx[np.lexsort((c_ids[idx], -col[idx]))][:k]
                out_q.extend([int(q_ids[j])] * len(order))
                out_c.extend(c_ids[order].tolist())
                out_s.extend(col[order].tolist())
            yield pd.DataFrame({"q_id": out_q, "c_id": out_c, "cosine": out_s})

    scored = corpus.select(id_col, vec_col).mapInPandas(
        score, "q_id long, c_id long, cosine double"
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("c_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("q_id", "c_id", "rank", F.round("cosine", 6).alias("cosine_r"))
    )


@register(
    "ss03_gemm_topk",
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS q_id, embedding AS q_vec,
             sqrt({oracle_dot_sql('embedding', 'embedding')}) AS q_norm
      FROM embeddings WHERE vec_id < 8
    ),
    c AS (
      SELECT vec_id AS c_id, embedding AS c_vec,
             sqrt({oracle_dot_sql('embedding', 'embedding')}) AS c_norm
      FROM embeddings
    ),
    scored AS (
      SELECT q_id, c_id,
             {oracle_dot_sql('q_vec', 'c_vec')} / NULLIF(q_norm * c_norm, 0) AS cosine
      FROM q, c WHERE q_id <> c_id
    )
    SELECT q_id, c_id, rank, ROUND(cosine, 6) AS cosine_r FROM (
      SELECT q_id, c_id, cosine,
             ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id) AS rank
      FROM scored
    ) WHERE rank <= 10
    """,
    doc=(
        "ss01's exact brute-force cosine top-10, executed as Arrow-batched "
        "numpy GEMM with per-batch local top-k (mapInPandas): the "
        "vectorized Python scale path for when the corpus side is huge "
        "and the expression fold is compute-bound. Same oracle as ss01 — "
        "the two paths must agree row-for-row."
    ),
    tags=("similarity", "ann", "pandas_udf"),
)
def ss03(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return gemm_cosine_topk(emb.select("vec_id", "embedding"), emb.where(F.col("vec_id") < 8), k=10)


# ---------------------------------------------------------------------------
# int8 symmetric quantization — 4x memory/bandwidth for vector search
# ---------------------------------------------------------------------------


def quantize_int8(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Per-vector symmetric int8 quantization: ``q_i = floor(v_i*127/max|v|)``.

    ``floor`` (not round / int-cast) is deliberate: double→int CAST
    truncates in Spark but rounds in DuckDB, and round() ties differ by
    engine — floor is the one bit-identical choice. Zero vectors map to
    a NULL code array. Pure per-row array math: no shuffle, codegen'd,
    and at 100 TB the int8 codes are what ships to ANN re-rank stages
    (4x less scan + shuffle than float32)."""
    absmax = F.array_max(F.transform(F.col(vec_col), lambda x: F.abs(x.cast("double"))))
    codes = F.transform(
        F.col(vec_col),
        lambda x: F.floor(x.cast("double") * F.lit(127.0) / F.col("_absmax")).cast("int"),
    )
    return (
        df.withColumn("_absmax", absmax)
        .withColumn("codes", F.when(F.col("_absmax") > 0, codes))
        .withColumn("scale_r", F.round(F.col("_absmax") / F.lit(127.0), 9))
        .drop("_absmax")
    )


@register(
    "vx02_int8_quantize",
    oracle="""
    WITH m AS (
      SELECT vec_id, embedding,
             list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS absmax
      FROM embeddings
    )
    SELECT vec_id,
           CASE WHEN absmax > 0
                THEN array_to_string(list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 127.0 / absmax) AS INT)), ',')
           END AS codes,
           ROUND(absmax / 127.0, 9) AS scale_r
    FROM m
    """,
    doc=(
        "Symmetric int8 vector quantization (floor-based so Spark and the "
        "oracle agree bit-for-bit): per-vector scale + code array. The 4x "
        "compression step ahead of ANN scan/shuffle stages. The registered "
        "query serializes the code array to a ','-joined string (the "
        "driver's comparator cannot hash list cells — r3 vx02 `err`); the "
        "array-returning ``quantize_int8`` API is unchanged."
    ),
    tags=("similarity", "quantize"),
)
def vx02(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return quantize_int8(emb).select(
        "vec_id", F.array_join("codes", ",").alias("codes"), "scale_r"
    )


# ---------------------------------------------------------------------------
# vx03 — deterministic quantized k-means (semantic clustering)
# ---------------------------------------------------------------------------
#
# The training-data use case is data mixing / semantic dedup: cluster the
# corpus embeddings, then sample or cap per cluster. The catch with naive
# k-means on a cluster is REPRODUCIBILITY: float centroid sums depend on
# partition layout and task retry order, so two runs over the same 100 TB
# can emit different clusterings. Fix: quantize embeddings to integer
# units once (exact bigint sums in ANY aggregation order), keep centroids
# as exact sum/count ratios, and break assignment ties by cluster id —
# the whole algorithm is then a pure function of the data, bit-identical
# across layouts, retries, and engines (the DuckDB oracle reproduces it
# exactly; same trick as av13's integer sufficient statistics).

_KM_K = 8          #: seed count (vec_id < _KM_K are the seeds)
_KM_ITERS = 2      #: fixed unrolled Lloyd iterations (driver-side loop)
_KM_QSCALE = 1_000_000  #: quantization: round(x * 1e6) per component


def _km_vectors(emb: DataFrame) -> DataFrame:
    """vec_id, qv (exact bigint units), qvd (qv as double), dvv = qv·qv.

    dvv is double-EXACT: components ≤ 1e6 in magnitude, squares ≤ 1e12,
    64-dim sums ≤ 6.4e13 < 2^53."""
    return (
        emb.select(
            "vec_id",
            F.expr(
                f"transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * {_KM_QSCALE}) AS BIGINT))"
            ).alias("qv"),
        )
        .withColumn("qvd", F.expr("transform(qv, x -> CAST(x AS DOUBLE))"))
        .withColumn("dvv", dot("qvd", "qvd"))
    )


#: per-row argmin over the (sorted) centroid array: d2 computed once per
#: centroid via transform, then an in-order fold keeps the first strict
#: minimum — ties resolve to the LOWEST cluster id because the array is
#: sorted by cluster and `<` is strict. Matches the oracle's
#: ROW_NUMBER() OVER (ORDER BY d2, cluster) exactly.
_KM_ARGMIN = (
    "aggregate("
    " transform(cs, c -> named_struct("
    "   'd2', dvv - 2.0D * {dot} + c.dcc, 'cluster', c.cluster)),"
    " named_struct('d2', CAST('Infinity' AS DOUBLE), 'cluster', -1),"
    " (acc, s) -> IF(s.d2 < acc.d2, s, acc)"
    ")"
).format(dot=dot_sql("qvd", "c.cvec"))


def _km_assign(v: DataFrame, cents: DataFrame) -> DataFrame:
    """Nearest centroid per vector: d2 = (dvv - 2*qv·c) + c·c, ties to the
    lowest cluster id.

    The centroid set collapses to ONE broadcast row holding a
    cluster-sorted array, and the argmin is a per-row array fold — the
    assignment stage is fully narrow: NO exchange of corpus rows (the
    window/row_number formulation re-shuffles corpus×k rows on vec_id
    per iteration; plan test pins its absence)."""
    cs = cents.agg(F.array_sort(F.collect_list(F.struct("cluster", "cvec", "dcc"))).alias("cs"))
    return (
        v.crossJoin(F.broadcast(cs))
        .withColumn("_a", F.expr(_KM_ARGMIN))
        .select(
            "vec_id",
            "qv",
            "qvd",
            "dvv",
            F.col("_a.cluster").alias("cluster"),
            F.col("_a.d2").alias("d2"),
        )
    )


def _km_centroids(assigned: DataFrame) -> DataFrame:
    """Recompute centroids from exact integer sufficient statistics:
    posexplode → per-(cluster, dim) bigint sum + count (map-side combined;
    shuffle is O(k·dim) partials per task, NOT O(rows)), mean in double.
    Clusters that lost every member drop out, exactly as in the oracle."""
    ex = assigned.select("cluster", F.posexplode("qv").alias("pos", "x"))
    stats = ex.groupBy("cluster", "pos").agg(F.sum("x").alias("s"), F.count("*").alias("n"))
    return (
        stats.groupBy("cluster")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "s", "n"))).alias("arr"))
        .select("cluster", F.expr("transform(arr, t -> CAST(t.s AS DOUBLE) / t.n)").alias("cvec"))
        .withColumn("dcc", dot("cvec", "cvec"))
    )


def kmeans_assignments(emb: DataFrame, k: int = _KM_K, iters: int = _KM_ITERS) -> DataFrame:
    """Lloyd's k-means over ``embedding`` with deterministic seeds
    (vec_id < k) and exact integer accumulation; returns the UNSORTED
    raw assignment (vec_id, cluster, d2, …) for downstream composition —
    consumers that re-partition (e.g. cluster_cap's window) must not pay
    a dead global sort here."""
    v = _km_vectors(emb)
    cents = (
        v.where(F.col("vec_id") < k)
        .select(F.col("vec_id").cast("int").alias("cluster"), F.col("qvd").alias("cvec"), F.col("dvv").alias("dcc"))
    )
    for _ in range(iters):
        cents = _km_centroids(_km_assign(v, cents))
    return _km_assign(v, cents)


def kmeans_quantized(emb: DataFrame, k: int = _KM_K, iters: int = _KM_ITERS) -> DataFrame:
    """Presentation form of :func:`kmeans_assignments`: one row per
    vector — vec_id, cluster, d2_r (squared distance in original
    units) — sorted by vec_id."""
    return (
        kmeans_assignments(emb, k, iters)
        .select(
            "vec_id",
            "cluster",
            F.round(F.col("d2") / F.lit(1e12), 6).alias("d2_r"),
        )
        .orderBy("vec_id")
    )


def _km_oracle() -> str:
    """Unrolled CTE chain mirroring kmeans_quantized step for step."""
    q = _KM_QSCALE
    k = _KM_K
    dvc = oracle_dot_sql("v.qvd", "c.cvec")
    assign = (
        "SELECT vec_id, qv, qvd, dvv, cluster, d2 FROM ("
        "  SELECT v.vec_id, v.qv, v.qvd, v.dvv, c.cluster,"
        f"        v.dvv - 2.0 * {dvc} + c.dcc AS d2,"
        f"        ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY v.dvv - 2.0 * {dvc} + c.dcc, c.cluster) AS rn"
        "  FROM v, {cents} c"
        ") WHERE rn = 1"
    )
    recompute = (
        "SELECT cluster, list(CAST(s AS DOUBLE) / n ORDER BY pos) AS cvec FROM ("
        "  SELECT cluster, pos, SUM(x) AS s, COUNT(*) AS n FROM ("
        "    SELECT cluster, unnest(qv) AS x, unnest(range(len(qv))) AS pos FROM {a}"
        "  ) GROUP BY cluster, pos"
        ") GROUP BY cluster"
    )
    sql = f"""
    WITH v AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * {q}) AS BIGINT)) AS qv,
             CAST(list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * {q}) AS BIGINT)) AS DOUBLE[]) AS qvd,
             {oracle_dot_sql('list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * ' + str(q) + ') AS BIGINT))',
                             'list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * ' + str(q) + ') AS BIGINT))')} AS dvv
      FROM embeddings
    ),
    c0 AS (SELECT CAST(vec_id AS INT) AS cluster, qvd AS cvec, dvv AS dcc FROM v WHERE vec_id < {k}),
    a1 AS ({assign.format(cents='c0')}),
    c1 AS ({recompute.format(a='a1')}),
    c1d AS (SELECT cluster, cvec, list_dot_product(cvec, cvec) AS dcc FROM c1),
    a2 AS ({assign.format(cents='c1d')}),
    c2 AS ({recompute.format(a='a2')}),
    c2d AS (SELECT cluster, cvec, list_dot_product(cvec, cvec) AS dcc FROM c2),
    af AS ({assign.format(cents='c2d')})
    SELECT vec_id, cluster, ROUND(d2 / 1e12, 6) AS d2_r FROM af ORDER BY vec_id
    """
    return sql


@register(
    "vx03_kmeans_clusters",
    oracle=_km_oracle(),
    doc=(
        "Deterministic quantized k-means (Lloyd, fixed seeds + 2 "
        "iterations) over the embeddings corpus — the semantic-clustering "
        "primitive behind data mixing and cluster-capped sampling. "
        "Integer sufficient statistics make the result independent of "
        "partition layout / retry order; centroids broadcast; the only "
        "shuffles are the O(k*dim) partial-sum exchanges per iteration."
    ),
    tags=("similarity", "clustering", "training"),
)
def vx03(spark: SparkSession, sf_dir: str) -> DataFrame:
    return kmeans_quantized(load_table(spark, sf_dir, "embeddings"))


# ---------------------------------------------------------------------------
# vx04 — cluster-capped sampling (semantic dedup / diversity balancing)
# ---------------------------------------------------------------------------

_CAP_PER_CLUSTER = 40  #: keep at most this many vectors per semantic cluster


def cluster_cap(assignments: DataFrame, cap: int = _CAP_PER_CLUSTER) -> DataFrame:
    """Cap each semantic cluster at ``cap`` members, chosen by key-hash
    rank (deterministic, layout-independent — no rand()). This is the
    standard semantic-dedup / diversity-balancing step after clustering:
    over-represented modes get down-sampled, rare modes keep everything.

    Scale: one window shuffle keyed by cluster; skewed giant clusters are
    exactly the ones being capped, and AQE splits their reducers."""
    frac = hash_frac(F.col("vec_id"))
    w = Window.partitionBy("cluster").orderBy(frac.asc(), F.col("vec_id").asc())
    return (
        assignments.withColumn("keep_rank", F.row_number().over(w))
        .where(F.col("keep_rank") <= cap)
        .select("vec_id", "cluster", "keep_rank")
        .orderBy("vec_id")
    )


@register(
    "vx04_cluster_capped_sample",
    oracle=f"""
    WITH km AS ({_km_oracle()})
    SELECT vec_id, cluster, keep_rank FROM (
      SELECT vec_id, cluster,
             ROW_NUMBER() OVER (
               PARTITION BY cluster
               ORDER BY {hash_frac_sql('vec_id')},
                        vec_id
             ) AS keep_rank
      FROM km
    ) WHERE keep_rank <= {_CAP_PER_CLUSTER}
    ORDER BY vec_id
    """,
    doc=(
        "Semantic dedup by cluster capping: vx03's k-means assignment, "
        "then keep at most N vectors per cluster by deterministic "
        "key-hash rank. Down-samples over-represented semantic modes "
        "while rare modes keep every member — the diversity-balancing "
        "pass of a training-data pipeline."
    ),
    tags=("similarity", "clustering", "training", "sampling"),
)
def vx04(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cluster_cap(kmeans_assignments(load_table(spark, sf_dir, "embeddings")))


# ---------------------------------------------------------------------------
# xe01 — product quantization (PQ codes + exact quantization error)
# ---------------------------------------------------------------------------

_PQ_K = 16          #: codewords per subspace (= corpus vectors 0..15's halves)
_PQ_QSCALE = 1_000_000  #: integer units: round(x * 1e6) (vx03's rationale)


@register(
    "xe01_product_quantize",
    oracle=f"""
    WITH q AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(round(CAST(x AS DOUBLE) * {_PQ_QSCALE}) AS BIGINT)) AS qv
      FROM embeddings
    ),
    p AS (
      SELECT vec_id,
             qv[1 : len(qv) // 2] AS q0,
             qv[len(qv) // 2 + 1 : len(qv)] AS q1
      FROM q
    ),
    cb AS (SELECT vec_id AS cw_id, q0 AS c0, q1 AS c1 FROM p WHERE vec_id < {_PQ_K}),
    d AS (
      SELECT p.vec_id, cb.cw_id,
             CAST(list_sum(list_transform(range(1, len(p.q0) + 1),
               i -> (p.q0[i] - cb.c0[i]) * (p.q0[i] - cb.c0[i]))) AS BIGINT) AS d0,
             CAST(list_sum(list_transform(range(1, len(p.q1) + 1),
               i -> (p.q1[i] - cb.c1[i]) * (p.q1[i] - cb.c1[i]))) AS BIGINT) AS d1
      FROM p CROSS JOIN cb
    ),
    a0 AS (SELECT vec_id, cw_id AS code0, d0 FROM
           (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d0, cw_id) rn FROM d)
           WHERE rn = 1),
    a1 AS (SELECT vec_id, cw_id AS code1, d1 FROM
           (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d1, cw_id) rn FROM d)
           WHERE rn = 1)
    SELECT a0.vec_id, a0.code0, a1.code1, a0.d0 + a1.d1 AS qerr
    FROM a0 JOIN a1 USING (vec_id)
    """,
    doc=(
        "Product quantization: the vector splits into 2 subspaces, each "
        "assigned its nearest of 16 deterministic codewords (corpus "
        "vectors 0-15's halves, the IVF-centroid trick so the oracle "
        "reproduces 'training'); output is the 2 codes + exact integer "
        "quantization error. Distances are exact bigint sums over "
        "1e6-quantized components (layout/retry/engine invariant — vx03's "
        "rationale), and the per-subspace argmin is an array_min over a "
        "(distance, id) struct fold: the codebook collapses to ONE "
        "broadcast row, assignment is fully narrow — zero corpus "
        "exchanges, the same plan discipline as k-means. PQ is the "
        "8x-compression step ahead of ANN shuffles (int8 is vx02's 4x)."
    ),
    tags=("similarity", "quantize", "pq"),
)
def xe01(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    base = (
        emb.select(
            "vec_id",
            F.expr(
                f"transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * {_PQ_QSCALE}) AS BIGINT))"
            ).alias("qv"),
        )
        .withColumn("q0", F.expr("slice(qv, 1, size(qv) DIV 2)"))
        .withColumn("q1", F.expr("slice(qv, size(qv) DIV 2 + 1, size(qv) - size(qv) DIV 2)"))
        .drop("qv")
    )
    cb_row = (
        base.where(F.col("vec_id") < _PQ_K)
        .select(F.struct(F.col("vec_id").alias("cw_id"), F.col("q0").alias("c0"), F.col("q1").alias("c1")).alias("cw"))
        .groupBy()
        .agg(F.sort_array(F.collect_list("cw")).alias("cb"))
    )

    def _argmin(qcol: str, ccol: str):
        return F.expr(
            f"array_min(transform(cb, c -> struct({sq_l2_int64_sql(qcol, f'c.{ccol}')} AS d, c.cw_id AS id)))"
        )

    return (
        base.crossJoin(F.broadcast(cb_row))
        .withColumn("a0", _argmin("q0", "c0"))
        .withColumn("a1", _argmin("q1", "c1"))
        .select(
            "vec_id",
            F.col("a0.id").alias("code0"),
            F.col("a1.id").alias("code1"),
            (F.col("a0.d") + F.col("a1.d")).alias("qerr"),
        )
    )


@register(
    "xm02_grouped_centroids",
    oracle="""
    SELECT label, pos, COUNT(*) AS n,
           CAST(SUM(CAST(round(val * 1000000) AS BIGINT)) AS BIGINT) AS sum_micro,
           CAST(SUM(CAST(round(val * 1000000) AS BIGINT)) // COUNT(*) AS BIGINT) AS mean_micro
    FROM (
      SELECT e.label, g.i - 1 AS pos, e.embedding[g.i] AS val
      FROM embeddings e, UNNEST(generate_series(1, len(e.embedding))) AS g(i)
    )
    GROUP BY label, pos
    """,
    doc=(
        "Grouped embedding centroids (mean pooling per label): "
        "posexplode + (label, pos) aggregate over per-element "
        "integer-quantized values — float summation is accumulation-"
        "order dependent, so the micros quantize-then-integer-sum is "
        "what makes centroids retry/layout/engine-exact (vx03's "
        "k-means discipline as a standalone operator; the class-"
        "prototype builder for classifier heads, label smoothing, "
        "and centroid-seeded clustering). Map-side partials carry "
        "O(labels x dim) bigints per task — the exchange never "
        "scales with corpus rows. Emitted long-form (label, pos) so "
        "the oracle is pure SQL; array re-pack is one sort_array over "
        "collect_list of (pos, mean) structs."
    ),
    tags=("vector", "aggregate", "centroid"),
)
def xm02(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    q = F.round(F.col("val") * 1_000_000).cast("bigint")
    return (
        emb.select("label", F.posexplode("embedding").alias("pos", "val"))
        .groupBy("label", "pos")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(q).alias("sum_micro"),
        )
        .withColumn("mean_micro", F.expr("sum_micro DIV n"))
    )


#: xe02: query stride and top-k (ss01's conventions).
_BQ_QSTRIDE = 61
_BQ_TOPK = 5

#: Sign-bit pack of a 64-dim embedding into two 32-bit words (two
#: BIGINTs): bit i of word w set iff element (32w + i) > 0. Split at 32
#: keeps every shift < 32 — DuckDB's signed BIGINT << overflows at 63,
#: and two words sidestep sign-bit semantics in both engines.
_PACK_SPARK = (
    "aggregate(sequence(0, 31), 0L, (acc, i) -> acc + CASE WHEN "
    "element_at(embedding, {off} + i + 1) > 0 THEN shiftleft(1L, i) ELSE 0L END)"
)
_PACK_DUCK = (
    "list_sum(list_transform(generate_series(0, 31), i -> CASE WHEN "
    "embedding[{off} + i + 1] > 0 THEN (1::BIGINT << i) ELSE 0::BIGINT END))"
)


@register(
    "xe02_binary_hamming_ann",
    oracle=f"""
    WITH packed AS (
      SELECT vec_id,
             {_PACK_DUCK.format(off=0)} AS w0,
             {_PACK_DUCK.format(off=32)} AS w1
      FROM embeddings
    ),
    q AS (SELECT * FROM packed WHERE vec_id % {_BQ_QSTRIDE} = 0),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
             bit_count(xor(q.w0, c.w0)) + bit_count(xor(q.w1, c.w1)) AS hamming,
             ROW_NUMBER() OVER (
               PARTITION BY q.vec_id
               ORDER BY bit_count(xor(q.w0, c.w0)) + bit_count(xor(q.w1, c.w1)), c.vec_id
             ) AS rk
      FROM q JOIN packed c ON c.vec_id != q.vec_id
    )
    SELECT query_id, cand_id, hamming, rk FROM scored WHERE rk <= {_BQ_TOPK}
    """,
    doc=(
        "Binary (1-bit) embedding quantization + Hamming top-k: each "
        "64-dim vector sign-packs into two 32-bit words (one narrow "
        "expression fold — 64x memory reduction, 16 bytes/vector), "
        "and retrieval is bit_count(xor) — the binary-passage-"
        "retrieval rerank-funnel front end, and dd03's SimHash "
        "machinery applied to REAL embeddings instead of token "
        "hashes. Broadcast query side x corpus scan (ss01's exact-"
        "baseline shape; at 1e10 vectors the packed corpus is small "
        "enough to keep entirely in memory — that is the point of "
        "the quantization — and banding the words LSH-style (ss02) "
        "prunes the scan). Integer distances, total-order tiebreaks."
    ),
    tags=("vector", "similarity", "quantization"),
)
def xe02(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    packed = emb.select(
        "vec_id",
        F.expr(_PACK_SPARK.format(off=0)).alias("w0"),
        F.expr(_PACK_SPARK.format(off=32)).alias("w1"),
    )
    q = packed.where(F.col("vec_id") % _BQ_QSTRIDE == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("w0").alias("qw0"),
        F.col("w1").alias("qw1"),
    )
    dist = F.bit_count(F.expr("qw0 ^ w0")) + F.bit_count(F.expr("qw1 ^ w1"))
    scored = (
        packed.crossJoin(F.broadcast(q))
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("cand_id"),
            dist.cast("bigint").alias("hamming"),
        )
    )
    w = Window.partitionBy("query_id").orderBy("hamming", "cand_id")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= _BQ_TOPK)
        .select("query_id", "cand_id", "hamming", "rk")
    )


#: xz05: RRF constant, per-system depth, fused report size.
_RRF_K = 60
_RRF_DEPTH = 20
_RRF_TOP = 10


@register(
    "xz05_rrf_hybrid_fusion",
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS q_id, embedding AS q_vec,
             sqrt({oracle_dot_sql('embedding', 'embedding')}) AS q_norm
      FROM embeddings WHERE vec_id % {_BQ_QSTRIDE} = 0
    ),
    c AS (
      SELECT vec_id AS c_id, embedding AS c_vec,
             sqrt({oracle_dot_sql('embedding', 'embedding')}) AS c_norm
      FROM embeddings
    ),
    cos_rank AS (
      SELECT q_id, c_id, rk FROM (
        SELECT q.q_id, c.c_id,
               ROW_NUMBER() OVER (
                 PARTITION BY q.q_id
                 ORDER BY {oracle_dot_sql('q_vec', 'c_vec')}
                          / NULLIF(q_norm * c_norm, 0) DESC, c.c_id
               ) AS rk
        FROM q JOIN c ON q.q_id <> c.c_id
      ) WHERE rk <= {_RRF_DEPTH}
    ),
    packed AS (
      SELECT vec_id,
             {_PACK_DUCK.format(off=0)} AS w0,
             {_PACK_DUCK.format(off=32)} AS w1
      FROM embeddings
    ),
    pq AS (SELECT * FROM packed WHERE vec_id % {_BQ_QSTRIDE} = 0),
    ham_rank AS (
      SELECT q_id, c_id, rk FROM (
        SELECT pq.vec_id AS q_id, pc.vec_id AS c_id,
               ROW_NUMBER() OVER (
                 PARTITION BY pq.vec_id
                 ORDER BY bit_count(xor(pq.w0, pc.w0)) + bit_count(xor(pq.w1, pc.w1)),
                          pc.vec_id
               ) AS rk
        FROM pq JOIN packed pc ON pc.vec_id != pq.vec_id
      ) WHERE rk <= {_RRF_DEPTH}
    ),
    fused AS (
      SELECT COALESCE(cr.q_id, hr.q_id) AS q_id,
             COALESCE(cr.c_id, hr.c_id) AS c_id,
             COALESCE(1.0 / ({_RRF_K} + cr.rk), 0)
               + COALESCE(1.0 / ({_RRF_K} + hr.rk), 0) AS rrf
      FROM cos_rank cr
      FULL OUTER JOIN ham_rank hr ON cr.q_id = hr.q_id AND cr.c_id = hr.c_id
    )
    SELECT q_id, c_id, ROUND(rrf, 9) AS rrf_r, rk FROM (
      SELECT q_id, c_id, rrf,
             ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY rrf DESC, c_id) AS rk
      FROM fused
    ) WHERE rk <= {_RRF_TOP}
    """,
    doc=(
        "Reciprocal-rank fusion of two retrieval systems — exact "
        "dense cosine (ss01's ranking) and binary Hamming (xe02's) — "
        "the standard hybrid-search combiner: score = sum over "
        "systems of 1/(60 + rank), full-outer joined per (query, "
        "candidate) so a hit in EITHER system scores. Rank inputs "
        "are integers with total-order tiebreaks, each RRF term is "
        "one double division of identical integers, and the sum has "
        "a fixed two-term order — engine-exact without any float "
        "accumulation ambiguity. Shape: both rankings are per-query "
        "top-20 (broadcast query side), so the fusion join input is "
        "O(|Q| x depth), trivially small at any corpus scale — the "
        "pattern that lets a 100 TB corpus serve hybrid search from "
        "two independent index scans plus a final O(depth) merge."
    ),
    tags=("similarity", "fusion", "ranking"),
)
def xz05(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")

    # dense cosine ranking (ss01's machinery, depth-20)
    cos = cosine_topk(
        emb.where(F.col("vec_id") % _BQ_QSTRIDE == 0), emb, k=_RRF_DEPTH
    ).select("q_id", "c_id", F.col("rank").alias("cr"))

    # binary hamming ranking (xe02's machinery, depth-20)
    packed = emb.select(
        "vec_id",
        F.expr(_PACK_SPARK.format(off=0)).alias("w0"),
        F.expr(_PACK_SPARK.format(off=32)).alias("w1"),
    )
    pq = packed.where(F.col("vec_id") % _BQ_QSTRIDE == 0).select(
        F.col("vec_id").alias("q_id"),
        F.col("w0").alias("qw0"),
        F.col("w1").alias("qw1"),
    )
    dist = F.bit_count(F.expr("qw0 ^ w0")) + F.bit_count(F.expr("qw1 ^ w1"))
    wh = Window.partitionBy("q_id").orderBy("hamming", "c_id")
    ham = (
        packed.crossJoin(F.broadcast(pq))
        .where(F.col("vec_id") != F.col("q_id"))
        .select("q_id", F.col("vec_id").alias("c_id"), dist.alias("hamming"))
        .withColumn("hr", F.row_number().over(wh))
        .where(F.col("hr") <= _RRF_DEPTH)
        .select("q_id", "c_id", "hr")
    )

    fused = (
        cos.join(ham, ["q_id", "c_id"], "full_outer")
        .withColumn(
            "rrf",
            F.coalesce(F.lit(1.0) / (F.lit(_RRF_K) + F.col("cr")), F.lit(0.0))
            + F.coalesce(F.lit(1.0) / (F.lit(_RRF_K) + F.col("hr")), F.lit(0.0)),
        )
    )
    wf = Window.partitionBy("q_id").orderBy(F.desc("rrf"), F.asc("c_id"))
    return (
        fused.withColumn("rk", F.row_number().over(wf))
        .where(F.col("rk") <= _RRF_TOP)
        .select("q_id", "c_id", F.round("rrf", 9).alias("rrf_r"), "rk")
    )


#: xe04 ADC retrieval depth.
_ADC_TOP = 10


@register(
    "xe04_pq_adc_topk",
    oracle=f"""
    WITH q AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(round(CAST(x AS DOUBLE) * {_PQ_QSCALE}) AS BIGINT)) AS qv
      FROM embeddings
    ),
    p AS (
      SELECT vec_id,
             qv[1 : len(qv) // 2] AS q0,
             qv[len(qv) // 2 + 1 : len(qv)] AS q1
      FROM q
    ),
    cb AS (SELECT vec_id AS cw_id, q0 AS c0, q1 AS c1 FROM p WHERE vec_id < {_PQ_K}),
    d AS (
      SELECT p.vec_id, cb.cw_id,
             CAST(list_sum(list_transform(range(1, len(p.q0) + 1),
               i -> (p.q0[i] - cb.c0[i]) * (p.q0[i] - cb.c0[i]))) AS BIGINT) AS d0,
             CAST(list_sum(list_transform(range(1, len(p.q1) + 1),
               i -> (p.q1[i] - cb.c1[i]) * (p.q1[i] - cb.c1[i]))) AS BIGINT) AS d1
      FROM p CROSS JOIN cb
    ),
    codes AS (
      SELECT a0.vec_id, a0.code0, a1.code1 FROM
        (SELECT vec_id, cw_id AS code0 FROM
           (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d0, cw_id) rn FROM d)
         WHERE rn = 1) a0
      JOIN
        (SELECT vec_id, cw_id AS code1 FROM
           (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d1, cw_id) rn FROM d)
         WHERE rn = 1) a1
      USING (vec_id)
    ),
    adc AS (
      SELECT d.vec_id AS q_id, d.cw_id, d.d0, d.d1
      FROM d WHERE d.vec_id % {_BQ_QSTRIDE} = 0
    ),
    scored AS (
      SELECT a.q_id, c.vec_id AS c_id,
             t0.d0 + t1.d1 AS adc_dist
      FROM codes c
      JOIN (SELECT DISTINCT q_id FROM adc) a ON c.vec_id != a.q_id
      JOIN adc t0 ON t0.q_id = a.q_id AND t0.cw_id = c.code0
      JOIN adc t1 ON t1.q_id = a.q_id AND t1.cw_id = c.code1
    )
    SELECT q_id, c_id, adc_dist, rk FROM (
      SELECT q_id, c_id, adc_dist,
             ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY adc_dist, c_id) AS rk
      FROM scored
    ) WHERE rk <= {_ADC_TOP}
    """,
    doc=(
        "PQ asymmetric-distance (ADC) retrieval: xe01's 2x16 codes "
        "become the ONLY per-vector payload the scan touches — each "
        "query precomputes a 2x16 integer distance TABLE to the "
        "codewords (one narrow fold over the broadcast codebook), and "
        "a candidate's score is two table lookups (element_at by "
        "code), never a d-dimensional dot product. The compressed-"
        "domain retrieval step that makes PQ useful: at 1e10 vectors "
        "the scan reads 2 bytes of codes instead of 256 bytes of "
        "floats, the query tables broadcast at O(|Q| x 32) bigints, "
        "and the only shuffle is the per-query top-k merge (local "
        "top-k per partition first at scale — ss03's partial-merge "
        "pattern). Exact integer arithmetic end to end; tiebreaks "
        "total."
    ),
    tags=("similarity", "pq", "ann"),
)
def xe04(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    base = (
        emb.select(
            "vec_id",
            F.expr(
                f"transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * {_PQ_QSCALE}) AS BIGINT))"
            ).alias("qv"),
        )
        .withColumn("q0", F.expr("slice(qv, 1, size(qv) DIV 2)"))
        .withColumn("q1", F.expr("slice(qv, size(qv) DIV 2 + 1, size(qv) - size(qv) DIV 2)"))
        .drop("qv")
    )
    cb_row = (
        base.where(F.col("vec_id") < _PQ_K)
        .select(
            F.struct(
                F.col("vec_id").alias("cw_id"),
                F.col("q0").alias("c0"),
                F.col("q1").alias("c1"),
            ).alias("cw")
        )
        .groupBy()
        .agg(F.sort_array(F.collect_list("cw")).alias("cb"))
    )

    with_cb = base.crossJoin(F.broadcast(cb_row))
    # corpus codes: per-subspace argmin over the broadcast codebook (xe01)
    codes = with_cb.select(
        "vec_id",
        F.expr(f"array_min(transform(cb, c -> struct({sq_l2_int64_sql('q0', 'c.c0')} AS d, c.cw_id AS id))).id").alias("code0"),
        F.expr(f"array_min(transform(cb, c -> struct({sq_l2_int64_sql('q1', 'c.c1')} AS d, c.cw_id AS id))).id").alias("code1"),
    )
    # query ADC tables: cw_id-ordered arrays of the 16 per-subspace distances
    # (cb is sorted by cw_id = 0..15, so position i+1 holds codeword i)
    qtables = with_cb.where(F.col("vec_id") % _BQ_QSTRIDE == 0).select(
        F.col("vec_id").alias("q_id"),
        F.expr(f"transform(cb, c -> {sq_l2_int64_sql('q0', 'c.c0')})").alias("t0"),
        F.expr(f"transform(cb, c -> {sq_l2_int64_sql('q1', 'c.c1')})").alias("t1"),
    )
    scored = (
        codes.crossJoin(F.broadcast(qtables))
        .where(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            F.col("vec_id").alias("c_id"),
            (
                F.element_at(F.col("t0"), F.col("code0").cast("int") + 1)
                + F.element_at(F.col("t1"), F.col("code1").cast("int") + 1)
            ).alias("adc_dist"),
        )
    )
    w = Window.partitionBy("q_id").orderBy("adc_dist", "c_id")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= _ADC_TOP)
        .select("q_id", "c_id", "adc_dist", "rk")
    )


@register(
    "xe05_ann_recall_eval",
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS q_id, embedding AS q_vec,
             sqrt({oracle_dot_sql('embedding', 'embedding')}) AS q_norm
      FROM embeddings WHERE vec_id % {_BQ_QSTRIDE} = 0
    ),
    c AS (
      SELECT vec_id AS c_id, embedding AS c_vec,
             sqrt({oracle_dot_sql('embedding', 'embedding')}) AS c_norm
      FROM embeddings
    ),
    truth AS (
      SELECT q_id, c_id FROM (
        SELECT q.q_id, c.c_id,
               ROW_NUMBER() OVER (
                 PARTITION BY q.q_id
                 ORDER BY {oracle_dot_sql('q_vec', 'c_vec')}
                          / NULLIF(q_norm * c_norm, 0) DESC, c.c_id
               ) AS rk
        FROM q JOIN c ON q.q_id <> c.c_id
      ) WHERE rk <= {_ADC_TOP}
    ),
    packed AS (
      SELECT vec_id,
             {_PACK_DUCK.format(off=0)} AS w0,
             {_PACK_DUCK.format(off=32)} AS w1
      FROM embeddings
    ),
    pq AS (SELECT * FROM packed WHERE vec_id % {_BQ_QSTRIDE} = 0),
    approx AS (
      SELECT q_id, c_id FROM (
        SELECT pq.vec_id AS q_id, pc.vec_id AS c_id,
               ROW_NUMBER() OVER (
                 PARTITION BY pq.vec_id
                 ORDER BY bit_count(xor(pq.w0, pc.w0)) + bit_count(xor(pq.w1, pc.w1)),
                          pc.vec_id
               ) AS rk
        FROM pq JOIN packed pc ON pc.vec_id != pq.vec_id
      ) WHERE rk <= {_ADC_TOP}
    )
    SELECT t.q_id,
           COUNT(*) AS k,
           COUNT(a.c_id) AS n_hit,
           (1000000 * COUNT(a.c_id)) // COUNT(*) AS recall_ppm
    FROM truth t
    LEFT JOIN approx a ON a.q_id = t.q_id AND a.c_id = t.c_id
    GROUP BY t.q_id
    """,
    doc=(
        "ANN recall evaluation AS an operator ('measure, don't "
        "guess' as a query): per query, recall@10 of the binary-"
        "Hamming ranking (xe02) against the exact cosine truth (ss01) "
        "— truth LEFT-semi-matched to the approximate set, exact "
        "integer ppm recall. The eval harness every production ANN "
        "deployment schedules next to its index build, here held to "
        "the same hash gate as the indexes themselves. Both rankings "
        "are per-query top-k over a broadcast query side, the eval "
        "join is O(|Q| x k) rows — free at any corpus scale."
    ),
    tags=("similarity", "evaluation", "ann"),
)
def xe05(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    truth = cosine_topk(
        emb.where(F.col("vec_id") % _BQ_QSTRIDE == 0), emb, k=_ADC_TOP
    ).select("q_id", "c_id")

    packed = emb.select(
        "vec_id",
        F.expr(_PACK_SPARK.format(off=0)).alias("w0"),
        F.expr(_PACK_SPARK.format(off=32)).alias("w1"),
    )
    pq = packed.where(F.col("vec_id") % _BQ_QSTRIDE == 0).select(
        F.col("vec_id").alias("q_id"),
        F.col("w0").alias("qw0"),
        F.col("w1").alias("qw1"),
    )
    dist = F.bit_count(F.expr("qw0 ^ w0")) + F.bit_count(F.expr("qw1 ^ w1"))
    wh = Window.partitionBy("q_id").orderBy("hamming", "c_id")
    approx = (
        packed.crossJoin(F.broadcast(pq))
        .where(F.col("vec_id") != F.col("q_id"))
        .select("q_id", F.col("vec_id").alias("c_id"), dist.alias("hamming"))
        .withColumn("rk", F.row_number().over(wh))
        .where(F.col("rk") <= _ADC_TOP)
        .select("q_id", "c_id", F.lit(1).alias("hit"))
    )
    return (
        truth.join(approx, ["q_id", "c_id"], "left")
        .groupBy("q_id")
        .agg(
            F.count(F.lit(1)).alias("k"),
            F.count("hit").alias("n_hit"),
            F.expr("(1000000 * COUNT(hit)) DIV COUNT(1)").alias("recall_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# xe03 — coarse-to-fine prefix rerank (Matryoshka-style two-stage ANN)
# ---------------------------------------------------------------------------

#: Coarse stage scores on the first PREFIX_DIMS of the 64-dim embedding;
#: fine stage reranks the top RERANK_DEPTH candidates with full cosine.
PREFIX_DIMS = 8
RERANK_DEPTH = 100


def prefix_rerank_topk(
    queries: DataFrame, corpus: DataFrame, k: int = 10
) -> DataFrame:
    """Two-stage retrieval over nested (Matryoshka-style) embeddings:
    rank ALL candidates by the dot product of the first ``PREFIX_DIMS``
    dimensions (1/8 of the arithmetic and, in a column-pruned layout,
    1/8 of the bytes), keep the top ``RERANK_DEPTH``, then rerank only
    those with the full-width cosine.

    Complement to the bucketed ANN paths: ss02/vx01/xe04 prune by
    CANDIDATE SET (hash buckets / IVF lists / PQ codes); this prunes by
    DIMENSION — the two compose at scale (coarse-score within a bucket,
    rerank the survivors). Both stages use the in-order double fold, so
    scores are bit-identical across engines; both top-ks carry total-
    order tiebreaks, making the whole cascade hash-deterministic.

    Scale: stage 1 is the only corpus-wide pass (broadcast queries ×
    corpus scan, no shuffle of the corpus); stage 2 touches
    |Q| × RERANK_DEPTH rows — noise. The recall/cost knob is
    RERANK_DEPTH, measurable against ss01's exact truth with xe05's
    recall harness.
    """
    q = queries.select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_vec"),
        F.expr(f"slice(embedding, 1, {PREFIX_DIMS})").alias("q_pre"),
    ).withColumn("q_norm", l2norm("q_vec"))
    c = corpus.select(
        F.col("vec_id").alias("c_id"),
        F.col("embedding").alias("c_vec"),
        F.expr(f"slice(embedding, 1, {PREFIX_DIMS})").alias("c_pre"),
    ).withColumn("c_norm", l2norm("c_vec"))
    coarse = (
        F.broadcast(q)
        .crossJoin(c)
        .where(F.col("q_id") != F.col("c_id"))
        .withColumn("coarse", dot("q_pre", "c_pre"))
    )
    wc = Window.partitionBy("q_id").orderBy(F.desc("coarse"), F.asc("c_id"))
    cand = coarse.withColumn("crank", F.row_number().over(wc)).where(
        F.col("crank") <= RERANK_DEPTH
    )
    fine = cand.withColumn("cosine", cosine("q_vec", "c_vec", "q_norm", "c_norm"))
    wf = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("c_id"))
    return (
        fine.withColumn("rank", F.row_number().over(wf))
        .where(F.col("rank") <= k)
        .select("q_id", "c_id", "rank", F.round("cosine", 6).alias("cosine_r"))
    )


@register(
    "xe03_prefix_rerank",
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS q_id, embedding AS q_vec, embedding[1:{PREFIX_DIMS}] AS q_pre,
             sqrt({oracle_dot_sql('embedding', 'embedding')}) AS q_norm
      FROM embeddings WHERE vec_id < 8
    ),
    c AS (
      SELECT vec_id AS c_id, embedding AS c_vec, embedding[1:{PREFIX_DIMS}] AS c_pre,
             sqrt({oracle_dot_sql('embedding', 'embedding')}) AS c_norm
      FROM embeddings
    ),
    coarse AS (
      SELECT q_id, c_id, q_vec, c_vec, q_norm, c_norm,
             {oracle_dot_sql('q_pre', 'c_pre')} AS coarse,
             ROW_NUMBER() OVER (
               PARTITION BY q_id
               ORDER BY {oracle_dot_sql('q_pre', 'c_pre')} DESC, c_id
             ) AS crank
      FROM q, c WHERE q_id <> c_id
    ),
    fine AS (
      SELECT q_id, c_id,
             {oracle_dot_sql('q_vec', 'c_vec')} / NULLIF(q_norm * c_norm, 0) AS cosine
      FROM coarse WHERE crank <= {RERANK_DEPTH}
    )
    SELECT q_id, c_id, rank, ROUND(cosine, 6) AS cosine_r FROM (
      SELECT q_id, c_id, cosine,
             ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id) AS rank
      FROM fine
    ) WHERE rank <= 10
    """,
    doc=(
        f"Coarse-to-fine retrieval: rank by the first {PREFIX_DIMS}-dim "
        f"prefix dot product, rerank the top {RERANK_DEPTH} with full "
        "64-dim cosine — the Matryoshka/nested-embedding cascade. "
        "Dimension-pruning complement to the candidate-pruning ANN "
        "paths (ss02 LSH, vx01 IVF, xe04 PQ-ADC); single corpus pass, "
        "broadcast queries, deterministic fold + tiebreaks end-to-end."
    ),
    tags=("similarity", "ann", "llm-pipeline"),
)
def xe03(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return prefix_rerank_topk(emb.where(F.col("vec_id") < 8), emb)


# ---------------------------------------------------------------------------
# xe06 — recall evaluation of the prefix-rerank cascade
# ---------------------------------------------------------------------------


@register(
    "xe06_prefix_recall_eval",
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS q_id, embedding AS q_vec, embedding[1:{PREFIX_DIMS}] AS q_pre,
             sqrt({oracle_dot_sql('embedding', 'embedding')}) AS q_norm
      FROM embeddings WHERE vec_id < 8
    ),
    c AS (
      SELECT vec_id AS c_id, embedding AS c_vec, embedding[1:{PREFIX_DIMS}] AS c_pre,
             sqrt({oracle_dot_sql('embedding', 'embedding')}) AS c_norm
      FROM embeddings
    ),
    scored AS (
      SELECT q_id, c_id, q_vec, c_vec, q_norm, c_norm, q_pre, c_pre,
             {oracle_dot_sql('q_vec', 'c_vec')} / NULLIF(q_norm * c_norm, 0) AS cosine
      FROM q, c WHERE q_id <> c_id
    ),
    exact AS (
      SELECT q_id, c_id FROM (
        SELECT q_id, c_id,
               ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id) AS rank
        FROM scored
      ) WHERE rank <= 10
    ),
    coarse AS (
      SELECT q_id, c_id, cosine,
             ROW_NUMBER() OVER (
               PARTITION BY q_id
               ORDER BY {oracle_dot_sql('q_pre', 'c_pre')} DESC, c_id
             ) AS crank
      FROM scored
    ),
    approx AS (
      SELECT q_id, c_id FROM (
        SELECT q_id, c_id,
               ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id) AS rank
        FROM coarse WHERE crank <= {RERANK_DEPTH}
      ) WHERE rank <= 10
    )
    SELECT e.q_id,
           COUNT(a.c_id) AS n_hits,
           CAST((COUNT(a.c_id) * 1000000) // 10 AS BIGINT) AS recall_ppm
    FROM exact e LEFT JOIN approx a ON a.q_id = e.q_id AND a.c_id = e.c_id
    GROUP BY e.q_id ORDER BY e.q_id
    """,
    doc=(
        "Recall@10 of the xe03 prefix-rerank cascade against ss01's "
        "exact cosine truth, integer ppm per query — the measurement "
        f"that calibrates RERANK_DEPTH ({RERANK_DEPTH}): evaluation "
        "held to the same hash gate as the operators it evaluates "
        "(binary-ranking cousin: xe05). Truth and cascade share one "
        "scored frame, so the eval costs one corpus pass plus "
        "windowed ranks."
    ),
    tags=("similarity", "ann", "evaluation"),
)
def xe06(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 8)
    exact = cosine_topk(queries, emb, k=10).select("q_id", "c_id")
    approx = prefix_rerank_topk(queries, emb, k=10).select(
        F.col("q_id").alias("a_qid"), F.col("c_id").alias("a_cid")
    )
    return (
        exact.join(
            approx,
            (F.col("q_id") == F.col("a_qid")) & (F.col("c_id") == F.col("a_cid")),
            "left",
        )
        .groupBy("q_id")
        .agg(F.count("a_cid").alias("n_hits"))
        .select(
            "q_id",
            "n_hits",
            F.expr("CAST((n_hits * 1000000) DIV 10 AS BIGINT)").alias("recall_ppm"),
        )
        .orderBy("q_id")
    )
