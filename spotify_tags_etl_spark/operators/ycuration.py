"""Round-4 curation additions (``y*`` names sort after the driver
window's queued x* backlog):

* ya01 — n-gram novelty scoring (corpus-unique shingle share per doc);
* yh01 — HLL set-INTERSECTION estimation via inclusion-exclusion over
  mergeable sketches, tolerance-anchored against exact counts;
* yt01 — asymmetric CONTAINMENT dedup over the MinHash/LSH candidate
  machinery (catches near-subset docs that symmetric Jaccard misses);
* yw01 — event-lateness audit, the measurement that picks a streaming
  watermark delay;
* yn01 — deterministic contrastive negative sampling (hash-ranked
  different-label draws, a pure function of the corpus);
* yk01 — kNN hold-out label eval (per-label exact-ppm accuracy), the
  quality gate for an embedding column before ANN families trust it;
* yr01 — exact-rational Pearson r² between two daily series (DECIMAL
  string parts, xs06's hash-stable spelling);
* yp01 — the curation ops COMPOSED: length gate → exact dedup →
  containment prune → novelty floor → per-source budget, one oracle;
* yo01 — split-conformal anomaly gate (distribution-free ≤α false-alarm
  guarantee), its order statistic computed by scalerank's exact rank;
* yv15 — per-domain quality gate (round 6: FineWeb/C4-style source
  filtering — blocklist + 128-bit-exact mean-quality threshold).

Same disciplines as the established families: banded candidates (never
all-pairs), integer permille/ppm ratios, exact-count anchoring for
sketches (av12/av14's tolerance-oracle pattern), per-key windows only.
"""

from __future__ import annotations

import uuid as _uuid

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from spotify_tags_etl_spark.operators.dedup import (
    BAND_ROWS,
    N_HASHES,
    _SHINGLE_SQL,
    lsh_candidate_pairs,
    minhash_signatures,
    word_shingles,
)
from spotify_tags_etl_spark.functions.hashing import hash_frac_sql
from spotify_tags_etl_spark.plans.registry import register
from spotify_tags_etl_spark.functions.concurrency import fan_out_scan
from spotify_tags_etl_spark.sources.tpch import load_table


# ---------------------------------------------------------------------------
# ya01 — n-gram novelty (corpus-unique shingle share)
# ---------------------------------------------------------------------------


@register(
    "ya01_ngram_novelty",
    oracle=f"""
    WITH {_SHINGLE_SQL.lstrip()},
    df AS (SELECT s, COUNT(*) AS df FROM sh GROUP BY s),
    per_doc AS (
      SELECT sh.doc_id,
             COUNT(*) AS n_shingles,
             CAST(SUM(CASE WHEN df.df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique
      FROM sh JOIN df ON df.s = sh.s
      GROUP BY sh.doc_id
    )
    SELECT doc_id, n_shingles, n_unique,
           CAST((1000000 * n_unique) // n_shingles AS BIGINT) AS novelty_ppm
    FROM per_doc
    """,
    doc=(
        "N-gram novelty score: the share of a document's distinct word "
        "3-gram shingles that appear NOWHERE else in the corpus, in "
        "exact integer ppm — the curation metric that separates "
        "template/boilerplate-heavy documents (low novelty) from "
        "original text, and the inverse signal of dd02's near-dup "
        "families (a doc whose shingles all have df>1 is a paste-up). "
        "Shape: one shingle explode (dd02's shared frame), one gram-"
        "keyed document-frequency aggregate, one join back on the gram "
        "key (same exchange domain), one per-doc rollup. No pairwise "
        "anything — cost is O(corpus shingles) at any scale."
    ),
    tags=("dedup", "text", "quality", "llm-pipeline"),
)
def ya01(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r12 §14: fan the single-split corpus out before shingling
    sh = word_shingles(fan_out_scan(load_table(spark, sf_dir, "documents"), "doc_id"))
    df = sh.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
    return (
        sh.join(df, "s")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.when(F.col("df") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_unique"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_unique",
            F.expr("CAST((1000000 * n_unique) DIV n_shingles AS BIGINT)").alias(
                "novelty_ppm"
            ),
        )
    )


# ---------------------------------------------------------------------------
# yt01 — containment (near-subset) dedup over the LSH candidate machinery
# ---------------------------------------------------------------------------

#: A pair is a containment dup when either direction's containment
#: |A∩B|/|A| reaches this permille threshold.
_CONT_PERMILLE = 850


def _containment_oracle(threshold_permille: int) -> str:
    """Bands + candidates exactly as dd02's oracle (same constants), but
    verified by CONTAINMENT in both directions instead of Jaccard."""
    mins = ",\n         ".join(
        f"MIN(md5('{i}|' || s)) AS m{i}" for i in range(N_HASHES)
    )
    bands = "\n  UNION ALL\n".join(
        f"  SELECT l.doc_id AS d1, r.doc_id AS d2 FROM sig l JOIN sig r"
        f" ON l.m{b * BAND_ROWS} || l.m{b * BAND_ROWS + 1} = r.m{b * BAND_ROWS} || r.m{b * BAND_ROWS + 1}"
        f" AND l.doc_id < r.doc_id"
        for b in range(N_HASHES // BAND_ROWS)
    )
    return f"""
    WITH {_SHINGLE_SQL.lstrip()},
    sig AS (
      SELECT doc_id, {mins}
      FROM sh GROUP BY doc_id
    ),
    cand AS (
      SELECT DISTINCT d1, d2 FROM (
{bands}
      )
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT c.d1, c.d2, COUNT(*) AS n_inter
      FROM cand c
      JOIN sh a ON a.doc_id = c.d1
      JOIN sh b ON b.doc_id = c.d2 AND a.s = b.s
      GROUP BY c.d1, c.d2
    )
    SELECT i.d1, i.d2,
           CAST((1000 * i.n_inter) // sa.n AS BIGINT) AS cont_12_permille,
           CAST((1000 * i.n_inter) // sb.n AS BIGINT) AS cont_21_permille
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.d1
    JOIN sizes sb ON sb.doc_id = i.d2
    WHERE 1000 * i.n_inter >= {threshold_permille} * sa.n
       OR 1000 * i.n_inter >= {threshold_permille} * sb.n
    """


@register(
    "yt01_containment_dedup",
    oracle=_containment_oracle(_CONT_PERMILLE),
    doc=(
        "Asymmetric containment dedup: dd02's exact LSH candidate "
        "machinery (shingle → minhash → banded single self-join), but "
        "verified by CONTAINMENT |A∩B|/|A| in each direction instead "
        "of symmetric Jaccard — the detector for near-SUBSET "
        "duplication (a doc pasted inside a bigger one), which Jaccard "
        "structurally under-scores when sizes differ (J ≤ |A|/|B|). "
        "The standard second dedup pass of a training-data pipeline "
        "after whole-doc near-dup. Same physical shape as dd02: one "
        "banded self-join for candidates, exact set verify only on the "
        "(rare) candidate pairs, integer permille both directions."
    ),
    tags=("dedup", "lsh", "containment", "llm-pipeline"),
)
def yt01(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out_scan(load_table(spark, sf_dir, "documents"), "doc_id")  # r12 §14
    sh = word_shingles(docs)
    pairs = lsh_candidate_pairs(minhash_signatures(sh))
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    s1 = sh.withColumnsRenamed({"doc_id": "d1", "s": "s1"})
    s2 = sh.withColumnsRenamed({"doc_id": "d2r", "s": "s2"})
    inter = (
        pairs.join(s1, "d1")
        .join(s2, (F.col("d2") == F.col("d2r")) & (F.col("s1") == F.col("s2")))
        .groupBy("d1", "d2")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    t = F.lit(_CONT_PERMILLE)
    return (
        inter.join(sizes.withColumnsRenamed({"doc_id": "d1", "n": "n1"}), "d1")
        .join(sizes.withColumnsRenamed({"doc_id": "d2", "n": "n2"}), "d2")
        .where(
            (F.lit(1000) * F.col("n_inter") >= t * F.col("n1"))
            | (F.lit(1000) * F.col("n_inter") >= t * F.col("n2"))
        )
        .select(
            "d1",
            "d2",
            F.expr("CAST((1000 * n_inter) DIV n1 AS BIGINT)").alias("cont_12_permille"),
            F.expr("CAST((1000 * n_inter) DIV n2 AS BIGINT)").alias("cont_21_permille"),
        )
    )


# ---------------------------------------------------------------------------
# yh01 — HLL intersection estimate (inclusion-exclusion over sketches)
# ---------------------------------------------------------------------------

#: Tolerance for the inclusion-exclusion estimate, relative to the UNION
#: size: |est_inter - exact_inter| <= _HLL_INTER_TOL_PPM * exact_union / 1e6.
#: I-E error compounds three ~1.6%-rsd estimates and scales with the
#: union, not the (smaller) intersection — anchoring to the union is the
#: honest bound.
_HLL_INTER_TOL_PPM = 50_000  # 5% of the union


@register(
    "yh01_hll_intersection",
    oracle="""
    WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
    pairs AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b, COUNT(*) AS exact_inter
      FROM ut a JOIN ut b ON a.user_id = b.user_id AND a.event_type < b.event_type
      GROUP BY a.event_type, b.event_type
    ),
    per AS (SELECT event_type, COUNT(*) AS n FROM ut GROUP BY event_type)
    SELECT p.type_a, p.type_b,
           pa.n AS exact_a, pb.n AS exact_b, p.exact_inter,
           CAST(pa.n + pb.n - p.exact_inter AS BIGINT) AS exact_union,
           TRUE AS inter_ok
    FROM pairs p
    JOIN per pa ON pa.event_type = p.type_a
    JOIN per pb ON pb.event_type = p.type_b
    ORDER BY p.type_a, p.type_b
    """,
    doc=(
        "Sketch set-INTERSECTION estimation: per event type, one "
        "mergeable HLL sketch of its user set (hll_sketch_agg — a "
        "single corpus pass); per type pair, the intersection estimate "
        "by inclusion-exclusion est(A) + est(B) - est(A∪B), with the "
        "union estimated from hll_union of the two standing sketches "
        "(never a re-scan — this is the audience-overlap query over "
        "pre-aggregated per-segment sketches, at 100 TB an O(#segments"
        "²) sketch-only computation). Tolerance oracle (av12/av14 "
        "pattern): TRUE iff the estimate lands within 5% of the UNION "
        "size of the exactly-computed intersection — I-E error scales "
        "with the union, so that is the honest anchor; the exact "
        "counts are recomputed relationally and hash-checked."
    ),
    tags=("sketch", "aggregate", "distinct"),
)
def yh01(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    ut = ev.select("user_id", "event_type").distinct()
    # one sketch + exact count per type, a single pass each
    per = ut.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id").alias("sk"),
        F.count(F.lit(1)).alias("n"),
    )
    a = per.select(
        F.col("event_type").alias("type_a"),
        F.col("sk").alias("sk_a"),
        F.col("n").alias("exact_a"),
    )
    b = per.select(
        F.col("event_type").alias("type_b"),
        F.col("sk").alias("sk_b"),
        F.col("n").alias("exact_b"),
    )
    # exact intersection per pair (the oracle anchor)
    u1 = ut.withColumnsRenamed({"event_type": "type_a"})
    u2 = ut.withColumnsRenamed({"event_type": "type_b", "user_id": "uid2"})
    exact = (
        u1.join(
            u2,
            (F.col("user_id") == F.col("uid2")) & (F.col("type_a") < F.col("type_b")),
        )
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("exact_inter"))
    )
    est_union = F.hll_sketch_estimate(F.hll_union("sk_a", "sk_b"))
    est_inter = (
        F.hll_sketch_estimate("sk_a") + F.hll_sketch_estimate("sk_b") - est_union
    )
    return (
        a.crossJoin(b)
        .where(F.col("type_a") < F.col("type_b"))
        .join(exact, ["type_a", "type_b"])
        .select(
            "type_a",
            "type_b",
            "exact_a",
            "exact_b",
            "exact_inter",
            (F.col("exact_a") + F.col("exact_b") - F.col("exact_inter"))
            .cast("bigint")
            .alias("exact_union"),
            (
                F.abs(est_inter - F.col("exact_inter")) * F.lit(1_000_000)
                <= F.lit(_HLL_INTER_TOL_PPM)
                * (F.col("exact_a") + F.col("exact_b") - F.col("exact_inter"))
            ).alias("inter_ok"),
        )
        .orderBy("type_a", "type_b")
    )


# ---------------------------------------------------------------------------
# yw01 — event-lateness audit (the watermark-delay decision table)
# ---------------------------------------------------------------------------

#: Lateness histogram fences in microseconds (1 min, 10 min, 1 h).
_LATE_FENCES_US = (60_000_000, 600_000_000, 3_600_000_000)

#: Deterministic arrival-delay model: each event reaches the pipeline
#: md5(event_id) % 20min after its event time. The fixture's event_id
#: sequence is already time-sorted per user (zero natural disorder), so
#: the audit simulates the transport jitter a real ingest has — the
#: same engine-exact md5 idiom as every sampler here, never rand().
_ARRIVAL_JITTER_US = 1_200_000_000


@register(
    "yw01_lateness_audit",
    oracle=f"""
    WITH arr AS (
      SELECT user_id, event_id, epoch_us(ts) AS us,
             MAX(epoch_us(ts)) OVER (
               PARTITION BY user_id
               ORDER BY epoch_us(ts)
                        + ('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 8))::UBIGINT
                          % {_ARRIVAL_JITTER_US},
                        event_id
               ROWS UNBOUNDED PRECEDING) AS hi
      FROM events
    ),
    late AS (SELECT CAST(hi - us AS BIGINT) AS late_us FROM arr)
    SELECT CASE WHEN late_us = 0 THEN 0
                WHEN late_us <= {_LATE_FENCES_US[0]} THEN 1
                WHEN late_us <= {_LATE_FENCES_US[1]} THEN 2
                WHEN late_us <= {_LATE_FENCES_US[2]} THEN 3
                ELSE 4 END AS bucket,
           COUNT(*) AS n,
           CAST(MAX(late_us) AS BIGINT) AS max_late_us
    FROM late
    GROUP BY 1 ORDER BY bucket
    """,
    doc=(
        "Event-lateness audit: events arrive in order of event time "
        "plus a deterministic md5 transport jitter (≤20 min — the "
        "fixture's raw sequence has zero natural disorder, so the "
        "audit models the ingest delay a real pipeline has); an "
        "event's lateness is how far its event time lags the running "
        "MAXIMUM event time already arrived for its key — exactly the "
        "quantity a streaming watermark must out-wait. "
        "Bucketed census (on-time / ≤1m / ≤10m / ≤1h / beyond) with "
        "the worst offset: read the row where the cumulative share "
        "crosses your loss tolerance and that fence IS your "
        "withWatermark delay (st01/st02/st05's knob, measured instead "
        "of guessed). The window is per-user (parallel, O(1) running "
        "state); the census is an O(5) aggregate."
    ),
    tags=("streaming", "eventtime", "quality"),
)
def yw01(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    jitter = F.expr(
        f"conv(substring(md5(CAST(event_id AS STRING)), 1, 8), 16, 10)"
        f" % {_ARRIVAL_JITTER_US}"
    ).cast("bigint")
    us = F.unix_micros("ts")
    arr = ev.select("user_id", "event_id", us.alias("us"), (us + jitter).alias("arrival_us"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("arrival_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    late = arr.select(
        (F.max("us").over(w) - F.col("us")).cast("bigint").alias("late_us")
    )
    f0, f1, f2 = _LATE_FENCES_US
    bucket = (
        F.when(F.col("late_us") == 0, 0)
        .when(F.col("late_us") <= f0, 1)
        .when(F.col("late_us") <= f1, 2)
        .when(F.col("late_us") <= f2, 3)
        .otherwise(4)
    )
    return (
        late.groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.max("late_us").cast("bigint").alias("max_late_us"),
        )
        .orderBy("bucket")
    )


# ---------------------------------------------------------------------------
# yn01 — deterministic contrastive negative sampling
# ---------------------------------------------------------------------------

#: Negatives drawn per anchor, and the ss01-convention anchor set bound.
_NEG_K = 4
_NEG_ANCHORS = 8


@register(
    "yn01_contrastive_negatives",
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS q_id, label AS q_label FROM embeddings WHERE vec_id < {_NEG_ANCHORS}
    ),
    scored AS (
      SELECT q.q_id, e.vec_id AS neg_id,
             md5(CAST(q.q_id AS VARCHAR) || '|' || CAST(e.vec_id AS VARCHAR)) AS h
      FROM q JOIN embeddings e ON e.label <> q.q_label
    )
    SELECT q_id, neg_rank, neg_id FROM (
      SELECT q_id, neg_id,
             ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY h, neg_id) AS neg_rank
      FROM scored
    ) WHERE neg_rank <= {_NEG_K}
    ORDER BY q_id, neg_rank
    """,
    doc=(
        f"Deterministic contrastive negative sampling: for each anchor "
        f"(the ss01-convention vec_id < {_NEG_ANCHORS} set), the top-"
        f"{_NEG_K} different-label corpus vectors ranked by the "
        "portable md5(anchor|candidate) hash — negatives for embedding/"
        "retrieval training that are a pure function of the corpus: "
        "re-runs, retries, partition layouts, and engine swaps draw "
        "byte-identical negative sets, which rand()-based samplers "
        "cannot promise (xi01's discipline applied to pair mining). "
        "Shape: anchors broadcast onto one corpus pass; per-anchor "
        "rank windows are keyed (parallel). At 1e9-candidate scale, "
        "pre-filter candidates by an md5 threshold (keep ~100x the "
        "draw, deterministically) before ranking so the window input "
        "is bounded — the sample is unchanged because the hash order "
        "is preserved under hash-prefix filtering."
    ),
    tags=("training", "sampling", "contrastive", "llm-pipeline"),
)
def yn01(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < _NEG_ANCHORS).select(
        F.col("vec_id").alias("q_id"), F.col("label").alias("q_label")
    )
    scored = (
        emb.select(F.col("vec_id").alias("neg_id"), "label")
        .join(F.broadcast(q), F.col("label") != F.col("q_label"))
        .select(
            "q_id",
            "neg_id",
            F.md5(
                F.concat(
                    F.col("q_id").cast("string"), F.lit("|"), F.col("neg_id").cast("string")
                )
            ).alias("h"),
        )
    )
    w = Window.partitionBy("q_id").orderBy("h", "neg_id")
    return (
        scored.withColumn("neg_rank", F.row_number().over(w))
        .where(F.col("neg_rank") <= _NEG_K)
        .select("q_id", "neg_rank", "neg_id")
        .orderBy("q_id", "neg_rank")
    )


# ---------------------------------------------------------------------------
# yk01 — kNN hold-out label eval (embedding-quality metric)
# ---------------------------------------------------------------------------

#: Every 25th vector is a held-out query; its label is predicted by the
#: majority vote of its K nearest (cosine) neighbors among the rest.
_KNN_QMOD = 25
_KNN_K = 5


@register(
    "yk01_knn_holdout_eval",
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS q_id, label AS true_label, embedding AS q_vec,
             sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS q_norm
      FROM embeddings WHERE vec_id % {_KNN_QMOD} = 0
    ),
    c AS (
      SELECT vec_id AS c_id, label AS c_label, embedding AS c_vec,
             sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS c_norm
      FROM embeddings
    ),
    topk AS (
      SELECT q_id, true_label, c_label FROM (
        SELECT q.q_id, q.true_label, c.c_label,
               ROW_NUMBER() OVER (
                 PARTITION BY q.q_id
                 ORDER BY list_dot_product(CAST(q.q_vec AS DOUBLE[]), CAST(c.c_vec AS DOUBLE[]))
                          / NULLIF(q.q_norm * c.c_norm, 0) DESC,
                          c.c_id
               ) AS rk
        FROM q, c WHERE q.q_id <> c.c_id
      ) WHERE rk <= {_KNN_K}
    ),
    votes AS (
      SELECT q_id, true_label, c_label, COUNT(*) AS n
      FROM topk GROUP BY q_id, true_label, c_label
    ),
    pred AS (
      SELECT q_id, true_label, c_label AS pred_label FROM (
        SELECT q_id, true_label, c_label,
               ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY n DESC, c_label) AS vr
        FROM votes
      ) WHERE vr = 1
    )
    SELECT true_label AS label,
           COUNT(*) AS n_eval,
           CAST(SUM(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
           CAST((1000000 * SUM(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END)) // COUNT(*) AS BIGINT) AS acc_ppm
    FROM pred GROUP BY true_label ORDER BY label
    """,
    doc=(
        f"Embedding-quality eval by kNN hold-out: every {_KNN_QMOD}th "
        f"vector's label is predicted from the majority vote of its "
        f"{_KNN_K} nearest cosine neighbors (leave-one-out), reported "
        "as per-label exact-ppm accuracy — the cheap, label-grounded "
        "quality gate for an embedding column before it backs ANN "
        "dedup (dd05) or clustering (vx03): if kNN can't recover the "
        "labels, the sketch-ANN families are bucketing noise. All "
        "ordering deterministic (full-precision in-order fold for the "
        "dot product — ss01's bit-identical discipline; c_id then "
        "smallest-label tiebreaks), so the eval is engine-exact, not "
        "just approximately equal. Query side broadcasts (it is 1/"
        f"{_KNN_QMOD} of the corpus); at 1e9 vectors swap the exact "
        "scorer for xe04's PQ-ADC cascade and keep this exact form as "
        "the recall anchor on a sample (xe05's pattern)."
    ),
    tags=("similarity", "eval", "llm-pipeline"),
)
def yk01(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spotify_tags_etl_spark.functions.vecexpr import cosine
    from spotify_tags_etl_spark.operators.similarity import with_norm

    emb = load_table(spark, sf_dir, "embeddings")
    q = with_norm(
        emb.where(F.col("vec_id") % _KNN_QMOD == 0).select(
            F.col("vec_id").alias("q_id"),
            F.col("label").alias("true_label"),
            F.col("embedding").alias("q_vec"),
        ),
        "q_vec",
    ).withColumnRenamed("_norm", "q_norm")
    c = with_norm(
        emb.select(
            F.col("vec_id").alias("c_id"),
            F.col("label").alias("c_label"),
            F.col("embedding").alias("c_vec"),
        ),
        "c_vec",
    ).withColumnRenamed("_norm", "c_norm")
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .where(F.col("q_id") != F.col("c_id"))
        .withColumn("cosine", cosine("q_vec", "c_vec", "q_norm", "c_norm"))
    )
    wk = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("c_id"))
    topk = (
        scored.withColumn("rk", F.row_number().over(wk))
        .where(F.col("rk") <= _KNN_K)
        .select("q_id", "true_label", "c_label")
    )
    votes = topk.groupBy("q_id", "true_label", "c_label").agg(F.count(F.lit(1)).alias("n"))
    wv = Window.partitionBy("q_id").orderBy(F.desc("n"), F.asc("c_label"))
    pred = (
        votes.withColumn("vr", F.row_number().over(wv))
        .where(F.col("vr") == 1)
        .select("q_id", "true_label", F.col("c_label").alias("pred_label"))
    )
    correct = F.sum(F.when(F.col("pred_label") == F.col("true_label"), 1).otherwise(0))
    return (
        pred.groupBy(F.col("true_label").alias("label"))
        .agg(
            F.count(F.lit(1)).alias("n_eval"),
            correct.cast("bigint").alias("n_correct"),
        )
        .select(
            "label",
            "n_eval",
            "n_correct",
            F.expr("CAST((1000000 * n_correct) DIV n_eval AS BIGINT)").alias("acc_ppm"),
        )
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# yr01 — exact-rational Pearson correlation of two daily series
# ---------------------------------------------------------------------------

_DAY_US_Y = 86_400 * 1_000_000


@register(
    "yr01_daily_corr",
    oracle=f"""
    WITH daily AS (
      SELECT epoch_us(ts) // {_DAY_US_Y} AS day,
             COUNT(*) AS x,
             CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS y
      FROM events GROUP BY 1
    ),
    s AS (
      SELECT COUNT(*) AS n,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(CAST(x AS DECIMAL(38,0)) * x) AS DECIMAL(38,0)) AS sxx,
             CAST(SUM(CAST(y AS DECIMAL(38,0)) * y) AS DECIMAL(38,0)) AS syy,
             CAST(SUM(CAST(x AS DECIMAL(38,0)) * y) AS DECIMAL(38,0)) AS sxy
      FROM daily
    )
    SELECT n, sx, sy,
           CAST(CAST((CAST(n AS DECIMAL(38,0)) * sxy - CAST(sx AS DECIMAL(38,0)) * sy)
                * (CAST(n AS DECIMAL(38,0)) * sxy - CAST(sx AS DECIMAL(38,0)) * sy)
                AS DECIMAL(38,0)) AS VARCHAR) AS r2_num,
           CAST(CAST((CAST(n AS DECIMAL(38,0)) * sxx - CAST(sx AS DECIMAL(38,0)) * sx)
                * (CAST(n AS DECIMAL(38,0)) * syy - CAST(sy AS DECIMAL(38,0)) * sy)
                AS DECIMAL(38,0)) AS VARCHAR) AS r2_den
    FROM s
    """,
    doc=(
        "Pearson correlation between two daily series (event volume vs "
        "revenue cents) as the EXACT rational r² = (nΣxy − ΣxΣy)² / "
        "((nΣx² − Σx²ᵀ)(nΣy² − Σy²ᵀ)) — numerator and denominator "
        "carried in DECIMAL(38,0) (the cross-term square passes 2^63 "
        "at sf0.1) and emitted as strings, xs06's hash-stable "
        "spelling; the consumer divides at display time. No float "
        "summation anywhere, so the correlation is engine-exact — the "
        "covariance-family completion of av13's moments and xr02's "
        "slope. One O(#days) rollup + a 1-row global aggregate; at "
        "scale the daily frame comes from uz04's standing rollup."
    ),
    tags=("statistics", "correlation", "aggregate"),
)
def yr01(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.groupBy(F.expr(f"unix_micros(ts) DIV {_DAY_US_Y}").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("x"),
            F.sum(F.round(F.col("value") * 100, 0).cast("bigint")).cast("bigint").alias("y"),
        )
    )
    s = daily.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.expr("CAST(x AS DECIMAL(38,0)) * x")).cast("decimal(38,0)").alias("sxx"),
        F.sum(F.expr("CAST(y AS DECIMAL(38,0)) * y")).cast("decimal(38,0)").alias("syy"),
        F.sum(F.expr("CAST(x AS DECIMAL(38,0)) * y")).cast("decimal(38,0)").alias("sxy"),
    )
    return s.select(
        "n",
        "sx",
        "sy",
        F.expr(
            "CAST(CAST((CAST(n AS DECIMAL(38,0)) * sxy - CAST(sx AS DECIMAL(38,0)) * sy)"
            " * (CAST(n AS DECIMAL(38,0)) * sxy - CAST(sx AS DECIMAL(38,0)) * sy)"
            " AS DECIMAL(38,0)) AS STRING)"
        ).alias("r2_num"),
        F.expr(
            "CAST(CAST((CAST(n AS DECIMAL(38,0)) * sxx - CAST(sx AS DECIMAL(38,0)) * sx)"
            " * (CAST(n AS DECIMAL(38,0)) * syy - CAST(sy AS DECIMAL(38,0)) * sy)"
            " AS DECIMAL(38,0)) AS STRING)"
        ).alias("r2_den"),
    )


# ---------------------------------------------------------------------------
# yp01 — composed curation pipeline (the round-4 ops chained end to end)
# ---------------------------------------------------------------------------

#: Pipeline gates: minimum words, novelty floor (ppm of corpus-unique
#: shingles), containment threshold (yt01's), per-source budget fraction.
_P_WORD_MIN = 12
_P_NOV_MIN_PPM = 50_000
_P_BUDGET_NUM, _P_BUDGET_DEN = 9, 10


def _yp01_oracle() -> str:
    mins = ",\n         ".join(
        f"MIN(md5('{i}|' || s)) AS m{i}" for i in range(N_HASHES)
    )
    bands = "\n  UNION ALL\n".join(
        f"  SELECT l.doc_id AS d1, r.doc_id AS d2 FROM sig l JOIN sig r"
        f" ON l.m{b * BAND_ROWS} || l.m{b * BAND_ROWS + 1} = r.m{b * BAND_ROWS} || r.m{b * BAND_ROWS + 1}"
        f" AND l.doc_id < r.doc_id"
        for b in range(N_HASHES // BAND_ROWS)
    )
    return f"""
    WITH {_SHINGLE_SQL.lstrip()},
    sig AS (SELECT doc_id, {mins} FROM sh GROUP BY doc_id),
    cand AS (SELECT DISTINCT d1, d2 FROM (
{bands}
    )),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT c.d1, c.d2, COUNT(*) AS n_inter
      FROM cand c
      JOIN sh a ON a.doc_id = c.d1
      JOIN sh b ON b.doc_id = c.d2 AND a.s = b.s
      GROUP BY c.d1, c.d2
    ),
    contp AS (
      SELECT i.d1, i.d2,
             (1000 * i.n_inter >= {_CONT_PERMILLE} * sa.n) AS c12,
             (1000 * i.n_inter >= {_CONT_PERMILLE} * sb.n) AS c21
      FROM inter i
      JOIN sizes sa ON sa.doc_id = i.d1
      JOIN sizes sb ON sb.doc_id = i.d2
      WHERE 1000 * i.n_inter >= {_CONT_PERMILLE} * sa.n
         OR 1000 * i.n_inter >= {_CONT_PERMILLE} * sb.n
    ),
    dfreq AS (SELECT s, COUNT(*) AS df FROM sh GROUP BY s),
    nov AS (
      SELECT sh.doc_id,
             (1000000 * SUM(CASE WHEN dfreq.df = 1 THEN 1 ELSE 0 END)) // COUNT(*) AS novelty_ppm
      FROM sh JOIN dfreq ON dfreq.s = sh.s
      GROUP BY sh.doc_id
    ),
    s1 AS (
      SELECT doc_id, source, n_chars, md5(text) AS h
      FROM documents WHERE len(string_split(text, ' ')) >= {_P_WORD_MIN}
    ),
    s2 AS (
      SELECT doc_id, source, n_chars FROM (
        SELECT doc_id, source, n_chars,
               MIN(doc_id) OVER (PARTITION BY h) AS keep_id
        FROM s1
      ) WHERE doc_id = keep_id
    ),
    victims AS (
      SELECT DISTINCT CASE WHEN c.c12 AND NOT c.c21 THEN c.d1 ELSE c.d2 END AS v
      FROM contp c
      JOIN s2 a ON a.doc_id = c.d1
      JOIN s2 b ON b.doc_id = c.d2
    ),
    s3 AS (
      SELECT s2.* FROM s2 WHERE s2.doc_id NOT IN (SELECT v FROM victims)
    ),
    s4 AS (
      SELECT s3.doc_id, s3.source, s3.n_chars
      FROM s3 JOIN nov ON nov.doc_id = s3.doc_id
      WHERE nov.novelty_ppm >= {_P_NOV_MIN_PPM}
    ),
    ranked AS (
      SELECT source, doc_id, n_chars,
             SUM(n_chars) OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id
                                ROWS UNBOUNDED PRECEDING) AS cum,
             SUM(n_chars) OVER (PARTITION BY source) AS total
      FROM s4
    )
    SELECT source, doc_id, n_chars, CAST(cum AS BIGINT) AS cum
    FROM ranked
    WHERE {_P_BUDGET_DEN} * (cum - n_chars) < {_P_BUDGET_NUM} * total
    """


@register(
    "yp01_curation_pipeline",
    oracle=_yp01_oracle(),
    doc=(
        "The round-4 curation ops COMPOSED end to end — the corpus-"
        f"curation pipeline a training run actually executes: (1) "
        f"minimum-length gate (≥{_P_WORD_MIN} words), (2) exact dedup "
        "keep-first (dd01's hash-group, as a per-hash window), (3) "
        "containment prune — yt01's banded-LSH containment pairs "
        "among survivors, dropping the contained side (the larger "
        "doc survives; ties drop the higher id), (4) novelty floor "
        f"(ya01's corpus-unique-shingle share ≥{_P_NOV_MIN_PPM} ppm "
        "— boilerplate out), (5) xn02's per-source 90% greedy char "
        "budget. One registered query, one oracle, every stage "
        "exact-integer — proving the operators COMPOSE without "
        "re-materialization: shingle/signature frames are computed "
        "once and shared by the containment and novelty branches "
        "(tp01's composition argument applied to curation). At 100 TB "
        "each stage keeps its own documented scale path; no stage "
        "adds a pairwise or single-reducer step."
    ),
    tags=("training", "pipeline", "dedup", "quality", "llm-pipeline"),
)
def yp01(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out_scan(load_table(spark, sf_dir, "documents"), "doc_id")  # r12 §14
    sh = word_shingles(docs)

    # containment pairs (yt01's machinery, flags instead of ratios)
    pairs = lsh_candidate_pairs(minhash_signatures(sh))
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    s1g = sh.withColumnsRenamed({"doc_id": "d1", "s": "s1"})
    s2g = sh.withColumnsRenamed({"doc_id": "d2r", "s": "s2"})
    inter = (
        pairs.join(s1g, "d1")
        .join(s2g, (F.col("d2") == F.col("d2r")) & (F.col("s1") == F.col("s2")))
        .groupBy("d1", "d2")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    t = F.lit(_CONT_PERMILLE)
    contp = (
        inter.join(sizes.withColumnsRenamed({"doc_id": "d1", "n": "n1"}), "d1")
        .join(sizes.withColumnsRenamed({"doc_id": "d2", "n": "n2"}), "d2")
        .select(
            "d1",
            "d2",
            (F.lit(1000) * F.col("n_inter") >= t * F.col("n1")).alias("c12"),
            (F.lit(1000) * F.col("n_inter") >= t * F.col("n2")).alias("c21"),
        )
        .where(F.col("c12") | F.col("c21"))
    )

    # novelty (ya01's frame)
    dfreq = sh.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
    nov = (
        sh.join(dfreq, "s")
        .groupBy("doc_id")
        .agg(
            F.expr(
                "CAST((1000000 * SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END)) DIV COUNT(*) AS BIGINT)"
            ).alias("novelty_ppm")
        )
    )

    # stage 1-2: length gate + exact dedup keep-first
    s1 = docs.where(F.size(F.split("text", " ")) >= _P_WORD_MIN).select(
        "doc_id", "source", "n_chars", F.md5("text").alias("h")
    )
    wkeep = Window.partitionBy("h")
    s2 = (
        s1.withColumn("keep_id", F.min("doc_id").over(wkeep))
        .where(F.col("doc_id") == F.col("keep_id"))
        .select("doc_id", "source", "n_chars")
    )

    # stage 3: containment prune among survivors
    victims = (
        contp.join(s2.select(F.col("doc_id").alias("d1")), "d1")
        .join(s2.select(F.col("doc_id").alias("d2")), "d2")
        .select(
            F.when(F.col("c12") & ~F.col("c21"), F.col("d1"))
            .otherwise(F.col("d2"))
            .alias("doc_id")
        )
        .distinct()
    )
    s3 = s2.join(victims, "doc_id", "left_anti")

    # stage 4: novelty floor
    s4 = s3.join(nov, "doc_id").where(F.col("novelty_ppm") >= _P_NOV_MIN_PPM).select(
        "doc_id", "source", "n_chars"
    )

    # stage 5: xn02's per-source budget
    w_ord = (
        Window.partitionBy("source")
        .orderBy(F.col("n_chars").desc(), F.col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("source")
    ranked = s4.select(
        "source",
        "doc_id",
        "n_chars",
        F.sum("n_chars").over(w_ord).cast("bigint").alias("cum"),
        F.sum("n_chars").over(w_all).alias("total"),
    )
    return ranked.where(
        F.lit(_P_BUDGET_DEN) * (F.col("cum") - F.col("n_chars"))
        < F.lit(_P_BUDGET_NUM) * F.col("total")
    ).select("source", "doc_id", "n_chars", "cum")


# ---------------------------------------------------------------------------
# yo01 — conformal anomaly threshold (distribution-free outlier gate)
# ---------------------------------------------------------------------------

#: Split-conformal parameters: calibration fraction and miscoverage α.
#: The threshold is the ⌈(1-α)(n_cal+1)⌉-th smallest calibration score,
#: which guarantees ≤ α false-alarm rate on exchangeable data with NO
#: distributional assumption (the rank-statistics guarantee; compare
#: xo01's 3·MAD fence, which assumes a symmetric-ish bulk).
_CONF_CAL_FRAC = 0.5
_CONF_ALPHA_PCT = 5  # α = 5%


@register(
    "yo01_conformal_anomaly",
    oracle=f"""
    WITH cents AS (
      SELECT event_id,
             CAST(ROUND(value * 100, 0) AS BIGINT) AS c,
             {{frac}} AS frac
      FROM events
    ),
    center AS (SELECT CAST(SUM(c) // COUNT(*) AS BIGINT) AS mean_c FROM cents),
    scored AS (
      SELECT event_id, frac, CAST(ABS(c - center.mean_c) AS BIGINT) AS score_cents
      FROM cents CROSS JOIN center
    ),
    cal AS (
      SELECT score_cents, event_id,
             ROW_NUMBER() OVER (ORDER BY score_cents, event_id) AS rk,
             COUNT(*) OVER () AS n_cal
      FROM scored WHERE frac < {_CONF_CAL_FRAC}
    ),
    thr AS (
      SELECT CAST(score_cents AS BIGINT) AS thr_cents, CAST(n_cal AS BIGINT) AS n_cal
      FROM cal
      WHERE rk = ({100 - _CONF_ALPHA_PCT} * (n_cal + 1) + 99) // 100
    )
    SELECT s.event_id, s.score_cents, thr.thr_cents, thr.n_cal
    FROM scored s CROSS JOIN thr
    WHERE s.frac >= {_CONF_CAL_FRAC} AND s.score_cents > thr.thr_cents
    """.replace("{frac}", hash_frac_sql("event_id")),
    doc=(
        "Split-conformal anomaly gate: deterministic md5 calibration/"
        "test split, nonconformity score = |cents − integer mean|, "
        f"threshold = the ⌈{100 - _CONF_ALPHA_PCT}%·(n+1)⌉-th smallest "
        "calibration score — the DISTRIBUTION-FREE guarantee (≤ "
        f"{_CONF_ALPHA_PCT}% false alarms on exchangeable data) that "
        "xo01's MAD fence and xo04's residual gate cannot give. The "
        "order statistic is computed by operators/scalerank.py's "
        "range-partitioned exact rank — the module dogfooding its own "
        "scale path: no single-reducer window anywhere (the oracle "
        "keeps the window spelling as the truth anchor, xh01's "
        "pattern). Flagged test rows carry the threshold and "
        "calibration size for auditability; all integer cents."
    ),
    tags=("statistics", "anomaly", "conformal"),
)
def yo01(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spotify_tags_etl_spark.functions.hashing import hash_frac
    from spotify_tags_etl_spark.operators.scalerank import global_rank

    ev = load_table(spark, sf_dir, "events")
    cents = ev.select(
        "event_id",
        F.round(F.col("value") * 100, 0).cast("bigint").alias("c"),
        hash_frac(F.col("event_id")).alias("frac"),
    )
    center = cents.agg(F.expr("CAST(SUM(c) DIV COUNT(*) AS BIGINT)").alias("mean_c"))
    scored = cents.crossJoin(F.broadcast(center)).select(
        "event_id",
        "frac",
        F.abs(F.col("c") - F.col("mean_c")).cast("bigint").alias("score_cents"),
    )
    cal = scored.where(F.col("frac") < _CONF_CAL_FRAC).select("score_cents", "event_id")
    ranked, n_cal = global_rank(cal, ["score_cents", "event_id"], rank_col="rk")
    target = ((100 - _CONF_ALPHA_PCT) * (n_cal + 1) + 99) // 100
    thr = (
        ranked.where(F.col("rk") == target)
        .select(
            F.col("score_cents").alias("thr_cents"),
            F.lit(n_cal).cast("bigint").alias("n_cal"),
        )
    )
    return (
        scored.where(F.col("frac") >= _CONF_CAL_FRAC)
        .crossJoin(F.broadcast(thr))
        .where(F.col("score_cents") > F.col("thr_cents"))
        .select("event_id", "score_cents", "thr_cents", "n_cal")
    )


# ---------------------------------------------------------------------------
# yv15 — per-domain quality gate (FineWeb/C4-style source filtering)
# ---------------------------------------------------------------------------

#: Domains hard-dropped regardless of quality (the curated blocklist a
#: web pipeline maintains: spam nets, opt-out hosts, license-risk).
YV15_BLOCKLIST = ("src13", "src7")

#: Keep a domain only if its mean doc quality is >= this percent of the
#: corpus-wide mean (compared exactly via 128-bit cross-multiplication).
YV15_MIN_MEAN_PCT = 97


@register(
    "yv15_domain_quality_gate",
    oracle=f"""
    WITH scored AS (
      SELECT source, n_chars,
             1000 * len(list_distinct(string_split(text, ' ')))
               // len(string_split(text, ' ')) AS ttr_pm
      FROM documents
    ),
    dom AS (
      SELECT source, COUNT(*) AS n_docs, SUM(n_chars) AS sum_chars,
             SUM(ttr_pm) AS sum_ttr
      FROM scored GROUP BY 1
    ),
    tot AS (
      SELECT SUM(n_docs) AS n_total, SUM(sum_ttr) AS ttr_total FROM dom
    )
    SELECT d.source,
           CAST(d.n_docs AS BIGINT) AS n_docs,
           CAST(d.sum_chars AS BIGINT) AS sum_chars,
           CAST(d.sum_ttr // d.n_docs AS BIGINT) AS mean_ttr_pm,
           CAST(CASE WHEN d.source IN {YV15_BLOCKLIST} THEN 1 ELSE 0 END AS BIGINT)
             AS blocklisted,
           CAST(CASE WHEN CAST(d.sum_ttr AS HUGEINT) * t.n_total * 100
                          < {YV15_MIN_MEAN_PCT} * CAST(t.ttr_total AS HUGEINT) * d.n_docs
                     THEN 1 ELSE 0 END AS BIGINT) AS low_quality,
           CAST(CASE WHEN d.source NOT IN {YV15_BLOCKLIST}
                      AND CAST(d.sum_ttr AS HUGEINT) * t.n_total * 100
                          >= {YV15_MIN_MEAN_PCT} * CAST(t.ttr_total AS HUGEINT) * d.n_docs
                     THEN 1 ELSE 0 END AS BIGINT) AS keep
    FROM dom d, tot t ORDER BY d.source
    """,
    doc=(
        "Per-domain curation gate (the FineWeb/C4 source-filtering "
        "step): each doc gets an exact type-token-ratio permille "
        "(distinct words / words — integer DIV, no floats); domains "
        "aggregate to (n_docs, chars, mean TTR) and are gated by (a) a "
        f"literal blocklist {YV15_BLOCKLIST} (broadcast NOT IN — the "
        "spam/opt-out list every web pipeline maintains) and (b) mean "
        f"quality >= {YV15_MIN_MEAN_PCT}% of the corpus mean, compared "
        "via 128-bit cross-multiplication (sum_ttr * n_total * 100 "
        "passes 2^63 at ~1e12 docs — real at 100 TB; Spark "
        "DECIMAL(38,0) / DuckDB HUGEINT). Shape: one map-combined "
        "groupBy(source) over the corpus, a 1-row global total "
        "broadcast back, and an O(#domains) decision frame — the "
        "whole gate is a single wide pass no matter the corpus size. "
        "Composes upstream of yp01 (doc-level curation) and yl02 "
        "(class balance)."
    ),
    tags=("curation", "quality", "llm-pipeline"),
)
def yv15(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "source",
        "n_chars",
        F.expr(
            "1000 * size(array_distinct(split(text, ' '))) DIV size(split(text, ' '))"
        ).alias("ttr_pm"),
    )
    dom = scored.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
        F.sum("ttr_pm").alias("sum_ttr"),
    )
    tot = dom.agg(
        F.sum("n_docs").alias("n_total"), F.sum("sum_ttr").alias("ttr_total")
    )
    block = [f"'{s}'" for s in YV15_BLOCKLIST]
    in_block = f"source IN ({', '.join(block)})"
    low_q = (
        f"CAST(sum_ttr AS DECIMAL(38,0)) * n_total * 100"
        f" < {YV15_MIN_MEAN_PCT} * CAST(ttr_total AS DECIMAL(38,0)) * n_docs"
    )
    return (
        dom.crossJoin(F.broadcast(tot))
        .selectExpr(
            "source",
            "CAST(n_docs AS BIGINT) AS n_docs",
            "CAST(sum_chars AS BIGINT) AS sum_chars",
            "CAST(sum_ttr DIV n_docs AS BIGINT) AS mean_ttr_pm",
            f"CAST(CASE WHEN {in_block} THEN 1 ELSE 0 END AS BIGINT) AS blocklisted",
            f"CAST(CASE WHEN {low_q} THEN 1 ELSE 0 END AS BIGINT) AS low_quality",
            f"CAST(CASE WHEN NOT ({in_block}) AND NOT ({low_q}) THEN 1 ELSE 0 END"
            " AS BIGINT) AS keep",
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# yv21 — quality-filter threshold sweep: the PR curve in one corpus pass
# ---------------------------------------------------------------------------

#: Classifier-score thresholds swept (permille).
_YV21_TS = tuple(range(100, 901, 100))

#: Ground truth = 60% signal + 40% independent noise >= 500 permille —
#: correlated with the score but not degenerate, so the curve actually
#: trades precision against recall at every SF.
_YV21_SIG, _YV21_CUT = 600, 500


def _yv21_h(tag: str, engine: str) -> str:
    if engine == "spark":
        return (
            f"CAST(conv(substring(md5(concat('{tag}:', CAST(doc_id AS STRING))),"
            " 1, 8), 16, 10) AS BIGINT)"
        )
    return f"('0x' || substr(md5('{tag}:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT"


def _yv21_scored(engine: str) -> str:
    h_q, h_n = _yv21_h("q", engine), _yv21_h("n", engine)
    div = "DIV" if engine == "spark" else "//"
    return (
        f"SELECT {h_q} % 1000 AS score_pm,"
        f" CASE WHEN (({h_q} % 1000) * {_YV21_SIG}"
        f" + ({h_n} % 1000) * {1000 - _YV21_SIG}) {div} 1000 >= {_YV21_CUT}"
        " THEN 1 ELSE 0 END AS label"
        " FROM documents"
    )


@register(
    "yv21_pr_threshold_sweep",
    oracle=f"""
    WITH scored AS ({_yv21_scored("duck")}),
    a AS (
      SELECT
        {", ".join(
            f"SUM(CASE WHEN score_pm >= {t} AND label = 1 THEN 1 ELSE 0 END) AS tp_{t},"
            f" SUM(CASE WHEN score_pm >= {t} AND label = 0 THEN 1 ELSE 0 END) AS fp_{t},"
            f" SUM(CASE WHEN score_pm < {t} AND label = 1 THEN 1 ELSE 0 END) AS fn_{t}"
            for t in _YV21_TS
        )}
      FROM scored
    )
    {" UNION ALL ".join(
        f"SELECT {t} AS threshold_pm, CAST(tp_{t} AS BIGINT) AS tp,"
        f" CAST(fp_{t} AS BIGINT) AS fp, CAST(fn_{t} AS BIGINT) AS fn,"
        f" CAST(CAST(tp_{t} AS HUGEINT) * 1000000 // (tp_{t} + fp_{t}) AS BIGINT)"
        f"   AS precision_ppm,"
        f" CAST(CAST(tp_{t} AS HUGEINT) * 1000000 // (tp_{t} + fn_{t}) AS BIGINT)"
        f"   AS recall_ppm,"
        f" CAST(CAST(tp_{t} AS HUGEINT) * 2000000 // (2 * tp_{t} + fp_{t} + fn_{t})"
        f"   AS BIGINT) AS f1_ppm FROM a"
        for t in _YV21_TS
    )}
    ORDER BY threshold_pm
    """,
    doc=(
        "Quality-filter calibration: the full precision/recall/F1 curve "
        f"across {len(_YV21_TS)} candidate score thresholds in ONE "
        "corpus pass — 27 conditional aggregates collapse the corpus to "
        "a single partial-aggregated row, then the per-threshold table "
        "is unstacked from that O(1) frame (choose the filter cutoff "
        "BEFORE discarding 100 TB of documents, and see what each "
        "threshold costs in recall). Ground truth is md5-synthesized at "
        f"{_YV21_SIG}/1000 signal correlation so the trade-off is real "
        "at every SF. F1 is computed as 2tp*1e6 DIV (2tp+fp+fn) — ONE "
        "truncating division, no nested ppm rounding; numerators "
        "cross-multiply in 128-bit (tp reaches corpus size). Shape: "
        "map-combined scalar aggregate (no explode — the sweep rides "
        "CASE arms, not row multiplication), then constant-size "
        "arithmetic."
    ),
    tags=("curation", "quality", "eval", "llm-pipeline"),
)
def yv21(spark: SparkSession, sf_dir: str) -> DataFrame:
    # uuid-suffixed view (same pattern as yv20's grid view): a fixed name
    # races with concurrent same-session invocations between create and use.
    view = f"yv21_documents_{_uuid.uuid4().hex[:8]}"
    load_table(spark, sf_dir, "documents").createOrReplaceTempView(view)
    scored = spark.sql(_yv21_scored("spark").replace("FROM documents", f"FROM {view}"))
    spark.catalog.dropTempView(view)
    aggs = []
    for t in _YV21_TS:
        aggs += [
            F.sum(F.expr(f"CASE WHEN score_pm >= {t} AND label = 1 THEN 1 ELSE 0 END")).alias(f"tp_{t}"),
            F.sum(F.expr(f"CASE WHEN score_pm >= {t} AND label = 0 THEN 1 ELSE 0 END")).alias(f"fp_{t}"),
            F.sum(F.expr(f"CASE WHEN score_pm < {t} AND label = 1 THEN 1 ELSE 0 END")).alias(f"fn_{t}"),
        ]
    a = scored.agg(*aggs)
    stacked = a.selectExpr(
        f"stack({len(_YV21_TS)}, "
        + ", ".join(f"{t}L, tp_{t}, fp_{t}, fn_{t}" for t in _YV21_TS)
        + ") AS (threshold_pm, tp, fp, fn)"
    )
    return stacked.selectExpr(
        "threshold_pm",
        "CAST(tp AS BIGINT) AS tp",
        "CAST(fp AS BIGINT) AS fp",
        "CAST(fn AS BIGINT) AS fn",
        "CAST(CAST(tp AS DECIMAL(38,0)) * 1000000 DIV (tp + fp) AS BIGINT) AS precision_ppm",
        "CAST(CAST(tp AS DECIMAL(38,0)) * 1000000 DIV (tp + fn) AS BIGINT) AS recall_ppm",
        "CAST(CAST(tp AS DECIMAL(38,0)) * 2000000 DIV (2 * tp + fp + fn) AS BIGINT) AS f1_ppm",
    ).orderBy("threshold_pm")


# ---------------------------------------------------------------------------
# yv22 — bigram coverage of a held-out split (LM-fit / OOV-rate audit)
# ---------------------------------------------------------------------------

#: 1-in-10 deterministic held-out split.
_YV22_MOD = 10


@register(
    "yv22_bigram_coverage",
    oracle=f"""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    sh AS (
      SELECT DISTINCT doc_id,
             unnest([t[i] || ' ' || t[i+1] for i in range(1, len(t))]) AS s
      FROM toks WHERE len(t) >= 2
    ),
    split AS (
      SELECT doc_id, lang,
             CASE WHEN ('0x' || substr(md5('sp:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                  % {_YV22_MOD} = 0 THEN 1 ELSE 0 END AS is_test
      FROM documents
    ),
    train_vocab AS (
      SELECT DISTINCT s FROM sh JOIN split USING (doc_id) WHERE is_test = 0
    ),
    test_b AS (
      SELECT sh.s, split.lang FROM sh JOIN split USING (doc_id) WHERE is_test = 1
    ),
    per_lang AS (
      SELECT lang,
             COUNT(*) AS n_bigrams,
             SUM(CASE WHEN tv.s IS NOT NULL THEN 1 ELSE 0 END) AS n_covered
      FROM test_b LEFT JOIN train_vocab tv USING (s)
      GROUP BY lang
    )
    SELECT lang, CAST(n_bigrams AS BIGINT) AS n_bigrams,
           CAST(n_covered AS BIGINT) AS n_covered,
           CAST(CAST(n_covered AS HUGEINT) * 1000000 // n_bigrams AS BIGINT)
             AS covered_ppm
    FROM per_lang ORDER BY lang
    """,
    doc=(
        "Held-out bigram coverage: split documents 9:1 by md5, build "
        "the train-side bigram vocabulary, and measure per language "
        "what share of the held-out docs' bigrams the training corpus "
        "has seen — the cheap LM-fit proxy (low coverage = the corpus "
        "won't model that language/domain; the complement of the "
        "covered_ppm is the OOV rate a tokenizer/LM will face). Rides "
        "dd02's shingle frame at n=2 (distinct per doc). Shape: one "
        "bigram explode, one distinct on the train side and one "
        "gram-keyed LEFT join — both hash-partition on the bigram key "
        "(md5-uniform docs, Zipfian grams — AQE skew-join handles the "
        "head), then an O(#languages) rollup. No pairwise work; cost "
        "is O(corpus bigrams) at any scale."
    ),
    tags=("curation", "text", "eval", "llm-pipeline"),
)
def yv22(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out_scan(load_table(spark, sf_dir, "documents"), "doc_id")  # r12 §14
    sh = word_shingles(docs, n=2)
    split = docs.select(
        "doc_id",
        "lang",
        F.expr(
            "CASE WHEN CAST(conv(substring(md5(concat('sp:', CAST(doc_id AS STRING))),"
            f" 1, 8), 16, 10) AS BIGINT) % {_YV22_MOD} = 0 THEN 1 ELSE 0 END"
        ).alias("is_test"),
    )
    tagged = sh.join(split, "doc_id")
    train_vocab = tagged.where("is_test = 0").select("s").distinct()
    test_b = tagged.where("is_test = 1").select("s", "lang")
    joined = test_b.join(
        train_vocab.withColumn("_hit", F.lit(1)), "s", "left"
    )
    return (
        joined.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum(F.coalesce(F.col("_hit"), F.lit(0))).alias("n_covered"),
        )
        .selectExpr(
            "lang",
            "CAST(n_bigrams AS BIGINT) AS n_bigrams",
            "CAST(n_covered AS BIGINT) AS n_covered",
            "CAST(CAST(n_covered AS DECIMAL(38,0)) * 1000000 DIV n_bigrams AS BIGINT)"
            " AS covered_ppm",
        )
        .orderBy("lang")
    )
