"""Round-8 LLM-pipeline operators (zc band).

zc01 — sequence packing: assemble variable-length documents into
fixed-size training context windows with bounded padding, as pure
relational algebra (the stage after za01/zb01's tokenization that
actually BUILDS the training sequences; banded FFD, no doc splitting —
the complement of tz05's concat-and-chop).

zc02 — tokenizer round-trip audit: prove corpus-level losslessness of
the learned BPE tokenization by comparing the detokenized vocabulary
against an independently re-derived source vocabulary via grouped
checksums (the gate a real pipeline runs after every vocab change).

zc03 — semantic dedup decision (SemDeDup-style): sign-LSH over the
ye01 int8 projection, exact integer-cosine verification, greedy-by-id
keep/drop output.

zc04 — streaming twin of zb03's DSIR importance scoring (census
SUM-merge + idempotent per-batch doc histograms).

zc05 — per-source curriculum schedule: yv01's largest-remainder
quotas x per-source easy-to-hard order, as the dataloader manifest.

zc06 — packing-efficiency report (zc01 rolled up per band: fill and
padding-waste ppm — the wasted-FLOPs number a training org watches).

zc07 — streaming twin of zc06 (banded packing stats are order-free,
so the report streams as a <= 13-row SUM-merge).

Reference parity note: the reference ETL
(/root/reference/src/spotify_tags_etl/) has no training-data stage;
these operators extend the engine along SURVEY.md's
"training-data pipeline" axis, same as the za/zb band.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spotify_tags_etl_spark.operators.scalerank import grouped_rank
from spotify_tags_etl_spark.operators.ytrain import (
    YV10_MAX_LEN,
    YV10_MIN_LEN,
    YV10_ROUNDS,
    bpe_ctes,
    bpe_learn,
)
from spotify_tags_etl_spark.plans.planmetrics import record_plan
from spotify_tags_etl_spark.plans.registry import register
from spotify_tags_etl_spark.functions.concurrency import fan_out_scan
from spotify_tags_etl_spark.functions.vecexpr import (
    cosine_at_least_int64,
    pair_dot_int64,
    project_int64,
    quantize_long,
    self_dot_int64,
)
from spotify_tags_etl_spark.sources.tpch import load_table

# ---------------------------------------------------------------------------
# zc01 — banded first-fit-decreasing sequence packing
# ---------------------------------------------------------------------------

#: Context window size in tokens.
ZC01_WINDOW = 4096

#: chars -> tokens conversion rate (ppm). A fixed planning constant so
#: the packing query is self-contained and cheap; in production this is
#: wired from za05's measured ``tokens_per_char_ppm`` (the two compose:
#: za05 measures the rate under the learned tokenizer, zc01 consumes
#: it). 250000 ppm = 4 chars/token, the conventional rule of thumb.
ZC01_TOK_PPM = 250_000

#: window_id = band_exp * 2^44 + index-within-band: 2^44 windows per
#: band before collision — at 4096-token windows that is ~7e16 tokens
#: PER BAND, comfortably past 100 TB corpora.
ZC01_BAND_BASE = 1 << 44


@register(
    "zc01_sequence_packing",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
             LEAST(GREATEST(CAST(n_chars AS BIGINT) * {ZC01_TOK_PPM} // 1000000, 1),
                   {ZC01_WINDOW}) AS tok
      FROM documents
    ),
    banded AS (
      SELECT doc_id, tok,
             CASE WHEN tok <= 1 THEN 0
                  ELSE length(bin(tok - 1)) END AS band_exp
      FROM toks
    ),
    ranked AS (
      SELECT doc_id, tok, band_exp,
             ROW_NUMBER() OVER (PARTITION BY band_exp
                                ORDER BY tok DESC, doc_id ASC) - 1 AS r
      FROM banded
    ),
    placed AS (
      SELECT doc_id, tok, band_exp, r,
             (CAST(1 AS BIGINT) << band_exp) AS slot_len,
             {ZC01_WINDOW} // (CAST(1 AS BIGINT) << band_exp) AS k
      FROM ranked
    ),
    w AS (
      SELECT doc_id,
             CAST(tok AS BIGINT) AS doc_tokens,
             CAST(band_exp AS BIGINT) * {ZC01_BAND_BASE} + r // k AS window_id,
             CAST((r % k) * slot_len AS BIGINT) AS slot_offset
      FROM placed
    )
    SELECT window_id, doc_id, slot_offset, doc_tokens,
           CAST(SUM(doc_tokens) OVER (PARTITION BY window_id) * 1000000
                // {ZC01_WINDOW} AS BIGINT) AS fill_ppm
    FROM w
    ORDER BY window_id, slot_offset
    """,
    doc=(
        "SEQUENCE PACKING: assemble documents into fixed "
        f"{ZC01_WINDOW}-token context windows — the stage that builds "
        "the actual training sequences after tokenization (za01/zb01) "
        "and budgeting (yv18). Exact first-fit-decreasing is "
        "inherently sequential (each placement depends on every bin's "
        "current fill), so this is the BANDED FFD approximation that "
        "parallelizes: documents band by power-of-two token length, "
        "each window packs k = W/2^b same-band documents into fixed "
        "slots, and slot assignment is pure rank arithmetic "
        "(window = rank DIV k, slot_offset = (rank MOD k) * 2^b). "
        "Padding per doc is bounded by its slot slack < half the slot, "
        "so every window is > 50% full wherever its band has >= k "
        "docs remaining — the bound exact FFD also cannot beat by 2x. "
        "Scale shape: ONE corpus-projection scan (doc_id, n_chars), "
        "per-band rank via scalerank.grouped_rank (range repartition "
        "+ parallel (_pid, band) window + broadcast per-(partition, "
        "band) offsets — no single-reducer and no 13-reducer band "
        "window), per-window fill via a keyed window "
        "partitioned on window_id (<= k rows per partition). Output: "
        "(window_id, doc_id, slot_offset, doc_tokens, fill_ppm). "
        "Deviation from exact FFD is the point — documented above; "
        "integer-exact, so the DuckDB oracle (same arithmetic, "
        "per-band ROW_NUMBER) is bit-identical. Complements "
        "tz05_pack_sequences (concat-and-chop, which SPLITS documents "
        "at window boundaries): zc01 preserves document boundaries at "
        "the cost of bounded padding — the two ends of the "
        "packing-strategy tradeoff a training stack chooses between."
    ),
    tags=("training", "packing", "llm-pipeline"),
)
def zc01(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    banded = docs.select(
        "doc_id",
        F.expr(
            f"LEAST(GREATEST(CAST(n_chars AS BIGINT) * {ZC01_TOK_PPM}"
            f" DIV 1000000, 1), {ZC01_WINDOW})"
        ).alias("tok"),
    ).withColumn(
        # smallest power of two >= tok, integer-exact via the binary
        # string length of tok-1 (float log2 could flip at 2^p +/- 1
        # boundaries between engines; bin() cannot).
        "band_exp",
        F.expr("CASE WHEN tok <= 1 THEN 0 ELSE length(bin(tok - 1)) END"),
    )
    # Per-band rank via scalerank.grouped_rank: <= 13 bands means a
    # Window.partitionBy(band_exp) would funnel millions of rows into
    # 13 reducers — exactly the skewed-window class the plan ratchet
    # bans. grouped_rank range-lays-out (band, tok DESC, doc_id),
    # broadcasts per-(partition, band) offsets, and ranks in a PARALLEL
    # (_pid, band) window: one corpus-projection scan, no skew.
    ranked, _n = grouped_rank(
        banded,
        ["band_exp"],
        [F.col("tok").desc(), F.col("doc_id").asc()],
        rank_col="brk",
    )
    record_plan(ranked, "zc01:banded_rank")
    placed = ranked.selectExpr(
        "doc_id",
        "CAST(tok AS BIGINT) AS doc_tokens",
        "band_exp",
        "brk - 1 AS r",
        "shiftleft(CAST(1 AS BIGINT), band_exp) AS slot_len",
        f"{ZC01_WINDOW} DIV shiftleft(CAST(1 AS BIGINT), band_exp) AS k",
    )
    w = placed.selectExpr(
        "doc_id",
        "doc_tokens",
        f"CAST(band_exp AS BIGINT) * {ZC01_BAND_BASE} + r DIV k AS window_id",
        "CAST((r % k) * slot_len AS BIGINT) AS slot_offset",
    )
    return w.select(
        "window_id",
        "doc_id",
        "slot_offset",
        "doc_tokens",
        F.expr(
            f"CAST(SUM(doc_tokens) OVER (PARTITION BY window_id) * 1000000"
            f" DIV {ZC01_WINDOW} AS BIGINT)"
        ).alias("fill_ppm"),
    ).orderBy("window_id", "slot_offset")


# ---------------------------------------------------------------------------
# zc02 — tokenizer round-trip losslessness audit
# ---------------------------------------------------------------------------

#: Checksum buckets: the audit rolls corpus-level equality up to a few
#: bucket rows so the evidence is inspectable without shipping the
#: vocabulary anywhere.
ZC02_BUCKETS = 16


def _zc02_oracle_sql(rounds: int = YV10_ROUNDS) -> str:
    ctes = bpe_ctes(rounds)
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f""",
    det AS (SELECT replace(seq, '|', '') AS w, cnt, -1 AS side FROM w{rounds}),
    src AS (SELECT w, cnt, 1 AS side FROM tok),
    u AS (
      SELECT ('0x' || substr(md5(w), 1, 2))::BIGINT % {ZC02_BUCKETS} AS bucket,
             w, cnt, side,
             ('0x' || substr(md5(w || ':' || CAST(cnt AS VARCHAR)), 1, 8))::BIGINT AS h
      FROM (SELECT w, cnt, side FROM src UNION ALL SELECT w, cnt, side FROM det) z
    ),
    g AS (
      SELECT bucket, w,
             SUM(CASE WHEN side = 1 THEN cnt END) AS cnt_src,
             SUM(CASE WHEN side = -1 THEN cnt END) AS cnt_det,
             SUM(CASE WHEN side = 1 THEN h END) AS h_src,
             SUM(CASE WHEN side = -1 THEN h END) AS h_det
      FROM u GROUP BY bucket, w
    )
    SELECT bucket,
           CAST(COUNT(cnt_src) AS BIGINT) AS src_types,
           CAST(COUNT(cnt_det) AS BIGINT) AS det_types,
           CAST(SUM(cnt_src) AS BIGINT) AS src_occurrences,
           CAST(SUM(cnt_det) AS BIGINT) AS det_occurrences,
           CAST(SUM(h_src) AS BIGINT) AS src_checksum,
           CAST(SUM(h_det) AS BIGINT) AS det_checksum,
           CAST(SUM(CASE WHEN cnt_src IS DISTINCT FROM cnt_det
                         THEN 1 ELSE 0 END) AS BIGINT) AS mismatch_types
    FROM g GROUP BY bucket ORDER BY bucket
    """
    )


@register(
    "zc02_tokenizer_roundtrip",
    oracle=_zc02_oracle_sql(),
    doc=(
        "TOKENIZER ROUND-TRIP AUDIT: detokenize the learned-BPE "
        "vocabulary (concat tokens in order = strip the '|' "
        "separators) and prove corpus-level equality with an "
        "independently re-derived source vocabulary — the "
        "'tokenization is lossless' gate a production pipeline runs "
        "after every vocab change before anything downstream trains "
        "on the tokens. Evidence is rolled up to "
        f"{ZC02_BUCKETS} md5-bucket rows: per bucket the word-type and "
        "occurrence totals, an order-insensitive SUM-of-md5-prefix "
        "checksum for each side, and mismatch_types = count of words "
        "whose (word, count) pair differs between the sides — every "
        "row must show src == det and mismatch_types = 0 (pinned by "
        "tests/test_round8_additions.py). Shape: the detok side is "
        "the learner's O(vocab) frame (checkpointed); the source side "
        "is one map-combined corpus groupBy; both sides then flow "
        "through ONE union -> (bucket, word) groupBy -> bucket rollup "
        "— no join, two keyed exchanges, nothing corpus-sized on a "
        "single reducer. The checksum addend is a 32-bit md5 prefix, "
        "so the per-bucket SUM stays int64-safe past 4e9 word types."
    ),
    tags=("text", "tokenizer", "audit", "llm-pipeline"),
)
def zc02(spark: SparkSession, sf_dir: str) -> DataFrame:
    _rows, words = bpe_learn(spark, sf_dir, YV10_ROUNDS)
    det = words.select(
        F.translate("seq", "|", "").alias("w"), "cnt", F.lit(-1).alias("side")
    )
    record_plan(det, "zc02:detok")
    det = det.localCheckpoint(eager=True)
    words.unpersist()
    docs = load_table(spark, sf_dir, "documents")
    src = (
        docs.select(F.explode(F.split(F.lower("text"), "[^a-z]+")).alias("w"))
        .where(F.length("w").between(YV10_MIN_LEN, YV10_MAX_LEN))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select("w", "cnt", F.lit(1).alias("side"))
    )
    u = src.unionByName(det).select(
        F.expr(
            f"CAST(conv(substring(md5(w), 1, 2), 16, 10) AS BIGINT) % {ZC02_BUCKETS}"
        ).alias("bucket"),
        "w",
        "cnt",
        "side",
        F.expr(
            "CAST(conv(substring(md5(concat(w, ':', CAST(cnt AS STRING))), 1, 8),"
            " 16, 10) AS BIGINT)"
        ).alias("h"),
    )
    g = u.groupBy("bucket", "w").agg(
        F.sum(F.when(F.col("side") == 1, F.col("cnt"))).alias("cnt_src"),
        F.sum(F.when(F.col("side") == -1, F.col("cnt"))).alias("cnt_det"),
        F.sum(F.when(F.col("side") == 1, F.col("h"))).alias("h_src"),
        F.sum(F.when(F.col("side") == -1, F.col("h"))).alias("h_det"),
    )
    return (
        g.groupBy("bucket")
        .agg(
            F.count("cnt_src").cast("bigint").alias("src_types"),
            F.count("cnt_det").cast("bigint").alias("det_types"),
            F.sum("cnt_src").cast("bigint").alias("src_occurrences"),
            F.sum("cnt_det").cast("bigint").alias("det_occurrences"),
            F.sum("h_src").cast("bigint").alias("src_checksum"),
            F.sum("h_det").cast("bigint").alias("det_checksum"),
            F.sum(
                F.expr("CASE WHEN cnt_src IS DISTINCT FROM cnt_det THEN 1 ELSE 0 END")
            )
            .cast("bigint")
            .alias("mismatch_types"),
        )
        .orderBy("bucket")
    )


# ---------------------------------------------------------------------------
# zc03 — LSH-bucketed semantic dedup over the int8 projection
# ---------------------------------------------------------------------------

#: Sign-LSH layout over the ye01-style int8 projection: TABLES tables
#: of BITS sign bits each (16 projected dims total). Constants here;
#: production sizes (bits, tables) from the corpus via the yv20 LSH
#: S-curve planner (bits must grow ~log n to keep buckets bounded).
ZC03_BITS = 4
ZC03_TABLES = 4

#: Near-dup cosine threshold (ppm). dd05's fixture calibration: all-pair
#: p99 ~ 0.295, within-label max ~ 0.47 — 0.35 drops a realistic ~25%.
ZC03_T_PPM = 350_000


def _zc03_w(i: int, j: int) -> int:
    """Python twin of yscale's ``_W_SPARK`` / ``_W_DUCK`` projection
    weight (md5("i:j") first-8-hex % 7 - 3) — ye01's random projection
    matrix, extended to j = 1..16 (the formula is j-generic). Equality
    with the SQL spelling is pinned by tests/test_round8_additions.py."""
    import hashlib

    return int(hashlib.md5(f"{i}:{j}".encode()).hexdigest()[:8], 16) % 7 - 3


def _zc03_ctes() -> str:
    """The zc03 oracle's CTE body, from quantization through the
    ``dups(d2, n)`` drop-evidence relation — exposed so composed
    reports (zd01's dedup funnel) reuse the EXACT same semantic-dedup
    SQL instead of a drifting re-spelling. CTE names used: q, p, b, c,
    pairs, dots, dups."""
    dims = ZC03_BITS * ZC03_TABLES
    wrows = [[_zc03_w(i, j) for i in range(1, 65)] for j in range(1, dims + 1)]
    proj = ",\n             ".join(
        f"CAST(list_dot_product(CAST(q AS DOUBLE[]),"
        f" CAST({wrows[j - 1]} AS DOUBLE[])) AS BIGINT) AS p{j}"
        for j in range(1, dims + 1)
    )
    bks = ",\n             ".join(
        "("
        + " + ".join(
            f"{1 << m} * CASE WHEN p{ZC03_BITS * (t - 1) + m + 1} > 0 THEN 1 ELSE 0 END"
            for m in range(ZC03_BITS)
        )
        + f") AS bk{t}"
        for t in range(1, ZC03_TABLES + 1)
    )
    bk_case = " ".join(
        f"WHEN {t} THEN bk{t}" for t in range(1, ZC03_TABLES + 1)
    )
    t2 = ZC03_T_PPM * ZC03_T_PPM
    return f"""q AS (
      SELECT vec_id,
             list_apply(embedding,
                        v -> CAST(floor(CAST(v AS DOUBLE) * 127) AS BIGINT)) AS q
      FROM embeddings
    ),
    p AS (
      SELECT vec_id, q,
             CAST(list_dot_product(CAST(q AS DOUBLE[]), CAST(q AS DOUBLE[]))
                  AS BIGINT) AS na,
             {proj}
      FROM q
    ),
    b AS (
      SELECT vec_id, q, na,
             {bks}
      FROM p
    ),
    c AS (
      SELECT vec_id, t, CASE t {bk_case} END AS bk
      FROM b, UNNEST([{",".join(str(t) for t in range(1, ZC03_TABLES + 1))}]) AS u(t)
    ),
    pairs AS (
      SELECT DISTINCT c1.vec_id AS d1, c2.vec_id AS d2
      FROM c c1 JOIN c c2 ON c1.t = c2.t AND c1.bk = c2.bk
                         AND c1.vec_id < c2.vec_id
    ),
    dots AS (
      SELECT j.d1 AS d1, j.d2 AS d2,
             CAST(list_dot_product(CAST(b1.q AS DOUBLE[]), CAST(b2.q AS DOUBLE[]))
                  AS BIGINT) AS dp,
             b1.na AS na1, b2.na AS na2
      FROM pairs j
      JOIN b b1 ON b1.vec_id = j.d1
      JOIN b b2 ON b2.vec_id = j.d2
    ),
    edges AS (
      SELECT d1, d2 FROM dots
      WHERE dp > 0
        AND CAST(dp AS HUGEINT) * dp * 1000000000000
            >= {t2} * (CAST(na1 AS HUGEINT) * na2)
    ),
    dups AS (
      SELECT d2, COUNT(*) AS n FROM edges GROUP BY d2
    )"""


def _zc03_oracle_sql() -> str:
    return f"""
    WITH {_zc03_ctes()}
    SELECT q.vec_id AS vec_id,
           CAST(CASE WHEN d.n IS NULL THEN 1 ELSE 0 END AS BIGINT) AS keep,
           CAST(COALESCE(d.n, 0) AS BIGINT) AS n_smaller_dups
    FROM q LEFT JOIN dups d ON d.d2 = q.vec_id
    ORDER BY vec_id
    """


@register(
    "zc03_semantic_dedup",
    oracle=_zc03_oracle_sql(),
    doc=(
        "SEMANTIC DEDUP, production path (SemDeDup-style): embeddings "
        "quantize to int8 (ye01's floor(v*127)), project through "
        "ye01's md5-derived +/-3 random matrix extended to "
        f"{ZC03_BITS * ZC03_TABLES} dims, and sign-bucket into "
        f"{ZC03_TABLES} LSH tables x {ZC03_BITS} bits "
        "(OR-amplification: candidate iff bucket-equal in ANY table — "
        "ss02's machinery applied to the DEDUP decision). Candidates "
        "verify with an EXACT integer cosine test (dp^2 * 1e12 >= "
        "T_ppm^2 * |a|^2 * |b|^2, 128-bit products — no float, no "
        "sqrt), and the decision rule is deterministic "
        "TRANSITIVE-CLOSURE-style drop-by-id: a vector is dropped iff "
        "ANY smaller-id candidate clears the threshold — including "
        "candidates that were themselves dropped. On a chain A~B, B~C, "
        "A!~C this drops BOTH B and C, i.e. it may over-drop relative "
        "to iterative keep-set greedy (SemDeDup compares only against "
        "KEPT vectors and would keep C); every drop is still a genuine "
        "above-threshold duplicate of some real corpus vector (the "
        "no-false-drops test), the rule is single-pass/order-free "
        "(keep-set greedy is inherently sequential), and it is the "
        "conservative choice for dedup. zd03 documents the same rule. "
        "Output (vec_id, keep, n_smaller_dups). Both "
        "engines compute identical candidates from identical integer "
        "projections, so the oracle is bit-exact; the approximation "
        "is only vs TRUE all-pairs dedup (LSH recall, tunable via "
        "bits/tables — yv20 plans the S-curve; a semantic test pins "
        "zero FALSE drops against brute force, since every drop is "
        "exact-verified). Scale shape: the quantized+bucketed corpus "
        "is checkpointed once and reused by all three consumers "
        "(candidate explode, both pair sides) — the r7 scan-audit "
        "discipline; per-table bucket joins are keyed (t, bucket); "
        "never all-pairs. Per-table quadratic-within-bucket is the "
        "standard LSH contract, bounded by sizing bits to ~log n."
    ),
    tags=("dedup", "similarity", "embedding", "llm-pipeline"),
)
def zc03(spark: SparkSession, sf_dir: str) -> DataFrame:
    b, edges = zc03_corpus_and_edges(spark, sf_dir)
    dups = edges.groupBy("d2").agg(F.count(F.lit(1)).alias("n"))
    return (
        b.select("vec_id")
        .join(dups.withColumnRenamed("d2", "vec_id"), "vec_id", "left")
        .select(
            "vec_id",
            F.expr("CAST(CASE WHEN n IS NULL THEN 1 ELSE 0 END AS BIGINT)").alias("keep"),
            F.coalesce("n", F.lit(0)).cast("bigint").alias("n_smaller_dups"),
        )
        .orderBy("vec_id")
    )


def zc03_corpus_and_edges(spark: SparkSession, sf_dir: str):
    """zc03's checkpointed projected corpus ``b`` plus its exact-verified
    duplicate-edge relation ``edges(d1 < d2)`` — the shared substrate of
    the transitive drop rule (zc03: drop d2 iff any edge) and the
    keep-set greedy variant (zd06: iterate over the edge graph)."""
    # r12 §14: fan the single-split embeddings scan out before the
    # 16-table sign-LSH projection (the heaviest per-row map in the
    # suite); scale-adaptive no-op at >= cores input splits
    emb = fan_out_scan(
        load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding"),
        "vec_id",
    )
    b = zc03_project(emb)
    # ONE corpus scan: the quantized/bucketed frame feeds the candidate
    # explode and BOTH pair sides — checkpoint instead of re-deriving
    # (r7 scan-audit class; at 100 TB this is the persisted projection
    # table a production dedup job writes anyway).
    record_plan(b, "zc03:projected_corpus")
    b = b.localCheckpoint(eager=True)
    return b, zc03_edges_from_b(b)


def zc03_project(emb: DataFrame) -> DataFrame:
    """zc03's per-vector extraction — quantize to int8, project through
    the md5-derived random matrix, sign-bucket into the LSH tables:
    (vec_id, q, na, bk1..bkT). Per-vector-LOCAL (no cross-row term), so
    it is also the partition-granular partial the incremental artifact
    layer caches per input file (functions/partials.py); callers that
    fan it out (zc03_corpus_and_edges) checkpoint the result."""
    dims = ZC03_BITS * ZC03_TABLES
    wrows = [[_zc03_w(i, j) for i in range(1, 65)] for j in range(1, dims + 1)]
    q = emb.select("vec_id", quantize_long("embedding").alias("q"))
    p = q.select(
        "vec_id", "q", self_dot_int64("q").alias("na"), *project_int64("q", wrows)
    )
    bks = [
        F.expr(
            " + ".join(
                f"{1 << m} * CASE WHEN p{ZC03_BITS * (t - 1) + m + 1} > 0"
                " THEN 1 ELSE 0 END"
                for m in range(ZC03_BITS)
            )
        ).alias(f"bk{t}")
        for t in range(1, ZC03_TABLES + 1)
    ]
    return p.select("vec_id", "q", "na", *bks)


def zc03_edges_from_b(b: DataFrame) -> DataFrame:
    """zc03's cross-row merge over an already-materialized projected
    corpus ``b``: per-table bucket join -> candidate pairs -> exact
    integer-cosine verify -> edges(d1 < d2). The bucket join is the
    documented cross-partition merge rule of the incremental artifact
    layer — LSH buckets are unions of per-partition partials, so this
    step always runs over the full (compact) partial union while the
    expensive projection is cached per input file."""
    c = b.select(
        "vec_id",
        F.posexplode(F.array(*[F.col(f"bk{t}") for t in range(1, ZC03_TABLES + 1)])).alias(
            "t", "bk"
        ),
    )
    c1 = c.select(F.col("vec_id").alias("d1"), "t", "bk")
    c2 = c.select(F.col("vec_id").alias("d2"), "t", "bk")
    pairs = (
        c1.join(c2, ["t", "bk"])
        .where(F.col("d1") < F.col("d2"))
        .select("d1", "d2")
        .distinct()
    )
    b1 = b.select(F.col("vec_id").alias("d1"), F.col("q").alias("q1"), F.col("na").alias("na1"))
    b2 = b.select(F.col("vec_id").alias("d2"), F.col("q").alias("q2"), F.col("na").alias("na2"))
    # exact int64 kernels — evidence in functions/vecexpr.py
    dots = pair_dot_int64(
        pairs.join(b1, "d1").join(b2, "d2").select(
            "d1", "d2", "na1", "na2", "q1", "q2"
        ),
        "q1",
        "q2",
        "dp",
    )
    return dots.where(cosine_at_least_int64(ZC03_T_PPM)).select("d1", "d2")


# ---------------------------------------------------------------------------
# zc04 — streaming twin of zb03: incremental importance-weight scoring
# ---------------------------------------------------------------------------


def streaming_importance_weights(spark: SparkSession, stream_docs: DataFrame) -> DataFrame:
    """Incremental DSIR-style importance scoring: each micro-batch of
    documents is reduced to TWO partials —

    * a (bucket, raw_n, tgt_n) census partial, SUM-merged into a
      versioned-parquet census (the mergeable-sketch idiom shared with
      zb02; this is the state a production run watches for target/raw
      distribution drift WHILE ingesting), and
    * a (doc_id, lang, bucket, n) per-doc gram histogram, written to a
      per-batch directory (overwrite by batch_id -> retried batches
      are idempotent; each doc arrives in exactly one batch, so the
      union over batch dirs is exact).

    At stream close the 256-row census yields the bucket weights
    exactly as batch zb03, the weights broadcast-join the doc store,
    and the same top-k emerges — counts merge associatively and
    commutatively, so the result is micro-batch-layout invariant.
    Per-trigger cost is O(batch + buckets); the raw stream is never
    re-scanned."""
    import os

    from spotify_tags_etl_spark.operators.zaops import (
        ZB03_TARGET_LANG,
        ZB03_TOPK,
        zb03_grams,
    )
    from spotify_tags_etl_spark.streaming.ops import (
        VersionedMerge,
        record_batch_plan,
        run_foreach_batch,
        stream_scratch,
    )

    def merge_census(part: DataFrame, prev: DataFrame | None) -> DataFrame:
        if prev is None:
            return part
        return (
            prev.unionByName(part)
            .groupBy("bucket")
            .agg(F.sum("raw_n").alias("raw_n"), F.sum("tgt_n").alias("tgt_n"))
        )

    with stream_scratch("zc04_dsir") as root:
        docs_root = os.path.join(root, "docgrams")
        doc_dirs: list[str] = []  # per-batch doc-histogram dirs (idempotent)
        census_store = VersionedMerge(
            spark, os.path.join(root, "census"), "zc04:census_merge", merge_census
        )
        plan_seen: set = set()  # r13: fingerprint each label once per run

        def apply_batch(batch: DataFrame, batch_id: int) -> None:
            # r12 §14: fan the single-split batch out before the gram explode
            batch = fan_out_scan(batch, "doc_id")
            grams = zb03_grams(batch)
            doc_part = grams.groupBy("doc_id", "lang", "bucket").agg(
                F.count(F.lit(1)).alias("n")
            )
            record_batch_plan(doc_part, "zc04:doc_partial", seen=plan_seen)
            doc_dir = os.path.join(docs_root, f"b{batch_id}")
            doc_part.write.mode("overwrite").parquet(doc_dir)
            if doc_dir not in doc_dirs:
                doc_dirs.append(doc_dir)
            # r12: the census partial is a rollup OF the doc partial just
            # written — re-reading those few parquet rows replaces a second
            # full gram pass over the batch (explode + md5 per bigram, the
            # trigger's dominant cost, previously paid twice). raw_n =
            # SUM(n) per bucket and tgt_n = SUM(n) over target-lang rows,
            # exactly the gram-occurrence counts the direct aggregate made
            # (each (doc, bucket) group's n IS its occurrence count).
            part = (
                spark.read.parquet(doc_dir)
                .groupBy("bucket")
                .agg(
                    F.sum("n").alias("raw_n"),
                    F.coalesce(
                        F.sum(F.when(F.col("lang") == ZB03_TARGET_LANG, F.col("n"))),
                        F.lit(0),
                    ).alias("tgt_n"),
                )
            )
            census_store(part, batch_id)

        run_foreach_batch(stream_docs.select("doc_id", "lang", "text"), apply_batch)
        state = census_store.state()
        if state is None:
            return spark.createDataFrame(
                [], "doc_id bigint, lang string, n_grams bigint, importance bigint"
            )
        # checkpoint only because the scratch root's removal deletes the
        # backing files; a production run leaves the doc store as the
        # parquet it already is
        census = state.localCheckpoint(eager=True)
        doc_store = spark.read.parquet(*doc_dirs).localCheckpoint(eager=True)
    tot = census.agg(F.sum("raw_n").alias("raw_t"), F.sum("tgt_n").alias("tgt_t"))
    wts = census.crossJoin(F.broadcast(tot)).select(
        "bucket",
        (
            F.expr("CAST(CAST(tgt_n AS DECIMAL(38,0)) * 1000000 DIV tgt_t AS BIGINT)")
            - F.expr("CAST(CAST(raw_n AS DECIMAL(38,0)) * 1000000 DIV raw_t AS BIGINT)")
        ).alias("w"),
    )
    record_plan(wts, "zc04:bucket_weights")
    wts = wts.localCheckpoint(eager=True)
    out = (
        doc_store.join(F.broadcast(wts), "bucket")
        .groupBy("doc_id")
        .agg(
            F.min("lang").alias("lang"),
            F.sum("n").cast("bigint").alias("n_grams"),
            # addend n * w <= grams/doc x 1e6 ~ 1e8 — int64-safe past
            # 9e10 docs per (doc, bucket) group; the ppm weights
            # themselves were built 128-bit above
            F.expr("CAST(SUM(n * w) AS BIGINT)").alias("importance"),
        )
        .orderBy(F.desc("importance"), F.asc("doc_id"))
        .limit(ZB03_TOPK)
    )
    record_plan(out, "zc04:doc_scores")
    return out


def _zc04_register() -> None:
    from spotify_tags_etl_spark.operators.zaops import ZB03_ORACLE

    @register(
        "zc04_stream_importance_weights",
        oracle=ZB03_ORACLE,
        doc=(
            "Streaming twin of zb03: per micro-batch the documents "
            "reduce to a SUM-mergeable (bucket, raw_n, tgt_n) census "
            "partial (versioned-parquet state, watchable mid-stream "
            "for distribution drift) and an idempotent per-batch "
            "(doc, lang, bucket, n) gram histogram; at close the "
            "converged census yields the same ppm-difference weights "
            "as batch zb03 and the broadcast-join scoring produces "
            "the identical top-k (associative+commutative merges => "
            "micro-batch-layout invariant, pinned under a 3-file "
            "split). Oracle: zb03's SQL, verbatim. Per-trigger cost "
            "O(batch + 256); the raw stream is never re-scanned."
        ),
        tags=("streaming", "curation", "sampling", "llm-pipeline"),
    )
    def zc04(spark: SparkSession, sf_dir: str) -> DataFrame:
        from spotify_tags_etl_spark.streaming.ops import read_table_stream

        return streaming_importance_weights(
            spark, read_table_stream(spark, sf_dir, "documents")
        )


_zc04_register()


# ---------------------------------------------------------------------------
# zc05 — per-source curriculum schedule (yv01 quotas x per-source order)
# ---------------------------------------------------------------------------


def _zc05_oracle_sql() -> str:
    from spotify_tags_etl_spark.operators.ytrain import YV01_QUOTA_CTES

    return f"""
    WITH {YV01_QUOTA_CTES},
    rn AS (
      SELECT doc_id, source,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY n_chars ASC, doc_id ASC) AS crank
      FROM documents
    )
    SELECT rn.doc_id AS doc_id, rn.source AS source,
           CAST(rn.crank AS BIGINT) AS crank,
           CAST((rn.crank - 1) // q.quota AS BIGINT) AS block,
           CAST((rn.crank - 1) % q.quota AS BIGINT) AS slot
    FROM rn JOIN quotas q ON q.source = rn.source AND q.quota > 0
    ORDER BY block, source, slot
    """


@register(
    "zc05_curriculum_schedule",
    oracle=_zc05_oracle_sql(),
    doc=(
        "PER-SOURCE CURRICULUM SCHEDULE — the dataloader manifest that "
        "composes yv01's largest-remainder mixing quotas with a "
        "per-source easy-to-hard curriculum: within each source, "
        "documents order by difficulty (n_chars ASC, doc_id tiebreak); "
        "training block b then takes each source's NEXT quota_s docs "
        "(block = (rank-1) DIV quota, slot = (rank-1) MOD quota), so "
        "every block mixes sources in exactly yv01's proportions while "
        "difficulty ramps monotonically within each source lane — the "
        "schedule a resumable trainer replays bit-identically. "
        "Zero-quota sources are excluded (their mass rounds to no "
        "seats; real loaders re-apportion per epoch). Shape: ONE "
        "corpus-projection scan — per-source rank via "
        "scalerank.grouped_rank (sources are few and skewed: the "
        "keyed-window form would funnel the corpus into #source "
        "reducers), the ranked frame checkpointed once and reused by "
        "BOTH consumers (the quota rollup aggregates the checkpoint, "
        "not the corpus — r7 scan-audit discipline), quotas a "
        "broadcast O(#sources) join. Composes yv01 (quotas) with "
        "xi04's ordering role (global curriculum) and zc01/tz05 "
        "(packing the blocks this schedule emits)."
    ),
    tags=("training", "planner", "ordering", "llm-pipeline"),
)
def zc05(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    return curriculum_schedule(docs, label="zc05")


def curriculum_schedule(docs: DataFrame, label: str = "zc05") -> DataFrame:
    """zc05's quota-mixed easy-to-hard schedule over any (doc_id,
    source, n_chars) frame — zc05 feeds it the full corpus, zg02 the
    zf01 survivor set (curation shifts the char-mass proportions, so
    the Hamilton quotas are re-apportioned over the survivors, not
    inherited from the uncurated mix)."""
    from spotify_tags_etl_spark.operators.ytrain import YV01_BLOCK

    ranked, _n = grouped_rank(
        docs,
        ["source"],
        [F.col("n_chars").asc(), F.col("doc_id").asc()],
        rank_col="crank",
    )
    record_plan(ranked, f"{label}:source_curriculum")
    # corpus-sized frame reused by the quota rollup AND the final
    # schedule join — checkpoint once instead of re-running the rank
    # window per consumer
    ranked = ranked.localCheckpoint(eager=True)
    s = ranked.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("chars"),
    )
    record_plan(s, f"{label}:source_rollup")  # O(#sources), off the checkpoint
    s = s.localCheckpoint(eager=True)
    total = s.agg(F.sum("chars").cast("bigint").alias("total"))
    fl = s.crossJoin(F.broadcast(total)).select(
        "source",
        "chars",
        F.expr(
            f"CAST(CAST(chars AS DECIMAL(38,0)) * {YV01_BLOCK} DIV total AS BIGINT)"
        ).alias("fl"),
        F.expr(
            f"CAST(CAST(chars AS DECIMAL(38,0)) * {YV01_BLOCK} % total AS BIGINT)"
        ).alias("rem"),
    )
    extra = fl.agg((F.lit(YV01_BLOCK) - F.sum("fl")).cast("bigint").alias("extra"))
    # O(#sources) frame — the xr03 documented bounded-frame window
    from pyspark.sql import Window

    rk = F.row_number().over(
        Window.orderBy(F.desc("rem"), F.desc("chars"), F.asc("source"))
    )
    quotas = (
        fl.withColumn("rk", rk)
        .crossJoin(F.broadcast(extra))
        .select(
            "source",
            F.expr("CAST(fl + CASE WHEN rk <= extra THEN 1 ELSE 0 END AS BIGINT)").alias(
                "quota"
            ),
        )
        .where(F.col("quota") > 0)
    )
    return (
        ranked.join(F.broadcast(quotas), "source")
        .select(
            "doc_id",
            "source",
            F.col("crank").cast("bigint").alias("crank"),
            F.expr("CAST((crank - 1) DIV quota AS BIGINT)").alias("block"),
            F.expr("CAST((crank - 1) % quota AS BIGINT)").alias("slot"),
        )
        .orderBy("block", "source", "slot")
    )


# ---------------------------------------------------------------------------
# zc06 — packing-efficiency report (zc01 rolled up per band)
# ---------------------------------------------------------------------------


#: zc06's oracle — shared verbatim with the streaming twin zc07 (the
#: banded packing statistics are order-free, so batch rollup and
#: incremental band-merge converge to the same report).
_ZC06_ORACLE = f"""
    WITH toks AS (
      SELECT doc_id,
             LEAST(GREATEST(CAST(n_chars AS BIGINT) * {ZC01_TOK_PPM} // 1000000, 1),
                   {ZC01_WINDOW}) AS tok
      FROM documents
    ),
    banded AS (
      SELECT doc_id, tok,
             CASE WHEN tok <= 1 THEN 0
                  ELSE length(bin(tok - 1)) END AS band_exp
      FROM toks
    ),
    ranked AS (
      SELECT doc_id, tok, band_exp,
             ROW_NUMBER() OVER (PARTITION BY band_exp
                                ORDER BY tok DESC, doc_id ASC) - 1 AS r
      FROM banded
    ),
    placed AS (
      SELECT tok, band_exp,
             r // ({ZC01_WINDOW} // (CAST(1 AS BIGINT) << band_exp)) AS widx
      FROM ranked
    )
    SELECT CAST(band_exp AS BIGINT) AS band_exp,
           CAST((CAST(1 AS BIGINT) << band_exp) AS BIGINT) AS slot_len,
           CAST(COUNT(DISTINCT widx) AS BIGINT) AS n_windows,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(tok) AS BIGINT) AS doc_tokens,
           CAST(CAST(SUM(tok) AS HUGEINT) * 1000000
                // (COUNT(DISTINCT widx) * {ZC01_WINDOW}) AS BIGINT) AS fill_ppm,
           CAST(1000000 - CAST(SUM(tok) AS HUGEINT) * 1000000
                // (COUNT(DISTINCT widx) * {ZC01_WINDOW}) AS BIGINT) AS waste_ppm
    FROM placed
    GROUP BY band_exp
    ORDER BY band_exp
    """


@register(
    "zc06_pack_efficiency",
    oracle=_ZC06_ORACLE,
    doc=(
        "PACKING-EFFICIENCY REPORT: zc01's banded-FFD output rolled up "
        "per length band — windows built, docs packed, token mass, "
        "achieved fill ppm and padding waste ppm against the "
        f"{ZC01_WINDOW}-token capacity. This is the number a training "
        "org actually watches (padding is pure wasted FLOPs): the "
        "banded scheme guarantees waste < 500000 ppm on every band's "
        "full windows, and this report shows where the corpus actually "
        "lands. Pure composition: aggregates the zc01 builder's output "
        "frame (yy01's composed-report discipline) — one keyed groupBy "
        "on the band id recovered arithmetically from window_id; "
        "nothing new touches the corpus. The capacity product "
        "n_windows x 1e6 x tokens widens through DECIMAL(38,0)/HUGEINT "
        "(window counts x 1e6 pass 2^63 at ~9e12 windows)."
    ),
    tags=("training", "packing", "ops", "llm-pipeline"),
)
def zc06(spark: SparkSession, sf_dir: str) -> DataFrame:
    packed = zc01(spark, sf_dir)
    return (
        packed.select(
            F.expr(f"window_id DIV {ZC01_BAND_BASE}").alias("band_exp"),
            "window_id",
            "doc_tokens",
        )
        .groupBy("band_exp")
        .agg(
            F.expr("CAST(shiftleft(CAST(1 AS BIGINT), CAST(band_exp AS INT)) AS BIGINT)").alias(
                "slot_len"
            ),
            F.countDistinct("window_id").cast("bigint").alias("n_windows"),
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("doc_tokens").cast("bigint").alias("doc_tokens"),
            F.expr(
                f"CAST(CAST(SUM(doc_tokens) AS DECIMAL(38,0)) * 1000000"
                f" DIV (COUNT(DISTINCT window_id) * {ZC01_WINDOW}) AS BIGINT)"
            ).alias("fill_ppm"),
            F.expr(
                f"CAST(1000000 - CAST(SUM(doc_tokens) AS DECIMAL(38,0)) * 1000000"
                f" DIV (COUNT(DISTINCT window_id) * {ZC01_WINDOW}) AS BIGINT)"
            ).alias("waste_ppm"),
        )
        .orderBy("band_exp")
    )


# ---------------------------------------------------------------------------
# zc07 — streaming twin of zc06: incremental packing-efficiency monitor
# ---------------------------------------------------------------------------


def streaming_pack_efficiency(spark: SparkSession, stream_docs: DataFrame) -> DataFrame:
    """Incremental packing-efficiency monitoring: the key observation is
    that zc01's banded packing statistics are ORDER-FREE — per band,
    window count = ceil(n / k) and token mass = SUM(tok) depend only on
    how many docs the band holds and their total tokens, not on which
    order they arrived or how FFD slotted them. That makes the whole
    zc06 report streamable as a 13-row SUM-merge: each micro-batch
    reduces to per-band (n, sum_tok) partials, merged into
    versioned-parquet state (associative + commutative => micro-batch-
    layout invariant), and the close-time report is pure arithmetic on
    the converged 13 rows. This is the padding monitor a training-data
    ingest runs WHILE filling the corpus — it knows the wasted-FLOPs
    bill before any packing job runs. The versioning runs on the
    streaming/ops.py merged_stream skeleton."""
    from spotify_tags_etl_spark.streaming.ops import merged_stream

    def step(batch: DataFrame, prev: DataFrame | None) -> DataFrame:
        part = (
            batch.select(
                F.expr(
                    f"LEAST(GREATEST(CAST(n_chars AS BIGINT) * {ZC01_TOK_PPM}"
                    f" DIV 1000000, 1), {ZC01_WINDOW})"
                ).alias("tok")
            )
            .select(
                F.expr(
                    "CASE WHEN tok <= 1 THEN 0 ELSE length(bin(tok - 1)) END"
                ).alias("band_exp"),
                "tok",
            )
            .groupBy("band_exp")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("tok").alias("sum_tok"))
        )
        if prev is None:
            return part
        return (
            prev.unionByName(part)
            .groupBy("band_exp")
            .agg(F.sum("n").alias("n"), F.sum("sum_tok").alias("sum_tok"))
        )

    with merged_stream(stream_docs.select("n_chars"), "zc07:band_merge", step) as state:
        if state is None:
            return spark.createDataFrame(
                [],
                "band_exp bigint, slot_len bigint, n_windows bigint, n_docs bigint,"
                " doc_tokens bigint, fill_ppm bigint, waste_ppm bigint",
            )
        bands = state.localCheckpoint(eager=True)
    # analytic report off the converged <= 13-row state: windows per
    # band = ceil(n / k) since slot assignment is rank DIV k
    return bands.selectExpr(
        "CAST(band_exp AS BIGINT) AS band_exp",
        "CAST(shiftleft(CAST(1 AS BIGINT), CAST(band_exp AS INT)) AS BIGINT) AS slot_len",
        f"CAST((n + ({ZC01_WINDOW} DIV shiftleft(CAST(1 AS BIGINT), CAST(band_exp AS INT))) - 1)"
        f" DIV ({ZC01_WINDOW} DIV shiftleft(CAST(1 AS BIGINT), CAST(band_exp AS INT)))"
        " AS BIGINT) AS n_windows",
        "CAST(n AS BIGINT) AS n_docs",
        "CAST(sum_tok AS BIGINT) AS doc_tokens",
    ).selectExpr(
        "band_exp",
        "slot_len",
        "n_windows",
        "n_docs",
        "doc_tokens",
        f"CAST(CAST(doc_tokens AS DECIMAL(38,0)) * 1000000"
        f" DIV (n_windows * {ZC01_WINDOW}) AS BIGINT) AS fill_ppm",
        f"CAST(1000000 - CAST(doc_tokens AS DECIMAL(38,0)) * 1000000"
        f" DIV (n_windows * {ZC01_WINDOW}) AS BIGINT) AS waste_ppm",
    ).orderBy("band_exp")


@register(
    "zc07_stream_pack_efficiency",
    oracle=_ZC06_ORACLE,
    doc=(
        "Streaming twin of zc06: the banded packing statistics are "
        "ORDER-FREE (per band, windows = ceil(n/k) and token mass = "
        "SUM(tok) do not depend on arrival order or FFD slotting), so "
        "the whole padding report streams as a <= 13-row SUM-merge — "
        "each micro-batch reduces to per-band (n, sum_tok) partials "
        "merged into versioned-parquet state, and the close-time "
        "report is pure arithmetic on the converged bands. This is "
        "the wasted-FLOPs monitor a training-data ingest runs WHILE "
        "filling the corpus. Associative+commutative merge => "
        "micro-batch-layout invariant (pinned under a 3-file split); "
        "oracle = zc06's SQL verbatim. Per-trigger cost O(batch + 13); "
        "the raw stream is never re-scanned."
    ),
    tags=("streaming", "training", "packing", "ops", "llm-pipeline"),
)
def zc07(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spotify_tags_etl_spark.streaming.ops import read_table_stream

    return streaming_pack_efficiency(
        spark, read_table_stream(spark, sf_dir, "documents")
    )
