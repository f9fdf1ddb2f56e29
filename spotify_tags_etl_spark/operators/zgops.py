"""Round-10 compositions (zg band): close the curation-to-training loop.

zg01 — curated-corpus packing manifest: zf01's five-stage survivor set
packed with zc01's banded FFD, reported per length band with the token
mass each curation stage DISPLACED from that band (first-drop
attribution) — the "final training batches" manifest a pretraining org
ships: how many windows the curated corpus actually fills, at what
fill, and what each curation stage cost each band.

zg02 — curated curriculum schedule: zc05's quota-mixed easy-to-hard
dataloader manifest re-derived over the SURVIVOR corpus — curation
shifts per-source char mass, so the Hamilton quotas are re-apportioned
over what survived, not inherited from the uncurated mix.

zg03 — classifier-gate threshold sweep: ze04 generalized from a fixed
decile table into the PR-curve/tuning table an org reads before
deploying the ze02 gate — per candidate threshold (the 9 decile edges
of the averaged margin), the keep rate, precision, recall, and
accuracy the gate would achieve at that cut.

zg04 — corpus datasheet: the per-source one-page census a pretraining
org publishes with a dataset — doc/token mass, curation survival
(zf01's five-stage lineage), learned-gate yield (ze02's averaged
perceptron), and the intersection that actually ships.

zg05 — curated shard plan: zg01's curated windows assigned to output
shards by token mass (boustrophedon/snake over the fill-ranked window
list) — the writer-balance step between packing and the distributed
filesystem.

zg06 — heuristic quality-rule census: Gopher-style hard rules (length
bounds, intra-doc repetition, stopword presence) with zf01's mutually-
exclusive FIRST-failing-rule attribution, per source.

zg07 — streaming twin of zg06: the rule census as a SUM-mergeable
per-batch partial (rules are per-doc-complete), micro-batch-layout
invariant and equal to batch zg06.

zg08 — curation stage-overlap matrix: pairwise unconditional-drop
intersections + Jaccard across the five stages — the counterfactual
redundancy census the first-fail attribution hides ("if I cut stage X,
what would Y still catch?"), one global fold over the flags artifact.

zg09 — repetition-threshold sweep: the yv21/zg03 tuning-table pattern
applied to zg06's hard-rule gate — the full first-fail census at each
candidate duplicate-word-mass threshold, one global fold, no joins.

zg10 — curation mix-shift report: Hamilton dataloader quotas over the
full corpus vs the zf01 survivors side by side, with seat deltas and
char-share shifts — the quota-diff evidence behind zg02's
re-apportionment.

Reference parity note: the reference ETL
(/root/reference/src/spotify_tags_etl/) has no curation or training
stage; these compose operators added in rounds 2-10 along SURVEY.md's
"training-data pipeline" axis (same as the zc-zf bands).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spotify_tags_etl_spark.operators.ytrain import quota_ctes
from spotify_tags_etl_spark.operators.zcops import (
    ZC01_TOK_PPM,
    ZC01_WINDOW,
    curriculum_schedule,
)
from spotify_tags_etl_spark.operators.zeops import (
    _ze01_ctes,
    ZE01_ROUNDS,
)
from spotify_tags_etl_spark.operators.zfops import (
    _zf01_flags_ctes,
    zf01_flags_artifact,
)
from spotify_tags_etl_spark.plans.planmetrics import record_plan
from spotify_tags_etl_spark.plans.registry import register
from spotify_tags_etl_spark.sources.tpch import load_table

# ---------------------------------------------------------------------------
# zg01 — curated-corpus packing manifest (zf01 survivors x zc01 FFD)
# ---------------------------------------------------------------------------

#: Per-doc first-drop-reason selectors over the zf01 flag columns —
#: mutually exclusive and exhaustive (they sum to 1 per doc), so the
#: per-band token attribution telescopes exactly to the band's corpus
#: mass. Shared between the Spark builder and the DuckDB oracle.
_ZG01_REASONS = (
    ("kept", "s_e * (1 - f_near) * (1 - f_sem) * (1 - f_con) * (1 - f_off)"),
    ("r_exact", "(1 - s_e)"),
    ("r_near", "s_e * f_near"),
    ("r_sem", "s_e * (1 - f_near) * f_sem"),
    ("r_con", "s_e * (1 - f_near) * (1 - f_sem) * f_con"),
    ("r_off", "s_e * (1 - f_near) * (1 - f_sem) * (1 - f_con) * f_off"),
)

_ZG01_TOK = (
    f"LEAST(GREATEST(CAST(n_chars AS BIGINT) * {ZC01_TOK_PPM}"
    f" {{div}} 1000000, 1), {ZC01_WINDOW})"
)

#: The five-stage survivor predicate over the zf01 flag columns —
#: shared by every zg consumer of the curated corpus (and identical in
#: both dialects: the flags are 0/1 integers).
ZG_SURVIVOR = "s_e = 1 AND f_near = 0 AND f_sem = 0 AND f_con = 0 AND f_off = 0"


def _zg01_oracle_sql() -> str:
    reasons = ",\n             ".join(f"{expr} AS {name}" for name, expr in _ZG01_REASONS)
    return f"""
    WITH {_zf01_flags_ctes(", d.n_chars")},
    btoks AS (
      SELECT s_e, f_near, f_sem, f_con, f_off,
             {_ZG01_TOK.format(div="//")} AS tok
      FROM flags
    ),
    breason AS (
      SELECT tok,
             CASE WHEN tok <= 1 THEN 0 ELSE length(bin(tok - 1)) END AS band_exp,
             {reasons}
      FROM btoks
    ),
    bagg AS (
      SELECT band_exp,
             CAST(SUM(kept) AS BIGINT) AS n_kept,
             CAST(SUM(1 - kept) AS BIGINT) AS n_displaced,
             CAST(SUM(kept * tok) AS BIGINT) AS kept_tokens,
             CAST(SUM(r_exact * tok) AS BIGINT) AS disp_exact_tokens,
             CAST(SUM(r_near * tok) AS BIGINT) AS disp_near_tokens,
             CAST(SUM(r_sem * tok) AS BIGINT) AS disp_sem_tokens,
             CAST(SUM(r_con * tok) AS BIGINT) AS disp_contam_tokens,
             CAST(SUM(r_off * tok) AS BIGINT) AS disp_offtarget_tokens,
             {ZC01_WINDOW} // (CAST(1 AS BIGINT) << band_exp) AS k
      FROM breason GROUP BY band_exp
    )
    SELECT CAST(band_exp AS BIGINT) AS band_exp,
           n_kept, n_displaced, kept_tokens,
           CAST((n_kept + k - 1) // k AS BIGINT) AS n_windows,
           CAST(CAST(kept_tokens AS HUGEINT) * 1000000
                // NULLIF(((n_kept + k - 1) // k) * {ZC01_WINDOW}, 0) AS BIGINT)
             AS fill_ppm,
           disp_exact_tokens, disp_near_tokens, disp_sem_tokens,
           disp_contam_tokens, disp_offtarget_tokens,
           CAST(disp_exact_tokens + disp_near_tokens + disp_sem_tokens
                + disp_contam_tokens + disp_offtarget_tokens AS BIGINT)
             AS displaced_tokens
    FROM bagg ORDER BY band_exp
    """


@register(
    "zg01_curated_pack_manifest",
    oracle=_zg01_oracle_sql(),
    doc=(
        "CURATED-CORPUS PACKING MANIFEST — the end-to-end composition "
        "that closes the curation loop: zf01's five-stage survivor set "
        "(exact dedup -> near dedup -> semantic dedup -> eval "
        "decontamination -> DSIR target-likeness) packed with zc01's "
        f"banded FFD into {ZC01_WINDOW}-token windows, reported per "
        "power-of-two length band with the window count and fill the "
        "CURATED corpus achieves (exact rank arithmetic: windows = "
        "ceil(n_kept/k), k = W/2^band) AND the token mass each stage "
        "DISPLACED from the band under zf01's mutually-exclusive "
        "FIRST-failing-stage attribution. Mass conserves exactly: "
        "kept_tokens + displaced_tokens = the band's full corpus token "
        "mass (zc06's doc_tokens; pinned by test), and the per-stage "
        "split telescopes the same way — this is zd04's "
        "kept-vs-displaced accounting widened from one exclusion "
        "(contamination) to the full curation lineage. Shape: reads "
        "the PUBLISHED zf01 flags artifact (spark-warehouse parquet, "
        "staleness-pinned on input mtimes + stage constants; the live "
        "five-stage funnel — each stage's OWN builder, the zd01 rule — "
        "runs and publishes only when absent/stale, and is "
        "bit-identical by integer determinism), then ONE <= 13-row "
        "map-combined band rollup over the pruned artifact scan. "
        "No per-window state is materialized: window counts are pure "
        "rank arithmetic, so the manifest stays O(bands) however large "
        "the corpus — the 100 TB shape. All integer arithmetic "
        "(bin-length bands, ceil-div windows, HUGEINT/DECIMAL-widened "
        "ppm) — bit-identical across engines."
    ),
    tags=("curation", "packing", "report", "llm-pipeline"),
)
def zg01(spark: SparkSession, sf_dir: str) -> DataFrame:
    flags = zf01_flags_artifact(spark, sf_dir)
    breason = flags.selectExpr(
        f"{_ZG01_TOK.format(div='DIV')} AS tok",
        "s_e", "f_near", "f_sem", "f_con", "f_off",
    ).selectExpr(
        "tok",
        "CASE WHEN tok <= 1 THEN 0 ELSE length(bin(tok - 1)) END AS band_exp",
        *[f"{expr} AS {name}" for name, expr in _ZG01_REASONS],
    )
    record_plan(breason, "zg01:band_reasons")
    agg = breason.groupBy("band_exp").agg(
        F.expr("CAST(SUM(kept) AS BIGINT)").alias("n_kept"),
        F.expr("CAST(SUM(1 - kept) AS BIGINT)").alias("n_displaced"),
        F.expr("CAST(SUM(kept * tok) AS BIGINT)").alias("kept_tokens"),
        F.expr("CAST(SUM(r_exact * tok) AS BIGINT)").alias("disp_exact_tokens"),
        F.expr("CAST(SUM(r_near * tok) AS BIGINT)").alias("disp_near_tokens"),
        F.expr("CAST(SUM(r_sem * tok) AS BIGINT)").alias("disp_sem_tokens"),
        F.expr("CAST(SUM(r_con * tok) AS BIGINT)").alias("disp_contam_tokens"),
        F.expr("CAST(SUM(r_off * tok) AS BIGINT)").alias("disp_offtarget_tokens"),
    )
    return (
        agg.select(
            F.col("band_exp").cast("bigint").alias("band_exp"),
            "n_kept",
            "n_displaced",
            "kept_tokens",
            F.expr(
                f"CAST((n_kept + ({ZC01_WINDOW} DIV shiftleft(CAST(1 AS BIGINT), band_exp)) - 1)"
                f" DIV ({ZC01_WINDOW} DIV shiftleft(CAST(1 AS BIGINT), band_exp)) AS BIGINT)"
            ).alias("n_windows"),
            "disp_exact_tokens",
            "disp_near_tokens",
            "disp_sem_tokens",
            "disp_contam_tokens",
            "disp_offtarget_tokens",
        )
        .select(
            "band_exp",
            "n_kept",
            "n_displaced",
            "kept_tokens",
            "n_windows",
            F.expr(
                f"CAST(CAST(kept_tokens AS DECIMAL(38,0)) * 1000000"
                f" DIV NULLIF(n_windows * {ZC01_WINDOW}, 0) AS BIGINT)"
            ).alias("fill_ppm"),
            "disp_exact_tokens",
            "disp_near_tokens",
            "disp_sem_tokens",
            "disp_contam_tokens",
            "disp_offtarget_tokens",
            F.expr(
                "CAST(disp_exact_tokens + disp_near_tokens + disp_sem_tokens"
                " + disp_contam_tokens + disp_offtarget_tokens AS BIGINT)"
            ).alias("displaced_tokens"),
        )
        .orderBy("band_exp")
    )


# ---------------------------------------------------------------------------
# zg02 — curated curriculum schedule (zf01 survivors x zc05)
# ---------------------------------------------------------------------------


def _zg02_oracle_sql() -> str:
    return f"""
    WITH {_zf01_flags_ctes(", d.n_chars")},
    kdocs AS MATERIALIZED (
      SELECT doc_id, source, n_chars FROM flags
      WHERE {ZG_SURVIVOR}
    ),
    {quota_ctes("kdocs")},
    rn AS (
      SELECT doc_id, source,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY n_chars ASC, doc_id ASC) AS crank
      FROM kdocs
    )
    SELECT rn.doc_id AS doc_id, rn.source AS source,
           CAST(rn.crank AS BIGINT) AS crank,
           CAST((rn.crank - 1) // q.quota AS BIGINT) AS block,
           CAST((rn.crank - 1) % q.quota AS BIGINT) AS slot
    FROM rn JOIN quotas q ON q.source = rn.source AND q.quota > 0
    ORDER BY block, source, slot
    """


@register(
    "zg02_curated_curriculum",
    oracle=_zg02_oracle_sql(),
    doc=(
        "CURATED CURRICULUM SCHEDULE — zc05's dataloader manifest "
        "(largest-remainder mixing quotas x per-source easy-to-hard "
        "order) re-derived over the zf01 SURVIVOR corpus: curation "
        "drops shift each source's char mass, so the Hamilton quotas "
        "are RE-APPORTIONED over what survived rather than inherited "
        "from the uncurated mix — the schedule the trainer actually "
        "replays after curation ships. Output = (doc_id, source, "
        "crank, block, slot): block b takes each surviving source's "
        "next quota_s docs, difficulty (n_chars) ramping monotonically "
        "within each source lane; zero-quota sources are excluded "
        "(zc05's rule). Shape: survivors filtered from the PUBLISHED "
        "zf01 flags artifact (staleness-pinned parquet; the live "
        "five-stage funnel runs and publishes only when absent/"
        "stale); the filtered frame then flows through zc05's own "
        "curriculum_schedule machinery — scalerank.grouped_rank for "
        "the per-source rank (sources are few and skewed; a keyed "
        "window would funnel the survivor corpus into #source "
        "reducers), the ranked frame checkpointed once and reused by "
        "BOTH the quota rollup and the schedule join, quotas a "
        "broadcast O(#sources) join. Oracle: the flags chain + zc05's "
        "quota/rank SQL with the survivor set substituted for the "
        "corpus (ytrain.quota_ctes parameterized on the relation)."
    ),
    tags=("curation", "training", "planner", "ordering", "llm-pipeline"),
)
def zg02(spark: SparkSession, sf_dir: str) -> DataFrame:
    flags = zf01_flags_artifact(spark, sf_dir)
    kept = flags.where(ZG_SURVIVOR).select("doc_id", "source", "n_chars")
    return curriculum_schedule(kept, label="zg02")


# ---------------------------------------------------------------------------
# zg03 — classifier-gate threshold sweep (PR curve over the ze01 fit)
# ---------------------------------------------------------------------------

#: Candidate thresholds: the averaged-margin values at the 9 interior
#: decile edges (ze04's equal-mass cuts, reused as the tuning grid).
ZG03_CUTS = 9


def _zg03_oracle_sql(rounds: int = ZE01_ROUNDS) -> str:
    avg_union = " UNION ALL ".join(
        f"SELECT * FROM w{r}" for r in range(1, rounds + 1)
    )
    return (
        "WITH "
        + ",\n    ".join(_ze01_ctes(rounds))
        + f""",
    wavg AS MATERIALIZED (
      SELECT bucket, SUM(w) AS w FROM ({avg_union}) GROUP BY bucket
    ),
    sm AS MATERIALIZED (
      SELECT f.doc_id, f.y, SUM(CAST(f.cnt AS HUGEINT) * w.w) AS m
      FROM feats f JOIN wavg w ON w.bucket = f.bucket
      GROUP BY f.doc_id, f.y
    ),
    rk AS MATERIALIZED (
      SELECT m,
             ROW_NUMBER() OVER (ORDER BY m, doc_id) AS r,
             (SELECT COUNT(*) FROM sm) AS n
      FROM sm
    ),
    cuts AS (
      SELECT ks.k, rk.m AS t
      FROM (SELECT UNNEST(generate_series(1, {ZG03_CUTS})) AS k) ks
      JOIN rk ON rk.r = GREATEST(ks.k * rk.n // 10, 1)
    )
    SELECT CAST(c.k AS BIGINT) AS k,
           CAST(c.t AS BIGINT) AS thr,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN s.m > c.t THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN s.m > c.t THEN 1 ELSE 0 END) * 1000000
                // COUNT(*) AS BIGINT) AS kept_ppm,
           CAST(SUM(CASE WHEN s.m > c.t AND s.y = 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_tgt_kept,
           CAST(SUM(CASE WHEN s.m > c.t AND s.y = 1 THEN 1 ELSE 0 END) * 1000000
                // NULLIF(SUM(CASE WHEN s.m > c.t THEN 1 ELSE 0 END), 0)
                AS BIGINT) AS prec_ppm,
           CAST(SUM(CASE WHEN s.m > c.t AND s.y = 1 THEN 1 ELSE 0 END) * 1000000
                // NULLIF(SUM(CASE WHEN s.y = 1 THEN 1 ELSE 0 END), 0)
                AS BIGINT) AS recall_ppm,
           CAST(SUM(CASE WHEN (s.m > c.t) = (s.y = 1) THEN 1 ELSE 0 END)
                AS BIGINT) AS n_correct,
           CAST(SUM(CASE WHEN (s.m > c.t) = (s.y = 1) THEN 1 ELSE 0 END) * 1000000
                // COUNT(*) AS BIGINT) AS acc_ppm
    FROM sm s CROSS JOIN cuts c
    GROUP BY c.k, c.t
    ORDER BY k
    """
    )


@register(
    "zg03_gate_threshold_sweep",
    oracle=_zg03_oracle_sql(),
    doc=(
        "CLASSIFIER-GATE THRESHOLD SWEEP — ze04's calibration table "
        "generalized into the PR-curve/tuning report an org reads "
        "before DEPLOYING the ze02 gate: for each candidate threshold "
        f"(the {ZG03_CUTS} interior decile edges of the averaged "
        "margin — ze04's equal-mass cuts reused as the grid), the doc "
        "mass the gate would keep (kept_ppm), its precision and recall "
        "on the target-language label, and its raw accuracy, all at "
        "the cut margin > t (the yv21 sweep pattern applied to the ze "
        "fit). Reading the table: precision rises and recall falls "
        "with k; the deployed t = 0 gate (ze02) sits wherever its "
        "margin sign lands — this is the evidence for moving it. "
        "Shape (r11): reads the PUBLISHED ze02 margins artifact "
        "(the scored corpus as a pruned (doc_id, y, m) parquet scan; "
        "the corpus-sized scoring pass runs once, at the artifact "
        "publish), scalerank.global_rank for the "
        "edge margins (range layout + O(#partitions) offsets, no "
        "single-reducer sort), then the O(#docs) margin frame "
        f"broadcast-cross-joined against the {ZG03_CUTS}-row threshold "
        "frame and folded in ONE map-combined aggregate — a bounded "
        f"{ZG03_CUTS}x row amplification of a slim (y, m) frame, "
        "never a second corpus scan. Thresholds compare on the "
        "full-precision DECIMAL(38,0) margin (ze05's rule); thr is "
        "the BIGINT report spelling. Oracle = ze02's CTE chain + the "
        "same rank/edge/sweep arithmetic."
    ),
    tags=("curation", "quality", "eval", "report", "llm-pipeline"),
)
def zg03(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spotify_tags_etl_spark.operators.scalerank import global_rank
    from spotify_tags_etl_spark.operators.zeops import ze02_margins_artifact

    # r11: the scored corpus is a published artifact — the fit
    # artifact's discipline extended to the scoring pass (live scoring
    # only on the artifact's own miss path)
    margins = ze02_margins_artifact(spark, sf_dir)
    record_plan(margins, "zg03:margins")
    ranked, n = global_rank(
        margins, [F.col("m").asc(), F.col("doc_id").asc()], rank_col="r"
    )
    edge_rows = [(k, max(1, (k * n) // 10)) for k in range(1, ZG03_CUTS + 1)]
    cuts = (
        ranked.join(
            F.broadcast(
                margins.sparkSession.createDataFrame(edge_rows, "k bigint, r bigint")
            ),
            "r",
        )
        .select("k", F.col("m").alias("t"))
        .localCheckpoint(eager=True)  # ZG03_CUTS rows
    )
    sweep = margins.crossJoin(F.broadcast(cuts))
    report = (
        sweep.groupBy("k", "t")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("m") > F.col("t"), 1).otherwise(0)).alias("n_kept"),
            F.sum(
                F.when((F.col("m") > F.col("t")) & (F.col("y") == 1), 1).otherwise(0)
            ).alias("n_tgt_kept"),
            F.sum(F.when(F.col("y") == 1, 1).otherwise(0)).alias("n_tgt"),
            F.sum(
                F.when((F.col("m") > F.col("t")) == (F.col("y") == 1), 1).otherwise(0)
            ).alias("n_correct"),
        )
        .select(
            F.col("k").cast("bigint").alias("k"),
            F.col("t").cast("bigint").alias("thr"),
            F.col("n_docs").cast("bigint").alias("n_docs"),
            F.col("n_kept").cast("bigint").alias("n_kept"),
            F.expr("n_kept * 1000000 DIV n_docs").alias("kept_ppm"),
            F.col("n_tgt_kept").cast("bigint").alias("n_tgt_kept"),
            F.expr("n_tgt_kept * 1000000 DIV NULLIF(n_kept, 0)").alias("prec_ppm"),
            F.expr("n_tgt_kept * 1000000 DIV NULLIF(n_tgt, 0)").alias("recall_ppm"),
            F.col("n_correct").cast("bigint").alias("n_correct"),
            F.expr("n_correct * 1000000 DIV n_docs").alias("acc_ppm"),
        )
        .orderBy("k")
    )
    record_plan(report, "zg03:threshold_sweep")
    return report


# ---------------------------------------------------------------------------
# zg04 — corpus datasheet (per-source curation x classifier-gate census)
# ---------------------------------------------------------------------------

#: First-drop KEPT selector (zg01's kept column) as a bare expression.
_ZG04_KEPT = "s_e * (1 - f_near) * (1 - f_sem) * (1 - f_con) * (1 - f_off)"


def _zg04_oracle_sql(rounds: int = ZE01_ROUNDS) -> str:
    avg_union = " UNION ALL ".join(
        f"SELECT * FROM w{r}" for r in range(1, rounds + 1)
    )
    return (
        "WITH "
        + _zf01_flags_ctes(", d.n_chars")
        + ",\n    "
        + ",\n    ".join(_ze01_ctes(rounds))
        + f""",
    wavg AS MATERIALIZED (
      SELECT bucket, SUM(w) AS w FROM ({avg_union}) GROUP BY bucket
    ),
    sm AS MATERIALIZED (
      SELECT f.doc_id, SUM(CAST(f.cnt AS HUGEINT) * w.w) AS m
      FROM feats f JOIN wavg w ON w.bucket = f.bucket
      GROUP BY f.doc_id
    ),
    ds AS (
      SELECT f.source,
             {_ZG01_TOK.format(div="//")} AS tok,
             {_ZG04_KEPT} AS cur,
             CASE WHEN s.m > 0 THEN 1 ELSE 0 END AS gk
      FROM flags f LEFT JOIN sm s ON s.doc_id = f.doc_id
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(tok) AS BIGINT) AS tok_total,
           CAST(SUM(cur) AS BIGINT) AS cur_kept,
           CAST(SUM(cur) * 1000000 // COUNT(*) AS BIGINT) AS cur_ppm,
           CAST(SUM(gk) AS BIGINT) AS gate_kept,
           CAST(SUM(gk) * 1000000 // COUNT(*) AS BIGINT) AS gate_ppm,
           CAST(SUM(cur * gk) AS BIGINT) AS final_kept,
           CAST(SUM(cur * gk) * 1000000 // COUNT(*) AS BIGINT) AS final_ppm,
           CAST(SUM(cur * gk * tok) AS BIGINT) AS final_tokens,
           CAST(CAST(SUM(cur * gk * tok) AS HUGEINT) * 1000000
                // NULLIF(SUM(tok), 0) AS BIGINT) AS final_tok_ppm
    FROM ds GROUP BY source ORDER BY source
    """
    )


@register(
    "zg04_corpus_datasheet",
    oracle=_zg04_oracle_sql(),
    doc=(
        "CORPUS DATASHEET — the per-source one-page census a "
        "pretraining org publishes alongside a dataset (the 'datasheets "
        "for datasets' table): raw doc and token mass, CURATION "
        "survival under zf01's five-stage lineage (exact -> near -> "
        "semantic -> decontamination -> DSIR), LEARNED-GATE yield under "
        "ze02's averaged-perceptron gate (margin > 0 keeps; docs the "
        "model cannot score — no bigram — drop, the conservative "
        "twin of ze02's ties-drop rule), and the INTERSECTION that "
        "actually ships: final_kept/final_tokens = docs passing BOTH "
        "the rule-based curation funnel and the learned filter, with "
        "final_tok_ppm the surviving fraction of the source's token "
        "mass. The two selection systems overlap but do not nest — "
        "this table is where their disagreement becomes visible per "
        "source. Shape: the PUBLISHED zf01 flags artifact "
        "(staleness-pinned parquet; the live five-stage funnel runs "
        "and publishes only when absent/stale) LEFT-joined with the "
        "PUBLISHED ze02 margins artifact (r11: the scored corpus as "
        "a pruned (doc_id, m) parquet read — the scoring pass runs "
        "once, at the artifact publish), then ONE "
        "map-combined per-source rollup. Token sums are 0/1-flag x "
        "window-clamped products (addend <= 4096 — zd04's bound); the "
        "token ppm widens through DECIMAL(38,0)/HUGEINT. Oracle "
        "composes the zf01 flags chain + ze02's fit/averaging CTEs "
        "(verified disjoint CTE namespaces)."
    ),
    tags=("curation", "quality", "report", "llm-pipeline"),
)
def zg04(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spotify_tags_etl_spark.operators.zeops import ze02_margins_artifact

    flags = zf01_flags_artifact(spark, sf_dir)
    # r11: read the published margins artifact instead of re-scoring
    scored = ze02_margins_artifact(spark, sf_dir).select("doc_id", "m")
    record_plan(scored, "zg04:margins")
    ds = flags.join(scored, "doc_id", "left").select(
        "source",
        F.expr(_ZG01_TOK.format(div="DIV")).alias("tok"),
        F.expr(_ZG04_KEPT).alias("cur"),
        F.when(F.col("m") > 0, 1).otherwise(0).alias("gk"),
    )
    report = (
        ds.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.expr("CAST(SUM(tok) AS BIGINT)").alias("tok_total"),
            F.expr("CAST(SUM(cur) AS BIGINT)").alias("cur_kept"),
            F.expr("CAST(SUM(gk) AS BIGINT)").alias("gate_kept"),
            F.expr("CAST(SUM(cur * gk) AS BIGINT)").alias("final_kept"),
            F.expr("CAST(SUM(cur * gk * tok) AS BIGINT)").alias("final_tokens"),
        )
        .select(
            "source",
            "n_docs",
            "tok_total",
            "cur_kept",
            F.expr("cur_kept * 1000000 DIV n_docs").alias("cur_ppm"),
            "gate_kept",
            F.expr("gate_kept * 1000000 DIV n_docs").alias("gate_ppm"),
            "final_kept",
            F.expr("final_kept * 1000000 DIV n_docs").alias("final_ppm"),
            "final_tokens",
            F.expr(
                "CAST(CAST(final_tokens AS DECIMAL(38,0)) * 1000000"
                " DIV NULLIF(tok_total, 0) AS BIGINT)"
            ).alias("final_tok_ppm"),
        )
        .orderBy("source")
    )
    record_plan(report, "zg04:datasheet")
    return report


# ---------------------------------------------------------------------------
# zg05 — curated shard plan (zg01's windows snake-assigned to writers)
# ---------------------------------------------------------------------------

#: Output shard count. A planning constant like ZC01_WINDOW: production
#: wires the writer count; the assignment arithmetic is S-agnostic.
ZG05_SHARDS = 8


def _zg05_oracle_sql() -> str:
    s = ZG05_SHARDS
    return (
        "WITH "
        + _zf01_flags_ctes(", d.n_chars")
        + f""",
    stoks AS (
      SELECT doc_id, {_ZG01_TOK.format(div="//")} AS tok
      FROM flags WHERE {ZG_SURVIVOR}
    ),
    sbanded AS (
      SELECT doc_id, tok,
             CASE WHEN tok <= 1 THEN 0 ELSE length(bin(tok - 1)) END AS band_exp
      FROM stoks
    ),
    sranked AS (
      SELECT doc_id, tok, band_exp,
             ROW_NUMBER() OVER (PARTITION BY band_exp
                                ORDER BY tok DESC, doc_id ASC) - 1 AS r
      FROM sbanded
    ),
    wagg AS (
      SELECT band_exp,
             r // ({ZC01_WINDOW} // (CAST(1 AS BIGINT) << band_exp)) AS widx,
             SUM(tok) AS w_tokens,
             COUNT(*) AS w_docs
      FROM sranked GROUP BY 1, 2
    ),
    wrk AS (
      SELECT w_tokens, w_docs,
             ROW_NUMBER() OVER (ORDER BY w_tokens DESC, band_exp ASC, widx ASC)
               - 1 AS r0
      FROM wagg
    ),
    snaked AS (
      SELECT CASE WHEN (r0 // {s}) % 2 = 0 THEN r0 % {s}
                  ELSE {s - 1} - r0 % {s} END AS shard,
             w_tokens, w_docs
      FROM wrk
    ),
    tot AS (SELECT SUM(w_tokens) AS t FROM wagg)
    SELECT CAST(shard AS BIGINT) AS shard,
           CAST(COUNT(*) AS BIGINT) AS n_windows,
           CAST(SUM(w_docs) AS BIGINT) AS n_docs,
           CAST(SUM(w_tokens) AS BIGINT) AS shard_tokens,
           CAST(CAST(SUM(w_tokens) AS HUGEINT) * 1000000 // tot.t AS BIGINT)
             AS share_ppm
    FROM snaked, tot GROUP BY shard, tot.t ORDER BY shard
    """
    )


@register(
    "zg05_curated_shard_plan",
    oracle=_zg05_oracle_sql(),
    doc=(
        "CURATED SHARD PLAN — the writer-balance step between packing "
        "and the distributed filesystem: zg01's curated windows (zf01 "
        "survivors through zc01's banded-FFD arithmetic) assigned to "
        f"{ZG05_SHARDS} output shards by BOUSTROPHEDON (snake) order "
        "over the fill-ranked window list — windows sorted by token "
        "mass descending, dealt 0..S-1 then S-1..0, so each shard "
        "receives one window from every mass stratum and the heaviest "
        "and lightest windows pair off (the deterministic, fully "
        "relational sibling of greedy LPT — no sequential bin state, "
        "same balance class for sorted inputs). Per shard: window "
        "count, doc count, token mass, and share_ppm of the curated "
        "corpus (ideal = 1e6/S; the spread IS the imbalance a trainer "
        "sees as straggler writers). Shape: survivors filtered from "
        "the PUBLISHED zf01 flags artifact (staleness-pinned parquet; "
        "live funnel only when absent/stale), windows via "
        "scalerank.grouped_rank (zc01's per-band rank, no 13-reducer "
        "band window) -> O(#windows) per-window rollup -> "
        "scalerank.global_rank over the window frame (range layout + "
        "broadcast offsets, no single-reducer sort) -> pure modular "
        "snake arithmetic -> O(S)-row rollup, checkpointed, share "
        "denominators via its own broadcast total (never a second "
        "corpus scan). Token sums widen through DECIMAL(38,0)/HUGEINT "
        "at the ppm step."
    ),
    tags=("curation", "packing", "planner", "llm-pipeline"),
)
def zg05(spark: SparkSession, sf_dir: str) -> DataFrame:
    flags = zf01_flags_artifact(spark, sf_dir)
    surv = flags.where(ZG_SURVIVOR).select(
        "doc_id", F.expr(_ZG01_TOK.format(div="DIV")).alias("tok")
    )
    return shard_plan(surv, label="zg05")


def shard_plan(surv: DataFrame, label: str) -> DataFrame:
    """zg05's boustrophedon writer balance over any (doc_id, tok)
    survivor frame — zg05 feeds it the zf01 five-stage survivors, zh03
    the unified triple-gated keep-set. Same machinery, same output
    schema (shard, n_windows, n_docs, shard_tokens, share_ppm)."""
    from spotify_tags_etl_spark.operators.scalerank import global_rank, grouped_rank

    surv = surv.withColumn(
        "band_exp",
        F.expr("CASE WHEN tok <= 1 THEN 0 ELSE length(bin(tok - 1)) END"),
    )
    ranked, _n = grouped_rank(
        surv,
        ["band_exp"],
        [F.col("tok").desc(), F.col("doc_id").asc()],
        rank_col="brk",
    )
    record_plan(ranked, f"{label}:banded_rank")
    wagg = (
        ranked.selectExpr(
            "band_exp",
            "tok",
            f"(brk - 1) DIV ({ZC01_WINDOW} DIV shiftleft(CAST(1 AS BIGINT),"
            " band_exp)) AS widx",
        )
        .groupBy("band_exp", "widx")
        .agg(
            F.expr("CAST(SUM(tok) AS BIGINT)").alias("w_tokens"),
            F.count(F.lit(1)).cast("bigint").alias("w_docs"),
        )
    )
    record_plan(wagg, f"{label}:window_rollup")
    wrk, _nw = global_rank(
        wagg,
        [F.col("w_tokens").desc(), F.col("band_exp").asc(), F.col("widx").asc()],
        rank_col="wr",
    )
    s = ZG05_SHARDS
    sh = wrk.selectExpr(
        f"CASE WHEN ((wr - 1) DIV {s}) % 2 = 0 THEN (wr - 1) % {s}"
        f" ELSE {s - 1} - (wr - 1) % {s} END AS shard",
        "w_tokens",
        "w_docs",
    )
    rollup = sh.groupBy("shard").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_windows"),
        F.sum("w_docs").cast("bigint").alias("n_docs"),
        F.sum("w_tokens").cast("bigint").alias("shard_tokens"),
    )
    record_plan(rollup, f"{label}:shard_rollup")
    rollup = rollup.localCheckpoint(eager=True)  # O(S) rows
    tot = rollup.agg(F.sum("shard_tokens").alias("t"))
    return (
        rollup.crossJoin(F.broadcast(tot))
        .select(
            F.col("shard").cast("bigint").alias("shard"),
            "n_windows",
            "n_docs",
            "shard_tokens",
            F.expr(
                "CAST(CAST(shard_tokens AS DECIMAL(38,0)) * 1000000"
                " DIV t AS BIGINT)"
            ).alias("share_ppm"),
        )
        .orderBy("shard")
    )


# ---------------------------------------------------------------------------
# zg06 — heuristic quality-rule census (Gopher-style, first-fail attributed)
# ---------------------------------------------------------------------------

#: Hard-rule thresholds (Gopher/C4-lineage heuristics, scaled to the
#: corpus at hand): word-count bounds, intra-doc duplicate-word mass,
#: and stopword presence. All integer ppm arithmetic — no floats.
ZG06_MIN_WORDS = 16
ZG06_MAX_WORDS = 96
ZG06_REP_PPM = 600_000
ZG06_STOPWORDS = ("the", "and", "of", "to", "a")

#: FIRST-failing-rule attribution selectors (zf01's discipline applied
#: to heuristic rules): mutually exclusive and exhaustive, so the
#: census telescopes to n_docs exactly. Identical in both dialects.
_ZG06_DROPS = (
    ("drop_short", "r_short"),
    ("drop_long", "(1 - r_short) * r_long"),
    ("drop_rep", "(1 - r_short) * (1 - r_long) * r_rep"),
    ("drop_stop", "(1 - r_short) * (1 - r_long) * (1 - r_rep) * r_stop"),
    ("n_kept", "(1 - r_short) * (1 - r_long) * (1 - r_rep) * (1 - r_stop)"),
)

_ZG06_KEPT = _ZG06_DROPS[-1][1]


def _zg06_oracle_sql() -> str:
    stoplist = ", ".join(f"'{w}'" for w in ZG06_STOPWORDS)
    drops = ",\n           ".join(
        f"CAST(SUM({expr}) AS BIGINT) AS {name}" for name, expr in _ZG06_DROPS
    )
    return f"""
    WITH m AS (
      SELECT source,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS nw,
             CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS ndw,
             list_has_any(string_split(lower(text), ' '), [{stoplist}]) AS has_stop
      FROM documents
    ),
    r AS (
      SELECT source,
             CASE WHEN nw < {ZG06_MIN_WORDS} THEN 1 ELSE 0 END AS r_short,
             CASE WHEN nw > {ZG06_MAX_WORDS} THEN 1 ELSE 0 END AS r_long,
             CASE WHEN (nw - ndw) * 1000000 > {ZG06_REP_PPM} * nw
                  THEN 1 ELSE 0 END AS r_rep,
             CASE WHEN has_stop THEN 0 ELSE 1 END AS r_stop
      FROM m
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           {drops},
           CAST(SUM({_ZG06_KEPT}) * 1000000 // COUNT(*) AS BIGINT) AS kept_ppm
    FROM r GROUP BY source ORDER BY source
    """


def _zg06_base(docs: DataFrame) -> DataFrame:
    """The per-doc rule measurements (word count, distinct-word count,
    stopword presence) — shared by zg06's fixed-threshold census and
    zg09's repetition-threshold sweep. BIGINT word counts: the ppm
    cross-multiplies overflow int32 at ~3.6k words otherwise."""
    stoplist = ", ".join(f"'{w}'" for w in ZG06_STOPWORDS)
    return docs.select(
        "source",
        F.expr("CAST(size(split(text, ' ')) AS BIGINT)").alias("nw"),
        F.expr("CAST(size(array_distinct(split(text, ' '))) AS BIGINT)").alias(
            "ndw"
        ),
        F.expr(
            f"arrays_overlap(split(lower(text), ' '), array({stoplist}))"
        ).alias("has_stop"),
    )


def zg06_census_partial(docs: DataFrame) -> DataFrame:
    """The mergeable half of zg06: per-source counts of docs dropped by
    each FIRST-failing rule plus keeps. Every column is a SUM of 0/1
    indicators, so partials over any doc partition SUM-merge to the
    batch census — the property zg07 streams on. Expression-only (one
    projection, one map-combined rollup); ppm finishing is the caller's
    (it does not merge)."""
    rules = _zg06_base(docs).select(
        "source",
        F.expr(f"CASE WHEN nw < {ZG06_MIN_WORDS} THEN 1 ELSE 0 END").alias(
            "r_short"
        ),
        F.expr(f"CASE WHEN nw > {ZG06_MAX_WORDS} THEN 1 ELSE 0 END").alias(
            "r_long"
        ),
        F.expr(
            f"CASE WHEN (nw - ndw) * 1000000 > {ZG06_REP_PPM} * nw"
            " THEN 1 ELSE 0 END"
        ).alias("r_rep"),
        F.expr("CASE WHEN has_stop THEN 0 ELSE 1 END").alias("r_stop"),
    )
    return rules.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        *[
            F.expr(f"CAST(SUM({expr}) AS BIGINT)").alias(name)
            for name, expr in _ZG06_DROPS
        ],
    )


def _zg06_finish(census: DataFrame) -> DataFrame:
    """ppm projection over a (merged) census — shared batch/stream."""
    return census.select(
        "source",
        "n_docs",
        "drop_short",
        "drop_long",
        "drop_rep",
        "drop_stop",
        "n_kept",
        F.expr("n_kept * 1000000 DIV n_docs").alias("kept_ppm"),
    ).orderBy("source")


@register(
    "zg06_quality_rule_census",
    oracle=_zg06_oracle_sql(),
    doc=(
        "HEURISTIC QUALITY-RULE CENSUS — the Gopher/C4-style hard-rule "
        "pass of a curation pipeline, with zf01's mutually-exclusive "
        "FIRST-failing-rule attribution so the report says not just "
        "how much each source loses but to WHICH rule first: too-short "
        f"(< {ZG06_MIN_WORDS} words), too-long (> {ZG06_MAX_WORDS}), "
        f"repetitive (duplicate-word mass > {ZG06_REP_PPM} ppm of the "
        "doc — the intra-doc repetition signal, Rae et al.'s "
        "duplicate-fraction family), and no-stopword (none of the "
        f"{len(ZG06_STOPWORDS)} function words present — the classic "
        "gibberish/boilerplate tell). Mass conserves exactly: n_docs = "
        "drop_short + drop_long + drop_rep + drop_stop + n_kept per "
        "source (pinned by test). Complements the engine's other two "
        "selection systems — ze02's LEARNED gate and zf01's "
        "corpus-level funnel — as the cheap per-doc-local first pass: "
        "every rule reads ONLY the doc itself, so the census is one "
        "expression-only projection + one map-combined rollup, no "
        "joins, no state, embarrassingly partition-parallel at any "
        "scale (and the partials SUM-merge — zg07 streams the same "
        "census). Integer ppm arithmetic throughout; word counts cast "
        "to BIGINT before the repetition cross-multiply so a 4 GB "
        "pathological doc cannot overflow int32 ppm math. Batch path "
        "(r11): the per-doc verdicts are STORED in the v2 zf01 flags "
        "artifact (computed there by zg06_census_partial's exact "
        "spelling, riding the scan the lineage already pays), so the "
        "census is one pruned 5-column artifact scan + the same "
        "map-combined rollup — no text re-parse; the live-text path "
        "remains zg07's per-batch partial and the artifact publish "
        "itself."
    ),
    tags=("curation", "quality", "text", "report", "llm-pipeline"),
)
def zg06(spark: SparkSession, sf_dir: str) -> DataFrame:
    rules = zf01_flags_artifact(spark, sf_dir).select(
        "source", "r_short", "r_long", "r_rep", "r_stop"
    )
    census = rules.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        *[
            F.expr(f"CAST(SUM({expr}) AS BIGINT)").alias(name)
            for name, expr in _ZG06_DROPS
        ],
    )
    record_plan(census, "zg06:rule_census")
    report = _zg06_finish(census)
    record_plan(report, "zg06:rule_report")
    return report


# ---------------------------------------------------------------------------
# zg07 — streaming twin of zg06: incremental quality-rule census
# ---------------------------------------------------------------------------


def streaming_quality_rules(spark: SparkSession, stream_docs: DataFrame) -> DataFrame:
    """Incremental rule census: every zg06 rule is per-doc-local, so
    each micro-batch reduces to ONE per-source census partial (counts
    of first-failing rules — complete within the arrival batch), and
    partials SUM-merge into versioned parquet (replay-safe, on the
    streaming/ops.py merged_stream skeleton). Counts merge
    associatively + commutatively, so the close-time ppm rollup is
    micro-batch-layout invariant and equals batch zg06 exactly.
    Per-trigger cost O(batch + sources); no engine state store; the
    raw stream is never re-scanned."""
    from spotify_tags_etl_spark.streaming.ops import merged_stream

    def step(batch: DataFrame, prev: DataFrame | None) -> DataFrame:
        part = zg06_census_partial(batch)
        if prev is None:
            return part
        return (
            prev.unionByName(part)
            .groupBy("source")
            .agg(
                F.sum("n_docs").alias("n_docs"),
                F.sum("drop_short").alias("drop_short"),
                F.sum("drop_long").alias("drop_long"),
                F.sum("drop_rep").alias("drop_rep"),
                F.sum("drop_stop").alias("drop_stop"),
                F.sum("n_kept").alias("n_kept"),
            )
        )

    docs = stream_docs.select("source", "text")
    with merged_stream(docs, "zg07:census_merge", step) as state:
        if state is None:
            return spark.createDataFrame(
                [],
                "source string, n_docs bigint, drop_short bigint,"
                " drop_long bigint, drop_rep bigint, drop_stop bigint,"
                " n_kept bigint, kept_ppm bigint",
            )
        # checkpoint only because the scratch root's removal deletes the
        # backing files; a production run leaves the census as the
        # parquet it already is
        census = state.localCheckpoint(eager=True)
    report = _zg06_finish(census)
    record_plan(report, "zg07:rule_report")
    return report


@register(
    "zg07_stream_quality_rules",
    oracle=_zg06_oracle_sql(),
    doc=(
        "Streaming twin of zg06: each micro-batch computes its own "
        "docs' first-failing-rule census partial (rules are "
        "per-doc-local, so attribution is complete within the arrival "
        "batch) and SUM-merges it into versioned parquet (replay-safe "
        "merged_stream skeleton — a replayed "
        "batch_id merges against the pre-attempt version). Counts "
        "merge associatively + commutatively => the close-time ppm "
        "rollup is micro-batch-layout invariant (pinned under a 3-file "
        "split) and equals batch zg06 exactly; oracle: zg06's SQL "
        "verbatim. Per-trigger cost O(batch + sources); no engine "
        "state store; the raw stream is never re-scanned. This is the "
        "ingest-path shape: hard rules run AT ARRIVAL (they need no "
        "corpus context), so the census is already current when the "
        "batch funnel (zf02) and gate (ze03) run their passes."
    ),
    tags=("streaming", "curation", "quality", "text", "llm-pipeline"),
)
def zg07(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spotify_tags_etl_spark.streaming.ops import read_table_stream

    return streaming_quality_rules(
        spark, read_table_stream(spark, sf_dir, "documents")
    )


# ---------------------------------------------------------------------------
# zg08 — curation stage-overlap (redundancy) matrix
# ---------------------------------------------------------------------------

#: Stage name -> unconditional drop-flag expression over the zf01 flag
#: columns (NOT first-fail attributed: each stage's own verdict,
#: independent of order — the artifact stores exactly these).
_ZG08_STAGES = (
    ("exact", "(1 - s_e)"),
    ("near", "f_near"),
    ("sem", "f_sem"),
    ("con", "f_con"),
    ("off", "f_off"),
)


def _zg08_pairs() -> list[tuple[int, int]]:
    n = len(_ZG08_STAGES)
    return [(i, j) for i in range(n) for j in range(i, n)]


def _zg08_oracle_sql() -> str:
    sums = ",\n             ".join(
        f"CAST(SUM({_ZG08_STAGES[i][1]} * {_ZG08_STAGES[j][1]}) AS BIGINT)"
        f" AS b_{i}_{j}"
        for i, j in _zg08_pairs()
    )
    rows = "\n      UNION ALL ".join(
        f"SELECT CAST({i} AS BIGINT) AS ia, CAST({j} AS BIGINT) AS ib,"
        f" '{_ZG08_STAGES[i][0]}' AS stage_a, '{_ZG08_STAGES[j][0]}' AS stage_b,"
        f" b_{i}_{i} AS n_a, b_{j}_{j} AS n_b, b_{i}_{j} AS n_both FROM t"
        for i, j in _zg08_pairs()
    )
    return (
        "WITH "
        + _zf01_flags_ctes()
        + f""",
    t AS (
      SELECT {sums}
      FROM flags
    ),
    m AS (
      {rows}
    )
    SELECT ia, ib, stage_a, stage_b, n_a, n_b, n_both,
           CAST(n_both * 1000000 // NULLIF(n_a + n_b - n_both, 0) AS BIGINT)
             AS jaccard_ppm
    FROM m ORDER BY ia, ib
    """
    )


@register(
    "zg08_stage_overlap",
    oracle=_zg08_oracle_sql(),
    doc=(
        "CURATION STAGE-OVERLAP MATRIX — the counterfactual census the "
        "first-fail attribution (zf01/zg01) deliberately hides: for "
        "every pair of the five curation stages, how many docs BOTH "
        "stages flag under their own UNCONDITIONAL verdicts (each "
        "stage judged independently — exactly the flag columns the "
        "artifact stores), with the pairwise Jaccard ppm. This is the "
        "table that answers 'if I dropped stage X, how much of its "
        "catch would stage Y still remove?' — the redundancy evidence "
        "an org reads before cutting a pipeline stage's cost, and the "
        "disagreement evidence before trusting one. Diagonal rows are "
        "the per-stage unconditional drop counts (for the funnel's "
        "FIRST stage, unconditional = first-fail, so the exact "
        "diagonal equals zf01's drop_exact — pinned). Shape: reads the "
        "PUBLISHED zf01 flags artifact (staleness-pinned parquet; live "
        "funnel only when absent/stale), folds ALL 15 pair sums + 5 "
        "totals in ONE map-combined aggregate over the pruned flag "
        "scan (0/1 x 0/1 products, addend <= 1), then unpivots the "
        "single result row into the 15-row matrix with stack() — "
        "O(stages^2) output at any corpus size, one pass, no joins. "
        "Oracle: the flags chain + the same sums UNION-ALL'd into the "
        "matrix."
    ),
    tags=("curation", "dedup", "report", "llm-pipeline"),
)
def zg08(spark: SparkSession, sf_dir: str) -> DataFrame:
    flags = zf01_flags_artifact(spark, sf_dir)
    t = flags.agg(
        *[
            F.expr(
                f"CAST(SUM({_ZG08_STAGES[i][1]} * {_ZG08_STAGES[j][1]})"
                f" AS BIGINT)"
            ).alias(f"b_{i}_{j}")
            for i, j in _zg08_pairs()
        ]
    )
    record_plan(t, "zg08:pair_sums")
    stack_args = ", ".join(
        f"CAST({i} AS BIGINT), CAST({j} AS BIGINT),"
        f" '{_ZG08_STAGES[i][0]}', '{_ZG08_STAGES[j][0]}',"
        f" b_{i}_{i}, b_{j}_{j}, b_{i}_{j}"
        for i, j in _zg08_pairs()
    )
    return (
        t.selectExpr(
            f"stack({len(_zg08_pairs())}, {stack_args})"
            " AS (ia, ib, stage_a, stage_b, n_a, n_b, n_both)"
        )
        .select(
            "ia",
            "ib",
            "stage_a",
            "stage_b",
            "n_a",
            "n_b",
            "n_both",
            F.expr(
                "CAST(n_both * 1000000 DIV NULLIF(n_a + n_b - n_both, 0)"
                " AS BIGINT)"
            ).alias("jaccard_ppm"),
        )
        .orderBy("ia", "ib")
    )


# ---------------------------------------------------------------------------
# zg09 — repetition-threshold sweep for the hard-rule census
# ---------------------------------------------------------------------------

#: Candidate repetition thresholds (duplicate-word mass, ppm of the
#: doc): the tuning grid around zg06's deployed 600000.
ZG09_THRESHOLDS = tuple(range(350_000, 800_000, 50_000))


def _zg09_terms(t: int) -> dict[str, str]:
    """First-fail census terms with the repetition rule at threshold
    ``t`` — shared spelling between the Spark aggregate and the
    oracle (pure integer arithmetic in both dialects)."""
    rep = f"CASE WHEN (nw - ndw) * 1000000 > {t} * nw THEN 1 ELSE 0 END"
    pre = "(1 - r_short) * (1 - r_long)"
    return {
        "rep": f"{pre} * {rep}",
        "stop": f"{pre} * (1 - {rep}) * r_stop",
        "kept": f"{pre} * (1 - {rep}) * (1 - r_stop)",
    }


def _zg09_oracle_sql() -> str:
    stoplist = ", ".join(f"'{w}'" for w in ZG06_STOPWORDS)
    sums = []
    for i, t in enumerate(ZG09_THRESHOLDS):
        terms = _zg09_terms(t)
        sums += [
            f"CAST(SUM({terms['rep']}) AS BIGINT) AS rep_{i}",
            f"CAST(SUM({terms['stop']}) AS BIGINT) AS stop_{i}",
            f"CAST(SUM({terms['kept']}) AS BIGINT) AS kept_{i}",
        ]
    sums += [
        "CAST(COUNT(*) AS BIGINT) AS n_docs",
        "CAST(SUM(r_short) AS BIGINT) AS n_short",
        "CAST(SUM((1 - r_short) * r_long) AS BIGINT) AS n_long",
    ]
    rows = "\n      UNION ALL ".join(
        f"SELECT CAST({t} AS BIGINT) AS thr_ppm, n_docs,"
        f" n_short AS drop_short, n_long AS drop_long,"
        f" rep_{i} AS drop_rep, stop_{i} AS drop_stop, kept_{i} AS n_kept"
        " FROM agg"
        for i, t in enumerate(ZG09_THRESHOLDS)
    )
    return f"""
    WITH m AS (
      SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS nw,
             CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS ndw,
             list_has_any(string_split(lower(text), ' '), [{stoplist}]) AS has_stop
      FROM documents
    ),
    r AS (
      SELECT nw, ndw,
             CASE WHEN nw < {ZG06_MIN_WORDS} THEN 1 ELSE 0 END AS r_short,
             CASE WHEN nw > {ZG06_MAX_WORDS} THEN 1 ELSE 0 END AS r_long,
             CASE WHEN has_stop THEN 0 ELSE 1 END AS r_stop
      FROM m
    ),
    agg AS (
      SELECT {", ".join(sums)}
      FROM r
    ),
    sw AS (
      {rows}
    )
    SELECT thr_ppm, n_docs, drop_short, drop_long, drop_rep, drop_stop,
           n_kept,
           CAST(n_kept * 1000000 // n_docs AS BIGINT) AS kept_ppm
    FROM sw ORDER BY thr_ppm
    """


@register(
    "zg09_rule_threshold_sweep",
    oracle=_zg09_oracle_sql(),
    doc=(
        "REPETITION-THRESHOLD SWEEP for the hard-rule census — the "
        "yv21/zg03 tuning-table pattern applied to zg06's heuristic "
        "gate: for each candidate duplicate-word-mass threshold (the "
        f"{len(ZG09_THRESHOLDS)}-point grid around the deployed "
        f"{ZG06_REP_PPM} ppm), the FULL first-fail census the rule set "
        "would produce at that cut — drop_rep AND the downstream "
        "drop_stop/n_kept (first-fail attribution means moving one "
        "stage's threshold re-routes mass through every later stage; "
        "the sweep shows the whole budget, not just the one rule's "
        "count). Mass conserves per row (n_docs = drops + kept, "
        "pinned); the deployed-threshold row equals zg06's totals "
        "(pinned). Shape: one expression-only corpus projection, ALL "
        f"{3 * len(ZG09_THRESHOLDS) + 3} conditional sums folded in "
        "ONE map-combined global aggregate (0/1 indicator addends), "
        "stack()'d into the grid — O(grid) output, one scan, no "
        "joins, no row amplification. Integer ppm arithmetic "
        "throughout (BIGINT word counts before the cross-multiply)."
    ),
    tags=("curation", "quality", "text", "report", "llm-pipeline"),
)
def zg09(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("source", "text")
    rules = _zg06_base(docs).select(
        "nw",
        "ndw",
        F.expr(f"CASE WHEN nw < {ZG06_MIN_WORDS} THEN 1 ELSE 0 END").alias(
            "r_short"
        ),
        F.expr(f"CASE WHEN nw > {ZG06_MAX_WORDS} THEN 1 ELSE 0 END").alias(
            "r_long"
        ),
        F.expr("CASE WHEN has_stop THEN 0 ELSE 1 END").alias("r_stop"),
    )
    aggs = []
    for i, t in enumerate(ZG09_THRESHOLDS):
        terms = _zg09_terms(t)
        aggs += [
            F.expr(f"CAST(SUM({terms['rep']}) AS BIGINT)").alias(f"rep_{i}"),
            F.expr(f"CAST(SUM({terms['stop']}) AS BIGINT)").alias(f"stop_{i}"),
            F.expr(f"CAST(SUM({terms['kept']}) AS BIGINT)").alias(f"kept_{i}"),
        ]
    aggs += [
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.expr("CAST(SUM(r_short) AS BIGINT)").alias("n_short"),
        F.expr("CAST(SUM((1 - r_short) * r_long) AS BIGINT)").alias("n_long"),
    ]
    agg = rules.agg(*aggs)
    record_plan(agg, "zg09:sweep_sums")
    stack_args = ", ".join(
        f"CAST({t} AS BIGINT), n_docs, n_short, n_long,"
        f" rep_{i}, stop_{i}, kept_{i}"
        for i, t in enumerate(ZG09_THRESHOLDS)
    )
    return (
        agg.selectExpr(
            f"stack({len(ZG09_THRESHOLDS)}, {stack_args})"
            " AS (thr_ppm, n_docs, drop_short, drop_long, drop_rep,"
            " drop_stop, n_kept)"
        )
        .select(
            "thr_ppm",
            "n_docs",
            "drop_short",
            "drop_long",
            "drop_rep",
            "drop_stop",
            "n_kept",
            F.expr("CAST(n_kept * 1000000 DIV n_docs AS BIGINT)").alias(
                "kept_ppm"
            ),
        )
        .orderBy("thr_ppm")
    )


# ---------------------------------------------------------------------------
# zg10 — curation mix-shift report (quota re-apportionment evidence)
# ---------------------------------------------------------------------------


def _zg10_oracle_sql() -> str:
    from spotify_tags_etl_spark.operators.ytrain import YV01_BLOCK, quota_ctes

    return (
        "WITH "
        + _zf01_flags_ctes(", d.n_chars")
        + f""",
    surv AS MATERIALIZED (
      SELECT source, n_chars FROM flags WHERE {ZG_SURVIVOR}
    ),
    {quota_ctes("documents", "a_")},
    {quota_ctes("surv", "b_")}
    SELECT a.source,
           CAST(a.n_docs AS BIGINT) AS n_docs_full,
           CAST(a.chars AS BIGINT) AS chars_full,
           a.quota AS quota_full,
           CAST(COALESCE(b.n_docs, 0) AS BIGINT) AS n_docs_surv,
           CAST(COALESCE(b.chars, 0) AS BIGINT) AS chars_surv,
           CAST(COALESCE(b.quota, 0) AS BIGINT) AS quota_surv,
           CAST(COALESCE(b.quota, 0) - a.quota AS BIGINT) AS dquota,
           CAST(CAST(a.chars AS HUGEINT) * 1000000
                // (SELECT SUM(chars) FROM a_quotas) AS BIGINT)
             AS share_full_ppm,
           CAST(CAST(COALESCE(b.chars, 0) AS HUGEINT) * 1000000
                // (SELECT SUM(chars) FROM b_quotas) AS BIGINT)
             AS share_surv_ppm,
           CAST(CAST(COALESCE(b.chars, 0) AS HUGEINT) * 1000000
                // (SELECT SUM(chars) FROM b_quotas)
                - CAST(a.chars AS HUGEINT) * 1000000
                // (SELECT SUM(chars) FROM a_quotas) AS BIGINT)
             AS shift_ppm
    FROM a_quotas a LEFT JOIN b_quotas b ON b.source = a.source
    ORDER BY a.source
    """
    )


@register(
    "zg10_curation_mix_shift",
    oracle=_zg10_oracle_sql(),
    doc=(
        "CURATION MIX-SHIFT REPORT — the quota re-apportionment "
        "evidence behind zg02's claim that 'curation shifts the mix': "
        "per source, the Hamilton largest-remainder dataloader quota "
        "(yv01's arithmetic, 1024-seat block) computed over the FULL "
        "corpus and over the zf01 SURVIVOR corpus side by side, with "
        "the seat delta and the char-mass share shift in ppm. A source "
        "whose docs duplicate heavily or fail decontamination LOSES "
        "seats to cleaner sources — this table is what a data-mixture "
        "owner reviews before accepting a curation change (the "
        "quota-diff the zg02 schedule silently bakes in). Both quota "
        "columns sum to the full 1024 block (Hamilton exactness — "
        "pinned); the full-corpus side equals yv01's own output "
        "(pinned). Shape: reads the PUBLISHED zf01 flags artifact "
        "(live funnel only when absent/stale); both sides are "
        "O(#sources) rollups (one over a (source, n_chars) corpus "
        "projection scan, one over the pruned artifact scan) flowing "
        "through driver-light broadcast quota arithmetic — the "
        "O(#sources) remainder window is the xr03 bounded-frame "
        "class. Oracle: yv01's quota chain instantiated twice via "
        "the prefix-parameterized quota_ctes (namespaces disjoint)."
    ),
    tags=("curation", "training", "planner", "report", "llm-pipeline"),
)
def zg10(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from spotify_tags_etl_spark.operators.ytrain import YV01_BLOCK

    def rollup(frame: DataFrame, label: str) -> DataFrame:
        s = frame.groupBy("source").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("chars"),
        )
        record_plan(s, label)
        return s.localCheckpoint(eager=True)  # O(#sources)

    def quotas(s: DataFrame) -> DataFrame:
        """yv01's largest-remainder arithmetic over an O(#sources)
        checkpointed rollup (zc05's builder, minus the quota>0 filter
        — the mix-shift report keeps zero-seat sources visible)."""
        total = s.agg(F.sum("chars").cast("bigint").alias("total"))
        fl = s.crossJoin(F.broadcast(total)).select(
            "source",
            "n_docs",
            "chars",
            F.expr(
                f"CAST(CAST(chars AS DECIMAL(38,0)) * {YV01_BLOCK} DIV total"
                " AS BIGINT)"
            ).alias("fl"),
            F.expr(
                f"CAST(CAST(chars AS DECIMAL(38,0)) * {YV01_BLOCK} % total"
                " AS BIGINT)"
            ).alias("rem"),
        )
        extra = fl.agg(
            (F.lit(YV01_BLOCK) - F.sum("fl")).cast("bigint").alias("extra")
        )
        rk = F.row_number().over(
            # O(#sources) frame — the xr03 documented bounded-frame window
            Window.orderBy(F.desc("rem"), F.desc("chars"), F.asc("source"))
        )
        return (
            fl.withColumn("rk", rk)
            .crossJoin(F.broadcast(extra))
            .select(
                "source",
                "n_docs",
                "chars",
                F.expr(
                    "CAST(fl + CASE WHEN rk <= extra THEN 1 ELSE 0 END"
                    " AS BIGINT)"
                ).alias("quota"),
            )
        )

    full = rollup(
        load_table(spark, sf_dir, "documents").select("source", "n_chars"),
        "zg10:full_rollup",
    )
    surv = rollup(
        zf01_flags_artifact(spark, sf_dir)
        .where(ZG_SURVIVOR)
        .select("source", "n_chars"),
        "zg10:surv_rollup",
    )
    qf = quotas(full).localCheckpoint(eager=True)
    qs_ = quotas(surv).localCheckpoint(eager=True)
    tf = qf.agg(F.sum("chars").cast("bigint").alias("tf"))
    ts = qs_.agg(F.sum("chars").cast("bigint").alias("ts"))
    report = (
        qf.alias("a")
        .join(
            F.broadcast(
                qs_.select(
                    F.col("source").alias("b_source"),
                    F.col("n_docs").alias("b_n_docs"),
                    F.col("chars").alias("b_chars"),
                    F.col("quota").alias("b_quota"),
                )
            ),
            F.expr("source = b_source"),
            "left",
        )
        .crossJoin(F.broadcast(tf))
        .crossJoin(F.broadcast(ts))
        .select(
            "source",
            F.col("n_docs").alias("n_docs_full"),
            F.col("chars").alias("chars_full"),
            F.col("quota").alias("quota_full"),
            F.expr("CAST(COALESCE(b_n_docs, 0) AS BIGINT)").alias("n_docs_surv"),
            F.expr("CAST(COALESCE(b_chars, 0) AS BIGINT)").alias("chars_surv"),
            F.expr("CAST(COALESCE(b_quota, 0) AS BIGINT)").alias("quota_surv"),
            F.expr("CAST(COALESCE(b_quota, 0) - quota AS BIGINT)").alias(
                "dquota"
            ),
            F.expr(
                "CAST(CAST(chars AS DECIMAL(38,0)) * 1000000 DIV tf AS BIGINT)"
            ).alias("share_full_ppm"),
            F.expr(
                "CAST(CAST(COALESCE(b_chars, 0) AS DECIMAL(38,0)) * 1000000"
                " DIV ts AS BIGINT)"
            ).alias("share_surv_ppm"),
            F.expr(
                "CAST(CAST(COALESCE(b_chars, 0) AS DECIMAL(38,0)) * 1000000"
                " DIV ts - CAST(chars AS DECIMAL(38,0)) * 1000000 DIV tf"
                " AS BIGINT)"
            ).alias("shift_ppm"),
        )
        .orderBy("source")
    )
    record_plan(report, "zg10:mix_shift")
    return report
