"""Round-11 compositions (zh band): the UNIFIED three-system keep-set.

The engine ships three independent selection systems for training-data
curation: zg06's per-doc hard rules (Gopher/C4 heuristics — cheap,
corpus-context-free), zf01's five-stage corpus funnel (exact -> near ->
semantic dedup -> eval decontamination -> DSIR target-likeness), and
ze02's learned classifier gate (averaged-perceptron margin). zg04
showed the two-way curation x gate intersection; the zh band produces
what a production pretraining org actually ships — the SINGLE
first-fail lineage across all three systems, and the packing /
curriculum / shard manifests over THAT triple-gated survivor set:

zh01 — unified keep-set lineage: per source, one mutually-exclusive
first-failing verdict per document through rules (short -> long ->
rep -> stop) -> funnel (exact -> near -> sem -> contam -> off-target)
-> gate, mass-conserving (n_docs = Σ drops + n_kept).

zh02 — unified packing manifest: zg01's banded-FFD window accounting
over the TRIPLE-gated survivors, with the token mass each SYSTEM
displaced from each band.

zh03 — unified shard plan: zg05's boustrophedon writer balance over
the unified survivor windows.

zh04 — streaming twin of zh01: rules + gate verdicts at arrival
(per-doc-complete), funnel state via zf02's kind-keyed mergeable
stores, first-fail composition at close — equal to batch zh01.

zh05 — seven-system overlap matrix: zg08's pairwise unconditional-drop
redundancy census widened to all seven verdicts (the four-rule block
collapsed to its own system verdict) + the gate.

zh06 — unified curriculum: zc05/zg02's quota-mixed easy-to-hard
dataloader schedule re-apportioned over the unified survivors.

Attribution semantics (shared by every zh query): each system's
verdict is its OWN, computed on the full corpus exactly as the system
defines it — the rules read only the doc, the funnel stages read the
whole corpus (dedup group structure does not depend on rule filtering:
rule verdicts are pure functions of text, so all members of an
exact-dup group pass or fail together and the group's keep-first
representative is unchanged), the gate scores every classifiable doc
(no bigram => unclassifiable => drops at the gate, zg04's conservative
rule). Ordering only ATTRIBUTES: first-fail walks rules -> funnel ->
gate, cheapest context first — so the unified report telescopes
exactly and each prefix matches the existing system's own census
(rule columns == zg06's, pinned).

Reference parity note: the reference ETL
(/root/reference/src/spotify_tags_etl/) has no curation or training
stage; these compose operators added in rounds 2-10 along SURVEY.md's
"training-data pipeline" axis (same as the zc-zg bands).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spotify_tags_etl_spark.operators.ytrain import quota_ctes
from spotify_tags_etl_spark.operators.zcops import (
    ZC01_WINDOW,
    curriculum_schedule,
)
from spotify_tags_etl_spark.operators.zeops import (
    _margins,
    _ze01_ctes,
    ZE01_ROUNDS,
    ze01_fit_artifact,
    ze02_margins_artifact,
)
from spotify_tags_etl_spark.operators.zfops import (
    _zf01_flags_ctes,
    zf01_flags_artifact,
)
from spotify_tags_etl_spark.operators.zgops import (
    _ZG01_TOK,
    ZG06_MAX_WORDS,
    ZG06_MIN_WORDS,
    ZG06_REP_PPM,
    ZG06_STOPWORDS,
    shard_plan,
)
from spotify_tags_etl_spark.plans.planmetrics import record_plan
from spotify_tags_etl_spark.plans.registry import register

# ---------------------------------------------------------------------------
# shared selectors: rules pass / funnel pass / unified keep
# ---------------------------------------------------------------------------

#: Rules-pass and funnel-pass products over the v2 flags-artifact
#: columns (0/1 integers — identical spelling in both dialects).
_RP = "(1 - r_short) * (1 - r_long) * (1 - r_rep) * (1 - r_stop)"
_FP = "s_e * (1 - f_near) * (1 - f_sem) * (1 - f_con) * (1 - f_off)"

#: The triple-gated survivor selector (rules AND funnel AND gate).
ZH_KEEP = f"{_RP} * {_FP} * gk"

#: First-fail attribution selectors, rules -> funnel -> gate: mutually
#: exclusive and exhaustive (they sum to 1 per doc with ZH_KEEP), so
#: every zh census telescopes exactly. The rule block is zg06's
#: _ZG06_DROPS verbatim; the funnel block is zf01's first-drop chain
#: gated on rules-pass; the gate drop is everything the two rule-based
#: systems kept but the learned filter rejects.
_ZH01_STAGES = (
    ("drop_short", "r_short"),
    ("drop_long", "(1 - r_short) * r_long"),
    ("drop_rep", "(1 - r_short) * (1 - r_long) * r_rep"),
    ("drop_stop", "(1 - r_short) * (1 - r_long) * (1 - r_rep) * r_stop"),
    ("drop_exact", f"{_RP} * (1 - s_e)"),
    ("drop_near", f"{_RP} * s_e * f_near"),
    ("drop_sem", f"{_RP} * s_e * (1 - f_near) * f_sem"),
    ("drop_contam", f"{_RP} * s_e * (1 - f_near) * (1 - f_sem) * f_con"),
    (
        "drop_offtarget",
        f"{_RP} * s_e * (1 - f_near) * (1 - f_sem) * (1 - f_con) * f_off",
    ),
    ("drop_gate", f"{_RP} * {_FP} * (1 - gk)"),
    ("n_kept", ZH_KEEP),
)

#: System-granularity attribution (zh02's band accounting): which of
#: the three SYSTEMS removed the doc, first-fail ordered.
_ZH02_SYSTEMS = (
    ("kept", ZH_KEEP),
    ("d_rules", f"(1 - {_RP})"),
    ("d_funnel", f"({_RP}) * (1 - {_FP})"),
    ("d_gate", f"({_RP}) * ({_FP}) * (1 - gk)"),
)


def _rules_extra_sql() -> str:
    """zg06's four rule verdicts as a flags-CTE extra_cols fragment
    (``d`` = the documents alias inside _zf01_flags_ctes' flags
    projection) — the DuckDB twin of zf01_flags(with_rules=True),
    spelled exactly like _zg06_oracle_sql's rule CTE."""
    stoplist = ", ".join(f"'{w}'" for w in ZG06_STOPWORDS)
    nw = "CAST(len(string_split(d.text, ' ')) AS BIGINT)"
    ndw = "CAST(len(list_distinct(string_split(d.text, ' '))) AS BIGINT)"
    return f""",
             CASE WHEN {nw} < {ZG06_MIN_WORDS} THEN 1 ELSE 0 END AS r_short,
             CASE WHEN {nw} > {ZG06_MAX_WORDS} THEN 1 ELSE 0 END AS r_long,
             CASE WHEN ({nw} - {ndw}) * 1000000 > {ZG06_REP_PPM} * {nw}
                  THEN 1 ELSE 0 END AS r_rep,
             CASE WHEN list_has_any(string_split(lower(d.text), ' '),
                                    [{stoplist}])
                  THEN 0 ELSE 1 END AS r_stop"""


#: The gate's deployed OPERATING POINT: the decile edge of the
#: averaged-margin distribution the zh band cuts at (margin > edge
#: keeps). The raw ze02 sign gate (t = 0) keeps ~0 ppm on this corpus
#: — exactly the situation zg03's threshold sweep exists to expose
#: ("this is the evidence for moving it") — so the unified keep-set
#: deploys the gate at the k=5 (median) edge of zg03's tuning grid:
#: data-derived, rank-selected (no interpolation), integer-exact and
#: identical in both engines. Production analog: the filter threshold
#: an org freezes from its tuning sweep at deploy time.
ZH_GATE_DECILE = 5


def _gate_sm_ctes(rounds: int = ZE01_ROUNDS) -> str:
    """ze02's fit + averaging + per-doc margin CTEs (``sm`` exposes
    (doc_id, m)) plus the deployed-threshold edge (``gthr`` exposes the
    single median-margin value t — zg03's k=5 cut) — zg04/zg03's
    composition, shared by every zh oracle. Namespaces verified
    disjoint from the flags chain (zg04's rule)."""
    avg_union = " UNION ALL ".join(
        f"SELECT * FROM w{r}" for r in range(1, rounds + 1)
    )
    return (
        ",\n    ".join(_ze01_ctes(rounds))
        + f""",
    wavg AS MATERIALIZED (
      SELECT bucket, SUM(w) AS w FROM ({avg_union}) GROUP BY bucket
    ),
    sm AS MATERIALIZED (
      SELECT f.doc_id, SUM(CAST(f.cnt AS HUGEINT) * w.w) AS m
      FROM feats f JOIN wavg w ON w.bucket = f.bucket
      GROUP BY f.doc_id
    ),
    grk AS (
      SELECT m,
             ROW_NUMBER() OVER (ORDER BY m, doc_id) AS r,
             (SELECT COUNT(*) FROM sm) AS n
      FROM sm
    ),
    gthr AS (
      SELECT m AS t FROM grk
      WHERE r = GREATEST({ZH_GATE_DECILE} * n // 10, 1)
    )"""
    )


def _uds_sql(extra_cols: str = "") -> str:
    """The unified per-doc frame as SQL: flags (with rules) LEFT JOIN
    the gate margins -> gk. Compose as:
    WITH {flags chain + rules extras}, {gate sm ctes}, {this}."""
    return f"""uds AS MATERIALIZED (
      SELECT f.doc_id, f.source{extra_cols},
             f.s_e, f.f_near, f.f_sem, f.f_con, f.f_off,
             f.r_short, f.r_long, f.r_rep, f.r_stop,
             CASE WHEN s.m > (SELECT t FROM gthr) THEN 1 ELSE 0 END AS gk
      FROM flags f LEFT JOIN sm s ON s.doc_id = f.doc_id
    )"""


def unified_flags(
    spark: SparkSession,
    sf_dir: str,
    label: str,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """The unified per-doc verdict frame every zh consumer reads: the
    PUBLISHED v2 flags artifact (nine 0/1 verdicts, pruned scan)
    LEFT-joined with the O(#docs) margin frame scored from the
    PUBLISHED ze01 fit artifact — gk = margin > t where t is the
    deployed median-margin operating point (zg03's k=5 edge, rank-
    selected via scalerank.global_rank: range layout + broadcast
    offsets, no single-reducer sort; the edge VALUE is a 1-row
    plan-feeding collect, the bounded-fold class). Docs the model
    cannot score keep m NULL and drop at the gate (zg04's conservative
    rule). Scoring is the one corpus-sized pass every fit consumer
    pays once — at the margins-artifact publish; steady state is three
    pruned artifact reads (flags, fit, margins)."""
    flags = zf01_flags_artifact(spark, sf_dir)
    scored = ze02_margins_artifact(spark, sf_dir).select("doc_id", "m")
    record_plan(scored, f"{label}:margins")
    t = gate_threshold(scored)
    gk = (
        F.when(F.col("m") > F.lit(t), 1).otherwise(0)
        if t is not None
        else F.lit(0)
    )
    uds = flags.join(scored, "doc_id", "left").select(
        "doc_id",
        "source",
        *extra_cols,
        "s_e",
        "f_near",
        "f_sem",
        "f_con",
        "f_off",
        "r_short",
        "r_long",
        "r_rep",
        "r_stop",
        gk.alias("gk"),
    )
    record_plan(uds, f"{label}:unified_flags")
    return uds


def gate_threshold(scored: DataFrame):
    """The deployed gate threshold: the margin value at the
    ZH_GATE_DECILE edge of the scored frame (rank GREATEST(k*n//10, 1)
    under (m, doc_id) order — zg03's cut arithmetic verbatim). Returns
    the full-precision Decimal (ze05's rule: thresholds compare on the
    DECIMAL(38,0) margin), or None when nothing is classifiable."""
    from spotify_tags_etl_spark.operators.scalerank import global_rank

    ranked, n = global_rank(
        scored, [F.col("m").asc(), F.col("doc_id").asc()], rank_col="r"
    )
    if n == 0:
        return None
    edge = max(1, (ZH_GATE_DECILE * n) // 10)
    rows = ranked.where(F.col("r") == edge).select("m").collect()  # 1 row
    return rows[0]["m"]


# ---------------------------------------------------------------------------
# zh01 — unified keep-set lineage (rules -> funnel -> gate, first-fail)
# ---------------------------------------------------------------------------


def _zh01_oracle_sql() -> str:
    sums = ",\n           ".join(
        f"CAST(SUM({expr}) AS BIGINT) AS {name}" for name, expr in _ZH01_STAGES
    )
    return (
        "WITH "
        + _zf01_flags_ctes(_rules_extra_sql())
        + ",\n    "
        + _gate_sm_ctes()
        + ",\n    "
        + _uds_sql()
        + f"""
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           {sums},
           CAST(SUM({ZH_KEEP}) * 1000000 // COUNT(*) AS BIGINT) AS kept_ppm
    FROM uds GROUP BY source ORDER BY source
    """
    )


@register(
    "zh01_unified_keepset",
    oracle=_zh01_oracle_sql(),
    doc=(
        "UNIFIED KEEP-SET LINEAGE — the single first-fail report across "
        "ALL THREE of the engine's selection systems, per source: hard "
        "rules first (zg06's Gopher/C4 heuristics — short -> long -> "
        "repetitive -> no-stopword, per-doc-local so cheapest), then "
        "zf01's five-stage corpus funnel (exact -> near -> semantic "
        "dedup -> eval decontamination -> DSIR off-target), then the "
        "learned averaged-perceptron gate DEPLOYED AT ITS TUNED "
        "OPERATING POINT — margin > the median-margin edge (zg03's "
        "k=5 cut; the raw ze02 sign gate keeps ~0 ppm on this corpus, "
        "which is exactly what zg03's tuning table exposes — the zh "
        "band deploys the threshold an org would freeze from that "
        "sweep). Docs the model cannot score — no bigram — drop at "
        "the gate (zg04's conservative rule). "
        "One mutually-exclusive verdict per doc; "
        "mass conserves exactly (n_docs = 10 drop columns + n_kept per "
        "source, pinned) and the rule prefix equals zg06's own census "
        "(rules are first in both — pinned). Each system's verdict is "
        "its OWN unconditional one; ordering only attributes (dedup "
        "group structure is invariant to rule filtering: rule verdicts "
        "are pure text functions, so exact-dup groups pass/fail "
        "together). This is the lineage table a pretraining org ships "
        "with a curated corpus — what zg04's two-way intersection "
        "could not say: WHERE each doc actually fell. Shape: reads the "
        "PUBLISHED v2 flags artifact (nine verdicts in one pruned "
        "10-column scan; live funnel only when absent/stale) "
        "LEFT-joined with the O(#docs) margin frame scored from the "
        "PUBLISHED ze01 fit artifact (the one corpus-sized scoring "
        "pass), then ONE map-combined per-source rollup of 0/1 "
        "indicator products — no second corpus scan, no window, "
        "embarrassingly parallel at any scale. Oracle composes the "
        "flags chain (+ rule extras), ze02's fit/averaging CTEs, and "
        "the same selector arithmetic."
    ),
    tags=("curation", "quality", "dedup", "report", "llm-pipeline"),
)
def zh01(spark: SparkSession, sf_dir: str) -> DataFrame:
    uds = unified_flags(spark, sf_dir, label="zh01")
    report = (
        uds.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            *[
                F.expr(f"CAST(SUM({expr}) AS BIGINT)").alias(name)
                for name, expr in _ZH01_STAGES
            ],
        )
        .select(
            "source",
            "n_docs",
            *[name for name, _ in _ZH01_STAGES],
            F.expr("CAST(n_kept * 1000000 DIV n_docs AS BIGINT)").alias(
                "kept_ppm"
            ),
        )
        .orderBy("source")
    )
    record_plan(report, "zh01:unified_rollup")
    return report


# ---------------------------------------------------------------------------
# zh02 — unified packing manifest (triple-gated survivors x zc01 FFD)
# ---------------------------------------------------------------------------


def _zh02_oracle_sql() -> str:
    systems = ",\n             ".join(
        f"{expr} AS {name}" for name, expr in _ZH02_SYSTEMS
    )
    return (
        "WITH "
        + _zf01_flags_ctes(", d.n_chars" + _rules_extra_sql())
        + ",\n    "
        + _gate_sm_ctes()
        + ",\n    "
        + _uds_sql(", f.n_chars")
        + f""",
    btoks AS (
      SELECT {_ZG01_TOK.format(div="//")} AS tok,
             {systems}
      FROM uds
    ),
    breason AS (
      SELECT tok,
             CASE WHEN tok <= 1 THEN 0 ELSE length(bin(tok - 1)) END AS band_exp,
             kept, d_rules, d_funnel, d_gate
      FROM btoks
    ),
    bagg AS (
      SELECT band_exp,
             CAST(SUM(kept) AS BIGINT) AS n_kept,
             CAST(SUM(1 - kept) AS BIGINT) AS n_displaced,
             CAST(SUM(kept * tok) AS BIGINT) AS kept_tokens,
             CAST(SUM(d_rules * tok) AS BIGINT) AS disp_rules_tokens,
             CAST(SUM(d_funnel * tok) AS BIGINT) AS disp_funnel_tokens,
             CAST(SUM(d_gate * tok) AS BIGINT) AS disp_gate_tokens,
             {ZC01_WINDOW} // (CAST(1 AS BIGINT) << band_exp) AS k
      FROM breason GROUP BY band_exp
    )
    SELECT CAST(band_exp AS BIGINT) AS band_exp,
           n_kept, n_displaced, kept_tokens,
           CAST((n_kept + k - 1) // k AS BIGINT) AS n_windows,
           CAST(CAST(kept_tokens AS HUGEINT) * 1000000
                // NULLIF(((n_kept + k - 1) // k) * {ZC01_WINDOW}, 0) AS BIGINT)
             AS fill_ppm,
           disp_rules_tokens, disp_funnel_tokens, disp_gate_tokens,
           CAST(disp_rules_tokens + disp_funnel_tokens + disp_gate_tokens
                AS BIGINT) AS displaced_tokens
    FROM bagg ORDER BY band_exp
    """
    )


@register(
    "zh02_unified_pack_manifest",
    oracle=_zh02_oracle_sql(),
    doc=(
        "UNIFIED PACKING MANIFEST — zg01's banded-FFD window accounting "
        "re-pointed at the TRIPLE-gated survivor set (zh01's keep: "
        "rules AND funnel AND gate): per power-of-two length band, the "
        f"window count and fill the unified corpus achieves in "
        f"{ZC01_WINDOW}-token windows (exact rank arithmetic — windows "
        "= ceil(n_kept/k), k = W/2^band; no per-window state, O(bands) "
        "output at any corpus size) AND the token mass each SYSTEM "
        "displaced from the band under first-fail attribution at "
        "system granularity (rules / funnel / gate — zg01's per-stage "
        "split collapsed to the three-system view zh01 details). Mass "
        "conserves: kept_tokens + displaced_tokens = the band's full "
        "corpus token mass (pinned against zg01's accounting). Shape: "
        "the unified per-doc frame (pruned v2 flags-artifact scan "
        "LEFT-joined with the artifact-scored margin frame) folded in "
        "ONE <= 13-row map-combined band rollup — token addends are "
        "0/1-flag x window-clamped products (<= 4096), int64-safe; "
        "fill ppm widens through DECIMAL(38,0)/HUGEINT."
    ),
    tags=("curation", "packing", "report", "llm-pipeline"),
)
def zh02(spark: SparkSession, sf_dir: str) -> DataFrame:
    uds = unified_flags(spark, sf_dir, label="zh02", extra_cols=("n_chars",))
    breason = uds.selectExpr(
        f"{_ZG01_TOK.format(div='DIV')} AS tok",
        *[f"{expr} AS {name}" for name, expr in _ZH02_SYSTEMS],
    ).selectExpr(
        "tok",
        "CASE WHEN tok <= 1 THEN 0 ELSE length(bin(tok - 1)) END AS band_exp",
        "kept",
        "d_rules",
        "d_funnel",
        "d_gate",
    )
    record_plan(breason, "zh02:band_reasons")
    agg = breason.groupBy("band_exp").agg(
        F.expr("CAST(SUM(kept) AS BIGINT)").alias("n_kept"),
        F.expr("CAST(SUM(1 - kept) AS BIGINT)").alias("n_displaced"),
        F.expr("CAST(SUM(kept * tok) AS BIGINT)").alias("kept_tokens"),
        F.expr("CAST(SUM(d_rules * tok) AS BIGINT)").alias("disp_rules_tokens"),
        F.expr("CAST(SUM(d_funnel * tok) AS BIGINT)").alias(
            "disp_funnel_tokens"
        ),
        F.expr("CAST(SUM(d_gate * tok) AS BIGINT)").alias("disp_gate_tokens"),
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
            "disp_rules_tokens",
            "disp_funnel_tokens",
            "disp_gate_tokens",
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
            "disp_rules_tokens",
            "disp_funnel_tokens",
            "disp_gate_tokens",
            F.expr(
                "CAST(disp_rules_tokens + disp_funnel_tokens"
                " + disp_gate_tokens AS BIGINT)"
            ).alias("displaced_tokens"),
        )
        .orderBy("band_exp")
    )


# ---------------------------------------------------------------------------
# zh03 — unified shard plan (zg05's snake balance over zh survivors)
# ---------------------------------------------------------------------------


def _zh03_oracle_sql() -> str:
    from spotify_tags_etl_spark.operators.zgops import ZG05_SHARDS

    s = ZG05_SHARDS
    return (
        "WITH "
        + _zf01_flags_ctes(", d.n_chars" + _rules_extra_sql())
        + ",\n    "
        + _gate_sm_ctes()
        + ",\n    "
        + _uds_sql(", f.n_chars")
        + f""",
    stoks AS (
      SELECT doc_id, {_ZG01_TOK.format(div="//")} AS tok
      FROM uds WHERE {ZH_KEEP} = 1
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
    "zh03_unified_shard_plan",
    oracle=_zh03_oracle_sql(),
    doc=(
        "UNIFIED SHARD PLAN — zg05's boustrophedon writer balance "
        "re-pointed at the TRIPLE-gated survivor windows: the unified "
        "keep-set (rules AND funnel AND gate) packed through zc01's "
        "banded-FFD arithmetic, windows dealt snake-order to the "
        "output shards by token mass. Same machinery as zg05 "
        "(shard_plan — grouped_rank per band, O(#windows) rollup, "
        "global_rank, pure modular snake arithmetic, O(S)-row final "
        "rollup), fed the zh survivor frame: the pruned v2 "
        "flags-artifact scan LEFT-joined with the artifact-scored "
        "margin frame, filtered to ZH_KEEP = 1. Totals reconcile with "
        "zh02 exactly (Σ shard_tokens = Σ kept_tokens, Σ n_windows = "
        "Σ zh02 n_windows — pinned)."
    ),
    tags=("curation", "packing", "planner", "llm-pipeline"),
)
def zh03(spark: SparkSession, sf_dir: str) -> DataFrame:
    uds = unified_flags(spark, sf_dir, label="zh03", extra_cols=("n_chars",))
    surv = uds.where(F.expr(ZH_KEEP) == 1).select(
        "doc_id", F.expr(_ZG01_TOK.format(div="DIV")).alias("tok")
    )
    return shard_plan(surv, label="zh03")


# ---------------------------------------------------------------------------
# zh04 — streaming twin of zh01: unified keep-set at ingest
# ---------------------------------------------------------------------------


def _zh04_verdict_rows(wavg: dict[int, int]):
    """Per-batch builder of the zh verdict rows unioned into zf02's
    consolidated doc store (schema (kind, doc_id, band, s, n)):

    * ``vflag``  — (doc_id, band=first-failing-rule code 0..4,
      s=source): rules are per-doc-local, complete at arrival;
    * ``vmargin`` — (doc_id, s=margin as decimal string): the
      stream-static averaged-perceptron score (ze03's discipline —
      the PUBLISHED fit weights embedded as a literal CASE), per-doc-
      complete; stored full-precision (DECIMAL(38,0) -> string, ze05's
      rule) because the deployed threshold is resolved at CLOSE from
      the accumulated margin distribution (a rank statistic, not a
      census merge — same stance as the semantic stage).

    Both row kinds are idempotent per batch — replay-safe by
    overwrite, layout-invariant by construction."""
    from spotify_tags_etl_spark.operators.zeops import (
        ZE01_BIAS,
        ze01_design_matrix,
    )

    _null_s = F.lit(None).cast("string")
    _null_n = F.lit(None).cast("bigint")

    def build(batch: DataFrame) -> DataFrame:
        stoplist = ", ".join(f"'{w}'" for w in ZG06_STOPWORDS)
        rule_code = (
            f"CASE WHEN nw < {ZG06_MIN_WORDS} THEN 1"
            f" WHEN nw > {ZG06_MAX_WORDS} THEN 2"
            f" WHEN (nw - ndw) * 1000000 > {ZG06_REP_PPM} * nw THEN 3"
            " WHEN NOT has_stop THEN 4 ELSE 0 END"
        )
        vflag = (
            batch.select(
                "doc_id",
                "source",
                F.expr("CAST(size(split(text, ' ')) AS BIGINT)").alias("nw"),
                F.expr(
                    "CAST(size(array_distinct(split(text, ' '))) AS BIGINT)"
                ).alias("ndw"),
                F.expr(
                    f"arrays_overlap(split(lower(text), ' '), array({stoplist}))"
                ).alias("has_stop"),
            )
            .select(
                F.lit("vflag").alias("kind"),
                "doc_id",
                F.expr(f"CAST(({rule_code}) AS BIGINT)").alias("band"),
                F.col("source").alias("s"),
                _null_n.alias("n"),
            )
        )
        gf = ze01_design_matrix(batch)
        bias = (
            gf.select("doc_id", "y")
            .distinct()
            .select(
                "doc_id",
                "y",
                F.lit(ZE01_BIAS).alias("bucket"),
                F.lit(1).alias("cnt"),
            )
        )
        vmargin = _margins(gf.unionByName(bias), wavg).select(
            F.lit("vmargin").alias("kind"),
            "doc_id",
            _null_n.alias("band"),
            F.expr("CAST(m AS STRING)").alias("s"),
            _null_n.alias("n"),
        )
        return vflag.unionByName(vmargin)

    return build


def streaming_unified_keepset(
    spark: SparkSession, sf_dir: str, stream_docs: DataFrame
) -> DataFrame:
    """Incremental unified keep-set: the ingest path already streams
    all three systems — zg07's at-arrival rules, ze03's stream-static
    scoring, zf02's funnel state — and this composes them into zh01's
    close-time report. Per trigger: zf02's two kind-keyed writes, with
    the per-doc rule codes and margins unioned into the doc store (one
    extra union, no extra write). At close: the funnel resolves from
    its state (lineage_close_frames — zf02's machinery verbatim), the
    deployed gate threshold resolves as the ZH_GATE_DECILE rank edge
    of the ACCUMULATED margin distribution (equal to batch zh01's by
    determinism — margins are per-doc pure functions of the published
    weights), and the first-fail rollup composes rules -> funnel ->
    gate exactly as zh01 (rule verdicts are constant within an
    exact-dup group, so attribution through the keep-first
    representative is order-safe). Every store is idempotent-per-batch
    or SUM/MIN-mergeable => micro-batch-layout invariant, equal to
    batch zh01 (pinned under a 3-file split)."""
    from spotify_tags_etl_spark.functions.concurrency import checkpoint_parallel
    from spotify_tags_etl_spark.operators.zfops import (
        lineage_close_frames,
        resolve_census_state,
        run_lineage_ingest,
    )
    from spotify_tags_etl_spark.streaming.ops import stream_scratch

    _nd, _curve, w_hist = ze01_fit_artifact(spark, sf_dir)
    wavg = {b: sum(w[b] for w in w_hist) for b in w_hist[0]}
    cols = ", ".join(
        f"{name} bigint"
        for name, _ in _ZH01_STAGES
    )
    # r13: the scratch delete runs off the critical path (zf02's close)
    with stream_scratch("zh04_lineage", background=True) as root:
        docstore, state_parts, census_schema = run_lineage_ingest(
            spark, stream_docs, root, label="zh04",
            extra_doc_rows=_zh04_verdict_rows(wavg),
        )
        if not state_parts:
            return spark.createDataFrame(
                [], f"source string, n_docs bigint, {cols}, kept_ppm bigint"
            )
        # checkpoints only because the scratch root's removal deletes
        # the backing files. r13: overlap the two independent resolves
        # (guide §2.6)
        pre = checkpoint_parallel(
            {
                "state": resolve_census_state(spark, state_parts, census_schema),
                "store": docstore.read(),
            }
        )
    state, store = pre["state"], pre["store"]

    vflag = store.where(F.col("kind") == "vflag").select(
        "doc_id",
        F.col("band").alias("rule_code"),
        F.col("s").alias("source"),
    )
    vmargin = store.where(F.col("kind") == "vmargin").select(
        "doc_id", F.expr("CAST(s AS DECIMAL(38,0))").alias("m")
    )

    # all-docs rule census per source (first-fail codes, at-arrival)
    rc = vflag.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        *[
            F.expr(f"CAST(SUM(CASE WHEN rule_code = {c} THEN 1 ELSE 0 END)"
                   " AS BIGINT)").alias(name)
            for c, name in (
                (1, "drop_short"),
                (2, "drop_long"),
                (3, "drop_rep"),
                (4, "drop_stop"),
                (0, "n_rp"),
            )
        ],
    )
    record_plan(rc, "zh04:rule_census")

    # r12 §2.6: vmargin (O(#docs) slim frame) and the O(#sources) rule
    # census depend only on the checkpointed store — materialize them
    # in the SAME concurrent close batch as the four funnel drop frames
    fr = lineage_close_frames(
        spark, sf_dir, state, store, extra={"vmargin": vmargin, "rc": rc}
    )
    vmargin, rc = fr["vmargin"], fr["rc"]
    t = gate_threshold(vmargin)
    gk = (
        F.when(F.col("m") > F.lit(t), 1).otherwise(0)
        if t is not None
        else F.lit(0)
    )

    # rule-passing exact keeps, flagged through funnel + gate
    rp_keeps = fr["keeps"].join(
        vflag.where(F.col("rule_code") == 0).select("doc_id"), "doc_id"
    )
    flags = (
        rp_keeps.join(fr["near_drops"], "doc_id", "left")
        .join(fr["sem_drops"], "doc_id", "left")
        .join(fr["contam"], "doc_id", "left")
        .join(fr["offtgt"], "doc_id", "left")
        .join(vmargin, "doc_id", "left")
        .select(
            "source",
            F.coalesce("f_near", F.lit(0)).alias("f_near"),
            F.coalesce("f_sem", F.lit(0)).alias("f_sem"),
            F.coalesce("f_con", F.lit(0)).alias("f_con"),
            F.coalesce("f_off", F.lit(0)).alias("f_off"),
            gk.alias("gk"),
        )
    )
    fp = "(1 - f_near) * (1 - f_sem) * (1 - f_con) * (1 - f_off)"
    ks = flags.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rpk"),
        F.expr("CAST(SUM(f_near) AS BIGINT)").alias("drop_near"),
        F.expr("CAST(SUM((1 - f_near) * f_sem) AS BIGINT)").alias("drop_sem"),
        F.expr(
            "CAST(SUM((1 - f_near) * (1 - f_sem) * f_con) AS BIGINT)"
        ).alias("drop_contam"),
        F.expr(
            "CAST(SUM((1 - f_near) * (1 - f_sem) * (1 - f_con) * f_off)"
            " AS BIGINT)"
        ).alias("drop_offtarget"),
        F.expr(f"CAST(SUM({fp} * (1 - gk)) AS BIGINT)").alias("drop_gate"),
        F.expr(f"CAST(SUM({fp} * gk) AS BIGINT)").alias("n_kept"),
    )
    report = (
        rc.join(ks, "source", "left")
        .select(
            "source",
            "n_docs",
            "drop_short",
            "drop_long",
            "drop_rep",
            "drop_stop",
            F.expr("CAST(n_rp - COALESCE(n_rpk, 0) AS BIGINT)").alias(
                "drop_exact"
            ),
            F.coalesce("drop_near", F.lit(0)).alias("drop_near"),
            F.coalesce("drop_sem", F.lit(0)).alias("drop_sem"),
            F.coalesce("drop_contam", F.lit(0)).alias("drop_contam"),
            F.coalesce("drop_offtarget", F.lit(0)).alias("drop_offtarget"),
            F.coalesce("drop_gate", F.lit(0)).alias("drop_gate"),
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            F.expr(
                "CAST(COALESCE(n_kept, 0) * 1000000 DIV n_docs AS BIGINT)"
            ).alias("kept_ppm"),
        )
        .orderBy("source")
    )
    record_plan(report, "zh04:unified_report")
    return report


def _zh04_register() -> None:
    @register(
        "zh04_stream_unified_keepset",
        oracle=_zh01_oracle_sql(),
        doc=(
            "Streaming twin of zh01 — the full three-system keep-set "
            "composed on the ingest path: per micro-batch, zf02's two "
            "kind-keyed writes (exact/importance/test-gram census "
            "merge + MinHash/shingle/gram doc store) with the zh "
            "verdict rows UNIONED into the same doc store — the "
            "first-failing-rule code (zg07's at-arrival rules, "
            "per-doc-local) and the stream-static averaged-perceptron "
            "margin (ze03's discipline: the PUBLISHED fit weights as "
            "a literal CASE; stored full-precision as a DECIMAL(38,0) "
            "string). At close the funnel resolves from its state "
            "(zf02's lineage_close_frames verbatim), the gate "
            "threshold resolves as the ZH_GATE_DECILE rank edge of "
            "the accumulated margin distribution (a rank statistic "
            "over per-doc-deterministic scores — equal to batch "
            "zh01's edge), and the first-fail rollup composes rules "
            "-> funnel -> gate exactly as zh01 (rule verdicts are "
            "pure text functions, constant within an exact-dup group, "
            "so attribution through the keep-first representative is "
            "order-safe). Every store is idempotent-per-batch or "
            "SUM/MIN-mergeable => micro-batch-layout invariant "
            "(pinned under a 3-file split) and equal to batch zh01; "
            "oracle: zh01's SQL verbatim. Per-trigger cost O(state + "
            "batch), zf02's bound + one O(batch) union; no engine "
            "state store; the raw stream is never re-scanned."
        ),
        tags=("streaming", "curation", "quality", "dedup", "report",
              "llm-pipeline"),
    )
    def zh04(spark: SparkSession, sf_dir: str) -> DataFrame:
        from spotify_tags_etl_spark.streaming.ops import read_table_stream

        return streaming_unified_keepset(
            spark, sf_dir, read_table_stream(spark, sf_dir, "documents")
        )


_zh04_register()


# ---------------------------------------------------------------------------
# zh05 — seven-system overlap (redundancy) matrix
# ---------------------------------------------------------------------------

#: System name -> unconditional drop-flag expression over the unified
#: frame (each system judged independently; the four-rule block is one
#: system — its own verdict, not first-fail split).
_ZH05_SYSTEMS = (
    ("rules", f"(1 - {_RP})"),
    ("exact", "(1 - s_e)"),
    ("near", "f_near"),
    ("sem", "f_sem"),
    ("con", "f_con"),
    ("off", "f_off"),
    ("gate", "(1 - gk)"),
)


def _zh05_pairs() -> list[tuple[int, int]]:
    n = len(_ZH05_SYSTEMS)
    return [(i, j) for i in range(n) for j in range(i, n)]


def _zh05_oracle_sql() -> str:
    sums = ",\n             ".join(
        f"CAST(SUM(({_ZH05_SYSTEMS[i][1]}) * ({_ZH05_SYSTEMS[j][1]})) AS BIGINT)"
        f" AS b_{i}_{j}"
        for i, j in _zh05_pairs()
    )
    rows = "\n      UNION ALL ".join(
        f"SELECT CAST({i} AS BIGINT) AS ia, CAST({j} AS BIGINT) AS ib,"
        f" '{_ZH05_SYSTEMS[i][0]}' AS stage_a, '{_ZH05_SYSTEMS[j][0]}' AS stage_b,"
        f" b_{i}_{i} AS n_a, b_{j}_{j} AS n_b, b_{i}_{j} AS n_both FROM t"
        for i, j in _zh05_pairs()
    )
    return (
        "WITH "
        + _zf01_flags_ctes(_rules_extra_sql())
        + ",\n    "
        + _gate_sm_ctes()
        + ",\n    "
        + _uds_sql()
        + f""",
    t AS (
      SELECT {sums}
      FROM uds
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
    "zh05_system_overlap",
    oracle=_zh05_oracle_sql(),
    doc=(
        "SEVEN-SYSTEM OVERLAP MATRIX — zg08's pairwise redundancy "
        "census widened to every selection verdict the engine ships: "
        "the hard-rule block (one system: fails ANY of zg06's four "
        "rules), the five funnel stages, and the learned gate at its "
        "deployed median-margin operating point (fails iff margin <= "
        "the zg03 k=5 edge, or unclassifiable). For every pair, the "
        "unconditional co-drop count and Jaccard ppm — the table that "
        "answers 'does the learned gate mostly re-discover what the "
        "cheap rules already catch?' (the build-vs-train decision a "
        "curation org actually faces) and 'which funnel stage does the "
        "rule block subsume?'. Diagonal rows are per-system "
        "unconditional drop totals (the rules diagonal equals zg06's "
        "total drops per the shared census — pinned; the exact/near/"
        "sem/con/off diagonals equal zg08's). Shape: the unified "
        "per-doc frame (pruned "
        "artifact scan + artifact-scored margins) folded into ALL 28 "
        "pair sums + 7 totals in ONE map-combined aggregate (0/1 "
        "products), then stack()'d — O(systems^2) output at any "
        "corpus size, one pass, no joins."
    ),
    tags=("curation", "quality", "dedup", "report", "llm-pipeline"),
)
def zh05(spark: SparkSession, sf_dir: str) -> DataFrame:
    uds = unified_flags(spark, sf_dir, label="zh05")
    t = uds.agg(
        *[
            F.expr(
                f"CAST(SUM(({_ZH05_SYSTEMS[i][1]}) * ({_ZH05_SYSTEMS[j][1]}))"
                f" AS BIGINT)"
            ).alias(f"b_{i}_{j}")
            for i, j in _zh05_pairs()
        ]
    )
    record_plan(t, "zh05:pair_sums")
    stack_args = ", ".join(
        f"CAST({i} AS BIGINT), CAST({j} AS BIGINT),"
        f" '{_ZH05_SYSTEMS[i][0]}', '{_ZH05_SYSTEMS[j][0]}',"
        f" b_{i}_{i}, b_{j}_{j}, b_{i}_{j}"
        for i, j in _zh05_pairs()
    )
    return (
        t.selectExpr(
            f"stack({len(_zh05_pairs())}, {stack_args})"
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
# zh06 — unified curriculum (zc05/zg02 over the triple-gated survivors)
# ---------------------------------------------------------------------------


def _zh06_oracle_sql() -> str:
    return (
        "WITH "
        + _zf01_flags_ctes(", d.n_chars" + _rules_extra_sql())
        + ",\n    "
        + _gate_sm_ctes()
        + ",\n    "
        + _uds_sql(", f.n_chars")
        + f""",
    kdocs AS MATERIALIZED (
      SELECT doc_id, source, n_chars FROM uds
      WHERE {ZH_KEEP} = 1
    ),
    {quota_ctes("kdocs", "u_")},
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
    FROM rn JOIN u_quotas q ON q.source = rn.source AND q.quota > 0
    ORDER BY block, source, slot
    """
    )


@register(
    "zh06_unified_curriculum",
    oracle=_zh06_oracle_sql(),
    doc=(
        "UNIFIED CURRICULUM — zg02's quota-mixed easy-to-hard "
        "dataloader schedule re-apportioned over the TRIPLE-gated "
        "survivors (rules AND funnel AND gate): the learned gate "
        "shifts per-source char mass beyond what curation alone "
        "removes, so the Hamilton quotas are re-derived over the "
        "unified keep-set — the schedule the trainer actually replays "
        "when all three selection systems are deployed. Output = "
        "(doc_id, source, crank, block, slot), zc05's semantics "
        "(zero-quota sources excluded). Shape: the unified per-doc "
        "frame (pruned artifact scan + artifact-scored margins) "
        "filtered to survivors, then zc05's own curriculum_schedule "
        "machinery (grouped_rank per source, one checkpoint reused by "
        "quota rollup and schedule join, O(#sources) broadcast "
        "quotas). Oracle: the unified CTE chain + zg02's quota/rank "
        "SQL (quota_ctes u_-prefixed for namespace hygiene)."
    ),
    tags=("curation", "training", "planner", "ordering", "llm-pipeline"),
)
def zh06(spark: SparkSession, sf_dir: str) -> DataFrame:
    uds = unified_flags(spark, sf_dir, label="zh06", extra_cols=("n_chars",))
    kept = uds.where(F.expr(ZH_KEEP) == 1).select("doc_id", "source", "n_chars")
    return curriculum_schedule(kept, label="zh06")
