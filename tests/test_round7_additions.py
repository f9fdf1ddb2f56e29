"""Round-7 additions: za01 BPE apply, za02 Bradley–Terry fit, and the
waterfill precondition guard.

The za02 pin is a FULL independent recompute: battles re-derived from
events.parquet with hashlib md5 (no Spark, no DuckDB), the MM loop run
in pure-Python integers — the same "closed-form recompute" discipline
as yv17/yv18's pins, so a shared Spark/oracle mistake cannot
self-confirm.
"""

from __future__ import annotations

import hashlib

import pyarrow.parquet as pq
import pytest

from spotify_tags_etl_spark.operators.yrlhf import YV07_MODELS, _RMOD
from spotify_tags_etl_spark.operators.zaops import ZA02_ITERS, ZA02_SCALE
from spotify_tags_etl_spark.operators.ytrain import YV10_ROUNDS, waterfill
from tests.conftest import assert_loop_pins


def _h32(tag: str, val: int) -> int:
    return int(hashlib.md5(f"{tag}:{val}".encode()).hexdigest()[:8], 16)


def test_za02_python_recompute(sf_dir, built):
    event_ids = pq.read_table(f"{sf_dir}/events.parquet", columns=["event_id"])[
        "event_id"
    ].to_pylist()
    edges: dict[tuple[int, int], list[int]] = {}
    for eid in event_ids:
        ma = _h32("m", eid) % YV07_MODELS
        mb = _h32("n", eid) % YV07_MODELS
        if ma == mb:
            continue
        sa = _h32("wa", eid) % _RMOD
        sb = _h32("wb", eid) % _RMOD
        for i, j, w2 in (
            (ma, mb, 2 if sa > sb else (1 if sa == sb else 0)),
            (mb, ma, 2 if sb > sa else (1 if sa == sb else 0)),
        ):
            n_w2 = edges.setdefault((i, j), [0, 0])
            n_w2[0] += 1
            n_w2[1] += w2
    models = sorted({i for i, _ in edges})
    nmod = len(models)
    wt = {
        i: (
            sum(v[0] for (a, _), v in edges.items() if a == i),
            sum(v[1] for (a, _), v in edges.items() if a == i),
        )
        for i in models
    }
    s = {i: 10**6 for i in models}
    for _ in range(ZA02_ITERS):
        t = {
            i: sum(
                (2 * v[0] * ZA02_SCALE) // (s[i] + s[j])
                for (a, j), v in edges.items()
                if a == i
            )
            for i in models
        }
        p = {i: (wt[i][1] * ZA02_SCALE * 10**6) // t[i] for i in models}
        sp = sum(p.values())
        s = {i: max(1, (p[i] * nmod * 10**6) // sp) for i in models}
    ranked = sorted(models, key=lambda i: (-s[i], i))
    rank = {i: k + 1 for k, i in enumerate(ranked)}
    expected = [
        (i, wt[i][0], wt[i][1], s[i], rank[i]) for i in models
    ]
    got = [
        (r.model, r.n_battles, r.w2, r.strength_ppm, r.bt_rank)
        for r in sorted(built("za02_bradley_terry").rows, key=lambda r: r.model)
    ]
    assert got == expected


def test_za02_strengths_track_winrates(built):
    """Sanity anchor to yv07's published numbers: the model with the
    highest overall draw-adjusted win share gets rank 1."""
    rows = built("za02_bradley_terry").rows
    by_share = max(rows, key=lambda r: (r.w2 / (2 * r.n_battles), -r.model))
    top = next(r for r in rows if r.bt_rank == 1)
    assert top.model == by_share.model
    assert sum(r.strength_ppm for r in rows) <= len(rows) * 10**6
    assert all(r.strength_ppm >= 1 for r in rows)


def test_za01_tokens_are_merge_results(built):
    """Every censused token must be a symbol some learned rule CREATED
    (merge results are the only multi-char symbols), with positive
    weighted occurrences; at most one census row per learned rule."""
    merges = built("yv10_bpe_merge_rounds").rows
    created = {r.pa + r.pb for r in merges}
    out = built("za01_bpe_apply").rows
    assert 0 < len(out) <= YV10_ROUNDS
    assert {r.token for r in out} <= created
    assert all(r.occurrences > 0 and r.token_chars == len(r.token) for r in out)
    occ = [(r.occurrences, r.token) for r in out]
    assert occ == sorted(occ, key=lambda t: (-t[0], t[1]))


def test_waterfill_requires_subunity_budget(spark):
    df = spark.createDataFrame([("a", 10), ("b", 20)], "source string, tok long")
    with pytest.raises(ValueError, match="bnum < bden"):
        waterfill(df, 3, 2)
    with pytest.raises(ValueError, match="bnum < bden"):
        waterfill(df, 2, 2)


def test_za04_layout_invariant(spark, sf_dir, built, tmp_path_factory):
    """za04's incremental extremes merge must produce EXACTLY batch
    yv05's pair set for any micro-batch layout: a 3-file run (one file
    per trigger, docs split by id) equals the single-batch registry run
    equals yv05."""
    import os
    import time

    from spotify_tags_etl_spark.operators.zaops import streaming_preference_pairs
    from spotify_tags_etl_spark.sources.tpch import load_table

    docs = load_table(spark, sf_dir, "documents")
    root = str(tmp_path_factory.mktemp("docs_pairs_stream"))
    for i in range(3):
        p = os.path.join(root, f"part-{i}.parquet")
        docs.where(docs.doc_id % 3 == i).select("doc_id").toPandas().to_parquet(
            p, index=False
        )
        now = time.time() + i
        os.utime(p, (now, now))
    schema = spark.read.parquet(root).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(root)
    )
    multi = {tuple(r) for r in streaming_preference_pairs(spark, stream).collect()}
    single = {tuple(r) for r in built("za04_stream_preference_pairs").rows}
    batch = {tuple(r) for r in built("yv05_preference_pairs").rows}
    assert multi == single == batch
    assert len(batch) > 0


def test_zb02_layout_invariant(spark, sf_dir, built, tmp_path_factory):
    """zb02's incremental histogram merge must produce EXACTLY batch
    za03's drift table for any micro-batch layout."""
    import os
    import time

    from spotify_tags_etl_spark.operators.zaops import streaming_quantile_drift
    from spotify_tags_etl_spark.sources.tpch import load_table

    ev = load_table(spark, sf_dir, "events")
    root = str(tmp_path_factory.mktemp("events_hist_stream"))
    for i in range(3):
        p = os.path.join(root, f"part-{i}.parquet")
        ev.where(ev.event_id % 3 == i).select("user_id", "value").toPandas().to_parquet(
            p, index=False
        )
        now = time.time() + i
        os.utime(p, (now, now))
    schema = spark.read.parquet(root).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(root)
    )
    multi = {tuple(r) for r in streaming_quantile_drift(spark, stream).collect()}
    single = {tuple(r) for r in built("zb02_stream_quantile_drift").rows}
    batch = {tuple(r) for r in built("za03_quantile_drift").rows}
    assert multi == single == batch
    assert len(batch) == 3


def test_zb01_rolls_up_to_za05(built):
    """Per-source accounting must sum exactly to za05's corpus totals
    (same learned tokenizer, same word band, two independent apply
    shapes — dictionary join vs vocab fold)."""
    per_source = built("zb01_bpe_source_tokens").rows
    total = built("za05_bpe_token_accounting").rows[0]
    assert sum(r.words for r in per_source) == total.word_occurrences
    assert sum(r.tokens for r in per_source) == total.total_tokens


# Loop-stage plan pins (plans/planmetrics.LOOP_PLAN_LOG): these
# operators return localCheckpoint/createDataFrame frames, so the batch
# plan ratchet pins {} for them — the engine work happens in driver-loop
# stages. record_plan() fingerprints those stages; a stage silently
# gaining a shuffle or Python boundary fails here. "bpe:fold": [{}] IS
# the map-only-apply claim; "za02:mm_round" 1 exchange per round on the
# <=30-row edge frame; "za03:shard_summaries" is the one corpus pass.
EXPECTED_LOOP_PLANS = {
    "za01_bpe_apply": {
        "bpe:vocab": [{"exchanges": 1}],
        "bpe:pair_argmax": [{"exchanges": 1}],
        "bpe:fold": [{}],
        "za01:census": [{"exchanges": 1}],
    },
    "za02_bradley_terry": {
        "za02:edges": [{"exchanges": 1}],
        # r12: the MM rounds fold the collected <=30-row edge list on
        # the driver (one round-trip); no per-round engine stage remains.
    },
    "za03_quantile_drift": {
        "za03:shard_summaries": [{"exchanges": 1}],
    },
    "za05_bpe_token_accounting": {
        "bpe:vocab": [{"exchanges": 1}],
        "bpe:pair_argmax": [{"exchanges": 1}],
        "bpe:fold": [{}],
        "za05:accounting": [{"single_partition": 1}],
    },
    "zb01_bpe_source_tokens": {
        "bpe:vocab": [{"exchanges": 1}],
        "bpe:pair_argmax": [{"exchanges": 1}],
        "bpe:fold": [{}],
        "zb01:vocab_dict": [{}],
        "zb01:source_rollup": [{"exchanges": 2}],
    },
    "yv10_bpe_merge_rounds": {
        "bpe:vocab": [{"exchanges": 1}],
        "bpe:pair_argmax": [{"exchanges": 1}],
        "bpe:fold": [{}],
    },
    # the ONE corpus pass each (r7 scan audit: the quota/waterfill
    # chains were re-deriving these subtrees 4x before checkpointing)
    "yv01_mixing_schedule": {
        "yv01:source_rollup": [{"exchanges": 1}],
    },
    "yv18_token_waterfill": {
        "waterfill:domain_totals": [{"exchanges": 1}],
    },
    "yv06_annotator_kappa": {
        "yv06:cell_census": [{"exchanges": 1}],
    },
    "yv13_preference_cycles": {
        "yv13:edge_majorities": [{"exchanges": 1}],
    },
    # two pruned corpus passes (cohort + purchase) under the rollup
    "xc03_net_revenue_retention": {
        "xc03:aged_rollup": [{"exchanges": 2}],
    },
    # MAD's minimal three passes: median, deviation-median, gate (the
    # gate pass lives in the returned plan; these pin the first two)
    "xo01_mad_outliers": {
        "xo01:median_pass": [{"exchanges": 1}],
        "xo01:mad_pass": [{"exchanges": 1}],
    },
    # census exchange, the 1-row totals fold (SP) on the checkpointed
    # 256-row census, then the per-doc scoring pass.
    "zb03_importance_weights": {
        # r12 §14: both gram passes now read the corpus through the
        # scale-adaptive fan-out (single-split fixture scan -> bytes-
        # derived width; a no-op at >= cores input splits), which
        # prints as one extra exchange under each stage
        "zb03:census": [{"exchanges": 2}],
        "zb03:bucket_weights": [{"single_partition": 1}],
        "zb03:doc_scores": [{"exchanges": 2}],
    },
}


# Scan-column pins for the same stages (planmetrics.SCAN_LOG): for
# checkpoint-returning operators the corpus scan lives INSIDE a loop
# stage, so this is the only place column pruning is checkable. Each
# entry: label -> sorted list of distinct per-plan scan signatures
# (each signature = sorted "col,col" strings, one per ReadSchema).
# "bpe:vocab" reading ONLY text, "za02:edges" reading ONLY event_id
# ONCE (not once per battle orientation), and zb03 reading the corpus
# exactly twice across its two passes are the pushdown claims.
EXPECTED_SCANS = {
    "za01_bpe_apply": {
        "bpe:vocab": [["text"]],
        "bpe:pair_argmax": [[]],
        "bpe:fold": [[]],
        "za01:census": [[]],
    },
    "za02_bradley_terry": {
        "za02:edges": [["event_id"]],
    },
    "za03_quantile_drift": {
        "za03:shard_summaries": [["user_id,value"]],
    },
    "za05_bpe_token_accounting": {
        "bpe:vocab": [["text"]],
        "bpe:pair_argmax": [[]],
        "bpe:fold": [[]],
        "za05:accounting": [[]],
    },
    "zb01_bpe_source_tokens": {
        "bpe:vocab": [["text"]],
        "bpe:pair_argmax": [[]],
        "bpe:fold": [[]],
        "zb01:vocab_dict": [[]],
        "zb01:source_rollup": [["source,text"]],
    },
    "yv10_bpe_merge_rounds": {
        "bpe:vocab": [["text"]],
        "bpe:pair_argmax": [[]],
        "bpe:fold": [[]],
    },
    "yv01_mixing_schedule": {
        "yv01:source_rollup": [["n_chars,source"]],
    },
    "yv18_token_waterfill": {
        "waterfill:domain_totals": [["n_chars,source"]],
    },
    "yv06_annotator_kappa": {
        "yv06:cell_census": [["event_id"]],
    },
    "yv13_preference_cycles": {
        "yv13:edge_majorities": [["event_id"]],
    },
    "xc03_net_revenue_retention": {
        "xc03:aged_rollup": [["event_type,ts,user_id,value", "ts,user_id"]],
    },
    "xo01_mad_outliers": {
        "xo01:median_pass": [["event_type,value"]],
        "xo01:mad_pass": [["event_type,value"]],
    },
    "zb03_importance_weights": {
        "zb03:census": [["lang,text"]],
        "zb03:bucket_weights": [[]],
        "zb03:doc_scores": [["doc_id,lang,text"]],
    },
}


@pytest.mark.parametrize("name", sorted(EXPECTED_LOOP_PLANS))
def test_loop_stage_plan_pins(built, name):
    assert_loop_pins(built(name), EXPECTED_LOOP_PLANS[name], EXPECTED_SCANS[name])


def test_record_plan_counts_metrics(spark):
    """The fingerprint helpers must actually count plan nodes: a toy
    groupBy records one hash exchange; a pure projection records none."""
    from spotify_tags_etl_spark.plans import planmetrics as pm

    pm.LOOP_PLAN_LOG.clear()
    df = spark.range(100).selectExpr("id % 3 AS k", "id AS v")
    pm.record_plan(df.groupBy("k").count(), "toy:agg")
    pm.record_plan(df.select("v"), "toy:map")
    observed = pm.observed_loop_plans()
    assert observed["toy:agg"] == [{"exchanges": 1}]
    assert observed["toy:map"] == [{}]


def test_zb03_selects_target_like_docs(built):
    """The importance scorer must actually rank target-distribution
    documents up: a strong majority of the top-k should carry the
    target lang, and the weight construction must make every per-bucket
    target/raw ppm pair sum consistently (weights sum to ~0 over the
    full census by construction of the two ppm normalizations)."""
    from spotify_tags_etl_spark.operators.zaops import ZB03_TARGET_LANG, ZB03_TOPK

    rows = built("zb03_importance_weights").rows
    assert len(rows) == ZB03_TOPK
    en = sum(1 for r in rows if r.lang == ZB03_TARGET_LANG)
    assert en >= ZB03_TOPK * 3 // 4, f"only {en}/{ZB03_TOPK} target-lang docs in top-k"
    imps = [r.importance for r in rows]
    assert imps == sorted(imps, reverse=True) or len(set(imps)) < len(imps)
