"""Round-9 additions: the zd composed reports, plus regression tests
for the r8 ADVICE fixes (grouped_rank offset-key encoding, truncation-
aware ReadSchema parsing)."""

from __future__ import annotations

from collections import defaultdict

import pytest
from pyspark.sql import functions as F

from spotify_tags_etl_spark.operators.scalerank import grouped_rank
from spotify_tags_etl_spark.plans.planmetrics import _scan_schemas
from spotify_tags_etl_spark.plans.registry import get


def _q(name: str):
    return get(name).builder


# ---------------------------------------------------------------------------
# zd01 — funnel telescopes and equals the component stages' own accounting
# ---------------------------------------------------------------------------


def test_zd01_funnel_composition(spark, sf_dir):
    rows = _q("zd01_dedup_funnel")(spark, sf_dir).collect()
    assert rows

    # Independently recompute the three stage sets from the component
    # queries the funnel claims to compose.
    docs = {
        r.doc_id: r.source
        for r in _q("dd01_exact_hash")(spark, sf_dir).sparkSession.read.parquet(
            f"{sf_dir}/documents.parquet"
        ).select("doc_id", "source").collect()
    }
    exact_keeps = {
        r.keep_doc_id for r in _q("dd01_exact_hash")(spark, sf_dir).collect()
    }
    near_drops = {r.d2 for r in _q("dd02_minhash_lsh")(spark, sf_dir).collect()}
    sem_drops = {
        r.vec_id
        for r in _q("zc03_semantic_dedup")(spark, sf_dir).collect()
        if r.keep == 0
    }

    want: dict[str, list[int]] = defaultdict(lambda: [0, 0, 0, 0])
    for doc_id, source in docs.items():
        w = want[source]
        w[0] += 1
        if doc_id not in exact_keeps:
            continue
        w[1] += 1
        if doc_id in near_drops:
            continue
        w[2] += 1
        if doc_id in sem_drops:
            continue
        w[3] += 1

    got = {
        r.source: (r.n_docs, r.n_exact_kept, r.n_near_kept, r.n_sem_kept)
        for r in rows
    }
    assert got == {s: tuple(w) for s, w in want.items()}

    # Telescoping monotonicity + global mass conservation.
    for r in rows:
        assert r.n_docs >= r.n_exact_kept >= r.n_near_kept >= r.n_sem_kept >= 0
    assert sum(r.n_exact_kept for r in rows) == len(exact_keeps)
    assert sum(r.n_docs for r in rows) == len(docs)


# ---------------------------------------------------------------------------
# grouped_rank — offset keys survive ':' in values and NULL groups
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("nparts", [1, 3])
def test_grouped_rank_adversarial_group_keys(spark, nparts):
    # Two single-column group values ('a:b', 'a') and ('b',) that a
    # naive "join on ':'" encoding could collide with a two-column
    # group; plus NULL group values, which concat_ws silently drops.
    rows = [
        (0, "a:b", 5),
        (1, "a:b", 3),
        (2, "a", 7),
        (3, None, 9),
        (4, None, 2),
        (5, "b", 1),
    ]
    df = spark.createDataFrame(rows, "idx LONG, g STRING, v LONG")
    ranked, total = grouped_rank(
        df, ["g"], [F.col("v").desc(), F.col("idx").asc()], rank_col="rk",
        num_partitions=nparts,
    )
    got = {r.idx: r.rk for r in ranked.collect()}
    assert total == len(rows)
    assert got == {0: 1, 1: 2, 2: 1, 3: 1, 4: 2, 5: 1}


def test_grouped_rank_multicol_colon_no_collision(spark):
    # ('a:b', 'c') vs ('a', 'b:c') — same naive colon-joined key,
    # different groups. Each must rank independently.
    rows = [(0, "a:b", "c", 5), (1, "a", "b:c", 9), (2, "a:b", "c", 3)]
    df = spark.createDataFrame(rows, "idx LONG, g1 STRING, g2 STRING, v LONG")
    ranked, _ = grouped_rank(
        df, ["g1", "g2"], [F.col("v").desc(), F.col("idx").asc()],
        rank_col="rk", num_partitions=2,
    )
    got = {r.idx: r.rk for r in ranked.collect()}
    assert got == {0: 1, 1: 1, 2: 2}


# ---------------------------------------------------------------------------
# planmetrics — truncated ReadSchema is visible, not silent
# ---------------------------------------------------------------------------


def test_scan_schemas_normal_and_truncated():
    plan = (
        "FileScan parquet [a,b] ... ReadSchema: struct<a:int,b:string>\n"
        "FileScan parquet [x] ... ReadSchema: struct<x:array<float>,y:struct<p:int,q:deci...\n"
    )
    # The cut-off trailing field sits inside an unbalanced nested type
    # and does not flush — the explicit marker carries the signal.
    assert _scan_schemas(plan) == ["<truncated>,x", "a,b"]


def test_scan_schemas_unparseable_raises():
    with pytest.raises(RuntimeError):
        _scan_schemas("Scan ... ReadSchema: something-else\n")


# ---------------------------------------------------------------------------
# zd02 — manifest mass conservation vs the chunker it composes
# ---------------------------------------------------------------------------


def test_zd02_manifest_masses(spark, sf_dir):
    rows = _q("zd02_rag_index_manifest")(spark, sf_dir).collect()
    assert 1 <= len(rows) <= 8

    # Total chunks/tokens across lists == tx06's chunks restricted to
    # embedded docs (the indexable set).
    emb_ids = {
        r.vec_id
        for r in spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .select("vec_id")
        .collect()
    }
    chunks = _q("tx06_chunk_tokens")(spark, sf_dir).collect()
    indexable = [c for c in chunks if c.doc_id in emb_ids]
    assert sum(r.n_chunks for r in rows) == len(indexable)
    assert sum(r.n_tokens for r in rows) == sum(c.n_tokens for c in indexable)
    assert sum(r.n_docs for r in rows) == len({c.doc_id for c in indexable})

    # Shares are a truncating partition of 1e6.
    total_share = sum(r.chunk_share_ppm for r in rows)
    assert 1_000_000 - len(rows) < total_share <= 1_000_000
    total = sum(r.n_chunks for r in rows)
    for r in rows:
        assert r.chunk_share_ppm == r.n_chunks * 1_000_000 // total
        assert r.load_vs_uniform_ppm == r.n_chunks * 8_000_000 // total


# ---------------------------------------------------------------------------
# zd03 — planner wiring + no false drops
# ---------------------------------------------------------------------------


def test_zd03_plan_matches_python_twin(spark, sf_dir):
    from spotify_tags_etl_spark.operators.zdops import zd03_plan

    rows = _q("zd03_semantic_dedup_planned")(spark, sf_dir).collect()
    n = rows[0].corpus_n
    bits, tables = zd03_plan(n)
    assert len(rows) == n
    assert {(r.corpus_n, r.bits, r.tables) for r in rows} == {(n, bits, tables)}


def test_zd03_plan_reacts_to_corpus_size():
    from spotify_tags_etl_spark.operators.zdops import zd03_plan

    # Fixture sizes: 500 embeddings (sf<=0.01) -> zc03's hand constant;
    # 2000 (sf0.1) -> deeper buckets. Sizing must move with n.
    assert zd03_plan(500)[0] == 4
    assert zd03_plan(2000)[0] == 8
    assert zd03_plan(1)[0] == 2
    for n in (1, 500, 2000, 10**9):
        bits, tables = zd03_plan(n)
        assert bits in (2, 4, 8) and tables in (1, 2, 4)


def test_zd03_no_false_drops(spark, sf_dir):
    # Every drop must be a genuine above-threshold duplicate of some
    # smaller-id vector — brute force over the quantized corpus.
    from spotify_tags_etl_spark.operators.zdops import _ZD03_T_PPM

    import math

    emb = {
        r.vec_id: [math.floor(float(v) * 127) for v in r.embedding]
        for r in spark.read.parquet(f"{sf_dir}/embeddings.parquet").collect()
    }
    norms = {k: sum(x * x for x in v) for k, v in emb.items()}

    def is_dup(a: int, b: int) -> bool:
        dp = sum(x * y for x, y in zip(emb[a], emb[b]))
        return dp > 0 and dp * dp * 10**12 >= _ZD03_T_PPM**2 * norms[a] * norms[b]

    rows = _q("zd03_semantic_dedup_planned")(spark, sf_dir).collect()
    dropped = [r.vec_id for r in rows if r.keep == 0]
    for d in dropped:
        assert any(is_dup(s, d) for s in emb if s < d), f"false drop {d}"


# ---------------------------------------------------------------------------
# zd04 — planted contamination displaces exactly the planted mass
# ---------------------------------------------------------------------------


def test_zd04_planted_contamination_mass(spark):
    from spotify_tags_etl_spark.operators.zcops import ZC01_TOK_PPM, ZC01_WINDOW
    from spotify_tags_etl_spark.operators.zdops import contamination_aware_packing

    # n_chars chosen to hit several bands; docs 2 and 5 are "planted"
    # contaminated.
    docs = spark.createDataFrame(
        [(i, nc) for i, nc in enumerate([10, 50, 50, 400, 400, 400, 7000, 7000])],
        "doc_id LONG, n_chars LONG",
    )
    planted = spark.createDataFrame([(2,), (5,)], "doc_id LONG")
    rows = contamination_aware_packing(docs, planted).collect()

    def tok(nc: int) -> int:
        return min(max(nc * ZC01_TOK_PPM // 1_000_000, 1), ZC01_WINDOW)

    def band(t: int) -> int:
        return 0 if t <= 1 else (t - 1).bit_length()

    toks = {i: tok(nc) for i, nc in [(0, 10), (1, 50), (2, 50), (3, 400), (4, 400), (5, 400), (6, 7000), (7, 7000)]}
    want_displaced = {}
    want_kept = {}
    for i, t in toks.items():
        b = band(t)
        if i in (2, 5):
            want_displaced[b] = want_displaced.get(b, 0) + t
        else:
            want_kept[b] = want_kept.get(b, 0) + t

    got_disp = {r.band_exp: r.displaced_tokens for r in rows if r.displaced_tokens}
    got_kept = {r.band_exp: r.kept_tokens for r in rows if r.kept_tokens}
    assert got_disp == want_displaced
    assert got_kept == want_kept

    # Displaced + kept telescopes to total corpus mass; window count is
    # the exact ceil-div of kept docs.
    assert sum(r.kept_tokens + r.displaced_tokens for r in rows) == sum(toks.values())
    for r in rows:
        k = ZC01_WINDOW // (1 << r.band_exp)
        assert r.n_windows == (r.n_kept + k - 1) // k
        if r.n_windows:
            assert r.fill_ppm == r.kept_tokens * 1_000_000 // (r.n_windows * ZC01_WINDOW)


# ---------------------------------------------------------------------------
# zd05 — micro-batch-layout invariance vs the batch funnel
# ---------------------------------------------------------------------------


def test_zd05_layout_invariant(spark, sf_dir, tmp_path_factory):
    """zd05's census + signature/shingle-store merge must produce
    EXACTLY the batch funnel's exact/near columns for any micro-batch
    layout: a 3-file run (one file per trigger) equals the single-batch
    registry run equals zd01's first four stages."""
    import os
    import time

    from spotify_tags_etl_spark.operators.zdops import streaming_dedup_funnel
    from spotify_tags_etl_spark.sources.tpch import load_table

    docs = load_table(spark, sf_dir, "documents")
    root = str(tmp_path_factory.mktemp("docs_funnel_stream"))
    for i in range(3):
        p = os.path.join(root, f"part-{i}.parquet")
        docs.where(docs.doc_id % 3 == i).select(
            "doc_id", "source", "text"
        ).toPandas().to_parquet(p, index=False)
        now = time.time() + i
        os.utime(p, (now, now))
    schema = spark.read.parquet(root).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(root)
    )
    multi = [tuple(r) for r in streaming_dedup_funnel(spark, stream).collect()]
    single = [
        tuple(r) for r in _q("zd05_stream_dedup_funnel")(spark, sf_dir).collect()
    ]
    batch = [
        (r.source, r.n_docs, r.n_exact_kept, r.n_near_kept, r.exact_keep_ppm,
         r.near_keep_ppm)
        for r in _q("zd01_dedup_funnel")(spark, sf_dir).collect()
    ]
    assert multi == single == batch
    assert len(batch) > 0


# ---------------------------------------------------------------------------
# Loop-stage plan + scan pins for the zd band (cf. test_round8_additions)
# ---------------------------------------------------------------------------

EXPECTED_LOOP_PLANS = {
    "zd01_dedup_funnel": {
        # r11: the funnel reads the PUBLISHED flags artifact (HIT path
        # — pre-published below); the three stage builders run only on
        # zf01's own publish path
        "zd01:funnel_flags": [{}],
    },
    "zd02_rag_index_manifest": {
        "zd02:projected_corpus": [{}],
    },
    "zd03_semantic_dedup_planned": {
        # the 3 SinglePartition exchanges are the O(1)-row planner
        # (corpus count, S-curve argmin, 1-row plan join) — bounded by
        # construction, same class as the scalar-subquery folds
        "zd03:projected_corpus": [{"exchanges": 1, "single_partition": 3}],
    },
    "zd04_contamination_aware_packing": {
        # r12 §14: + the scale-adaptive corpus fan-out exchange
        "zd04:flagged_bands": [{"exchanges": 4}],
    },
    "zd05_stream_dedup_funnel": {
        "zd05:funnel_report": [{"exchanges": 8, "sort_merge_joins": 2}],
    },
    "zd06_semantic_dedup_keepset": {
        # r12 §14: + the scale-adaptive embeddings fan-out exchange
        "zc03:projected_corpus": [{"exchanges": 1}],
        # r13: + the MapInArrow exact-verify dot (vecexpr.pair_dot_int64)
        "zd06:dup_edges": [{"exchanges": 1, "map_in_arrow": 1}],
        "zd06:round0": [{"exchanges": 2, "sort_merge_joins": 1}],
        # two round shapes: the steady-state round and the final
        # (smaller) one AQE plans differently — both O(edges) keyed
        "zd06:round": [
            {"exchanges": 2, "sort_merge_joins": 1},
            {"exchanges": 5, "sort_merge_joins": 2},
        ],
    },
    "zd07_stream_rag_manifest": {
        "zd02:projected_corpus": [{}],
        # close-time rollup over the checkpointed census; the
        # SinglePartition is the <= 8-row share window (xr03 class)
        "zd07:manifest_report": [{"exchanges": 1, "single_partition": 1}],
    },
}

EXPECTED_SCANS = {
    "zd01_dedup_funnel": {
        # pushdown proof: ONE pruned 4-column artifact read — never a
        # corpus re-scan (column pruning reaches the artifact parquet)
        "zd01:funnel_flags": [["f_near,f_sem,s_e,source"]],
    },
    "zd02_rag_index_manifest": {
        "zd02:projected_corpus": [["embedding,vec_id"]],
    },
    "zd03_semantic_dedup_planned": {
        # the two empty schemas are the planner's count-star scan and
        # the constant grid — zero-column pushdown
        "zd03:projected_corpus": [["", "", "embedding,vec_id"]],
    },
    "zd04_contamination_aware_packing": {
        # packing projection + tz06's train/test gram sides
        "zd04:flagged_bands": [["doc_id,n_chars", "doc_id,text", "doc_id,text"]],
    },
    "zd05_stream_dedup_funnel": {
        # close-time report reads only checkpointed state
        "zd05:funnel_report": [[]],
    },
    "zd06_semantic_dedup_keepset": {
        "zc03:projected_corpus": [["embedding,vec_id"]],
        "zd06:dup_edges": [[]],
        "zd06:round0": [[]],
        "zd06:round": [[]],
    },
    "zd07_stream_rag_manifest": {
        "zd02:projected_corpus": [["embedding,vec_id"]],
        "zd07:manifest_report": [[]],
    },
}


@pytest.mark.parametrize("name", sorted(EXPECTED_LOOP_PLANS))
def test_zd_loop_stage_pins(spark, sf_dir, name):
    from spotify_tags_etl_spark.operators.zfops import zf01_flags_artifact
    from spotify_tags_etl_spark.plans import planmetrics as pm

    # zd01 is pinned on the flags-artifact HIT path (the steady state);
    # publish first so a cold warehouse cannot flip it to the miss path
    zf01_flags_artifact(spark, sf_dir).count()
    pm.LOOP_PLAN_LOG.clear()
    pm.SCAN_LOG.clear()
    _q(name)(spark, sf_dir).count()
    scans: dict[str, set] = {}
    for label, sc in pm.SCAN_LOG:
        scans.setdefault(label, set()).add(sc)
    observed_scans = {l: sorted(list(t) for t in v) for l, v in scans.items()}
    assert observed_scans == EXPECTED_SCANS[name]
    assert pm.observed_loop_plans() == EXPECTED_LOOP_PLANS[name]


# ---------------------------------------------------------------------------
# zd06 — keep-set greedy semantics vs zc03's transitive rule
# ---------------------------------------------------------------------------


def test_zd06_drops_subset_of_transitive(spark, sf_dir):
    ks = {r.vec_id: r.keep for r in _q("zd06_semantic_dedup_keepset")(spark, sf_dir).collect()}
    tr = {r.vec_id: r.keep for r in _q("zc03_semantic_dedup")(spark, sf_dir).collect()}
    assert set(ks) == set(tr)
    # Keep-set greedy never drops what the transitive rule keeps — it
    # can only rescue chain tails the transitive rule over-drops.
    rescued = 0
    for v, k in ks.items():
        if k == 0:
            assert tr[v] == 0, f"keepset dropped {v} but transitive kept it"
        elif tr[v] == 0:
            rescued += 1
    # Vectors whose ONLY dup evidence is a dropped vector must be kept
    # by the greedy rule; the fixture's clustered embeddings produce
    # such chains (sanity that the variant is not vacuously identical).
    assert rescued > 0


def test_zd06_greedy_on_planted_chain(spark):
    # A ~ B, B ~ C, A !~ C: greedy keeps A and C, drops only B.
    from spotify_tags_etl_spark.operators.zdops import _ZD06_MAX_ROUNDS

    assert _ZD06_MAX_ROUNDS >= 3
    # Verified against the Python reference of the same recurrence.
    edges = [(0, 1), (1, 2)]  # chain 0~1~2, no 0~2 edge
    kept: dict[int, bool] = {}
    for v in range(3):
        kept[v] = not any(kept[u] for u, w in edges if w == v)
    assert kept == {0: True, 1: False, 2: True}


# ---------------------------------------------------------------------------
# zd07 — micro-batch-layout invariance vs batch zd02
# ---------------------------------------------------------------------------


def test_zd07_layout_invariant(spark, sf_dir, tmp_path_factory):
    import os
    import time

    from spotify_tags_etl_spark.operators.zdops import streaming_rag_manifest
    from spotify_tags_etl_spark.sources.tpch import load_table

    docs = load_table(spark, sf_dir, "documents")
    root = str(tmp_path_factory.mktemp("docs_manifest_stream"))
    for i in range(3):
        p = os.path.join(root, f"part-{i}.parquet")
        docs.where(docs.doc_id % 3 == i).select(
            "doc_id", "source", "text"
        ).toPandas().to_parquet(p, index=False)
        now = time.time() + i
        os.utime(p, (now, now))
    schema = spark.read.parquet(root).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(root)
    )
    multi = [tuple(r) for r in streaming_rag_manifest(spark, sf_dir, stream).collect()]
    single = [
        tuple(r) for r in _q("zd07_stream_rag_manifest")(spark, sf_dir).collect()
    ]
    batch = [tuple(r) for r in _q("zd02_rag_index_manifest")(spark, sf_dir).collect()]
    assert multi == single == batch
    assert len(batch) > 0


# ---------------------------------------------------------------------------
# ze01 — in-engine batch-perceptron training (operators/zeops.py)
# ---------------------------------------------------------------------------

# one keyed exchange per fit stage — design matrix (map-combined
# groupBy), bias union, the once-per-fit per-doc vector grouping
# (doc_vectors); the round loop is ONE single-action stage per round
# since r12, and since the r12 optimization pass the margin is a
# MAP-ONLY fold over the pre-grouped vectors, so weight_delta carries
# exactly the one keyed exchange of the misclassified-docs explode
# rollup; no SinglePartition, no Python boundary anywhere in the fit
_ZE_FIT_PLANS = {
    "ze01:design_matrix": [{"exchanges": 1}],
    "ze01:feats": [{"exchanges": 1}],
    "ze01:doc_vectors": [{"exchanges": 1}],
    "ze01:weight_delta": [{"exchanges": 1}],
}

# pushdown proof: the ONLY corpus read in the fit is the design matrix
# and it reads exactly the three columns the fit needs
_ZE_FIT_SCANS = {
    "ze01:design_matrix": [["doc_id,lang,text"]],
    "ze01:feats": [[]],
    "ze01:doc_vectors": [[]],
    "ze01:weight_delta": [[]],
}

# scoring consumers pay the design-matrix pass (scoring is inherently
# a corpus read) but — with the published fit artifact present — NOT
# the per-round margins/weight_delta fit stages (r9 verdict #2)
_ZE_FEATS_PLANS = {
    "ze01:design_matrix": [{"exchanges": 1}],
    "ze01:feats": [{"exchanges": 1}],
}

_ZE_FEATS_SCANS = {
    "ze01:design_matrix": [["doc_id,lang,text"]],
    "ze01:feats": [[]],
}

ZE_EXPECTED_LOOP_PLANS = {
    # ze01 is the live-fit path (and the publish step)
    "ze01_perceptron_filter": _ZE_FIT_PLANS,
    # the gate reads the fit artifact, then scores in ONE aggregate
    # joined to the (doc_id, source) scan
    "ze02_classifier_gate": {
        **_ZE_FEATS_PLANS,
        "ze02:gate_report": [{"exchanges": 2}],
    },
    # the model is artifact-read; per-batch design matrices live inside
    # foreachBatch (pinned in test_stream_state_shape); close-time
    # report reads only the checkpointed census — NO static-side plans
    "ze03_stream_classifier_gate": {
        "ze03:gate_report": [{}],
    },
    # r11: decile table reads the PUBLISHED margins artifact (pruned
    # (doc_id, y, m) scan) — the corpus-sized scoring pass is the
    # artifact publisher's, paid once; range layout + banded aggregate
    "ze04_gate_calibration": {
        "ze04:margins": [{}],
        "scalerank:layout": [{}],
        "ze04:calibration": [{"exchanges": 2}],
    },
    # r11: top-k over the margins-artifact read joined to the corpus
    # projection — TakeOrderedAndProject, exchange-free (both sides
    # are scans; AQE broadcasts), never a global sort
    "ze05_hard_examples": {
        "ze05:hard_examples": [{}],
    },
}

ZE_EXPECTED_SCANS = {
    "ze01_perceptron_filter": _ZE_FIT_SCANS,
    "ze02_classifier_gate": {
        **_ZE_FEATS_SCANS,
        "ze02:gate_report": [["doc_id,source"]],
    },
    "ze03_stream_classifier_gate": {
        "ze03:gate_report": [[]],
    },
    "ze04_gate_calibration": {
        "ze04:margins": [["doc_id,m,y"]],
        "scalerank:layout": [["doc_id,m,y"]],
        "ze04:calibration": [[]],
    },
    "ze05_hard_examples": {
        "ze05:hard_examples": [["doc_id,lang,source", "doc_id,m,y"]],
    },
}


@pytest.mark.parametrize("name", sorted(ZE_EXPECTED_LOOP_PLANS))
def test_ze_loop_stage_pins(spark, sf_dir, name):
    from spotify_tags_etl_spark.operators.zeops import ze01_fit_artifact
    from spotify_tags_etl_spark.plans import planmetrics as pm

    from spotify_tags_etl_spark.operators.zeops import ze02_margins_artifact

    # consumers are pinned on the artifact-HIT path (the steady state a
    # production pipeline runs in); publish first so a cold warehouse
    # can't flip these pins to the miss path
    ze01_fit_artifact(spark, sf_dir)
    ze02_margins_artifact(spark, sf_dir).count()
    pm.LOOP_PLAN_LOG.clear()
    pm.SCAN_LOG.clear()
    _q(name)(spark, sf_dir).count()
    scans: dict[str, set] = {}
    for label, sc in pm.SCAN_LOG:
        scans.setdefault(label, set()).add(sc)
    observed_scans = {l: sorted(list(t) for t in v) for l, v in scans.items()}
    assert observed_scans == ZE_EXPECTED_SCANS[name]
    assert pm.observed_loop_plans() == ZE_EXPECTED_LOOP_PLANS[name]


def test_ze01_fit_artifact_staleness(spark, sf_dir, tmp_path, monkeypatch):
    """The shared-fit-artifact primitive (r9 verdict #2): (a) first
    use publishes, (b) repeat reads serve from the artifact with NO
    refit, (c) a corpus-file change reads as stale and refits, and
    (d) hit and miss paths are bit-identical to the live fit."""
    import os
    import shutil

    from spotify_tags_etl_spark.operators import zeops

    root = str(tmp_path)
    shutil.copy(
        os.path.join(sf_dir, "documents.parquet"),
        os.path.join(root, "documents.parquet"),
    )
    feats, nd, rows, w_hist = zeops.ze01_fit(spark, root)
    feats.unpersist()
    expect = (nd, rows, w_hist)

    calls: list[str] = []
    real_fit = zeops._fit_from_feats

    def counting_fit(feats_, nd_, label):
        calls.append(label)
        return real_fit(feats_, nd_, label)

    # r12: the miss path fits from the cached design partials via the
    # shared round loop — count THAT (bit-identical to the live fit)
    monkeypatch.setattr(zeops, "_fit_from_feats", counting_fit)

    zeops._FIT_MEMO.clear()
    assert zeops.ze01_fit_artifact(spark, root) == expect  # miss: fit+publish
    assert len(calls) == 1
    assert os.path.exists(
        os.path.join(zeops._artifact_dir(zeops._fit_key(root)), "weights.parquet")
    )

    zeops._FIT_MEMO.clear()  # force the on-disk (not memo) read path
    assert zeops.ze01_fit_artifact(spark, root) == expect  # hit: NO refit
    assert len(calls) == 1

    p = os.path.join(root, "documents.parquet")
    st = os.stat(p)
    os.utime(p, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    zeops._FIT_MEMO.clear()
    assert zeops.ze01_fit_artifact(spark, root) == expect  # stale: refit
    assert len(calls) == 2


def test_ze01_round1_all_misclassified_and_learns(spark, sf_dir):
    """At w=0 every margin is 0 and ties count as errors, so round 1
    must misclassify EVERY doc that has at least one bigram (acc_ppm
    0); later rounds must improve on that floor."""
    from spotify_tags_etl_spark.operators.zeops import ze01_design_matrix
    from spotify_tags_etl_spark.sources.tpch import load_table

    rows = {r.round: r for r in _q("ze01_perceptron_filter")(spark, sf_dir).collect()}
    nd = (
        ze01_design_matrix(load_table(spark, sf_dir, "documents"))
        .select("doc_id")
        .distinct()
        .count()
    )
    assert rows[1].n_mis == nd
    assert rows[1].acc_ppm == 0
    assert all(rows[r].n_mis < nd for r in rows if r > 1)
    # exact-integer accounting: acc_ppm = floor((nd - n_mis) * 1e6 / nd)
    for r in rows.values():
        assert r.acc_ppm == ((nd - r.n_mis) * 10**6) // nd


def test_ze01_layout_invariant(spark, sf_dir):
    """Batch (full-misclassified-set) updates are order-free: the fit
    must be bit-identical when the corpus arrives in a different
    partitioning — the property that makes the perceptron relational."""
    import spotify_tags_etl_spark.operators.zeops as ze
    from spotify_tags_etl_spark.sources import tpch

    base = [tuple(r) for r in _q("ze01_perceptron_filter")(spark, sf_dir).collect()]

    orig = tpch.load_table

    def shuffled(s, d, name):
        df = orig(s, d, name)
        if name == "documents":
            df = df.repartition(7, "doc_id")
        return df

    ze.load_table = shuffled
    try:
        alt = [tuple(r) for r in ze.ze01(spark, sf_dir).collect()]
    finally:
        ze.load_table = orig
    assert alt == base


def test_ze02_gate_accounting(spark, sf_dir):
    """The gate census must telescope against the fit's own doc count
    and against an in-process recomputation of the averaged weights,
    and averaging must not do worse than the final (oscillating)
    iterate on the training corpus."""
    from spotify_tags_etl_spark.operators.zeops import ze01_fit

    rep = {r.source: r for r in _q("ze02_classifier_gate")(spark, sf_dir).collect()}
    feats, nd, rows, w_hist = ze01_fit(spark, sf_dir)
    feats.unpersist()
    assert sum(r.n_docs for r in rep.values()) == nd
    for r in rep.values():
        assert 0 <= r.n_kept <= r.n_docs
        assert 0 <= r.n_correct <= r.n_docs
        assert r.kept_ppm == (r.n_kept * 10**6) // r.n_docs
        assert r.acc_ppm == (r.n_correct * 10**6) // r.n_docs
    # averaged readout >= last iterate on the training corpus (the
    # whole point of deploying the average, not the oscillating tail)
    overall_correct = sum(r.n_correct for r in rep.values())
    last_round_acc_ppm = rows[-1][2]
    assert (overall_correct * 10**6) // nd >= last_round_acc_ppm


def test_ze03_layout_invariant(spark, sf_dir, tmp_path_factory):
    """The census SUM-merge must produce the identical report whether
    the corpus arrives as 1 micro-batch or 3; both must equal batch
    ze02 exactly."""
    import os
    import time

    from spotify_tags_etl_spark.operators.zeops import streaming_classifier_gate
    from spotify_tags_etl_spark.sources.tpch import load_table

    docs = load_table(spark, sf_dir, "documents")
    root = str(tmp_path_factory.mktemp("docs_gate_stream"))
    for i in range(3):
        p = os.path.join(root, f"part-{i}.parquet")
        docs.where(docs.doc_id % 3 == i).select(
            "doc_id", "lang", "text", "source"
        ).toPandas().to_parquet(p, index=False)
        now = time.time() + i
        os.utime(p, (now, now))
    schema = spark.read.parquet(root).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(root)
    )
    multi = [tuple(r) for r in streaming_classifier_gate(spark, sf_dir, stream).collect()]
    single = [
        tuple(r) for r in _q("ze03_stream_classifier_gate")(spark, sf_dir).collect()
    ]
    batch = [tuple(r) for r in _q("ze02_classifier_gate")(spark, sf_dir).collect()]
    assert multi == single == batch
    assert len(batch) > 0


def test_ze04_calibration_accounting(spark, sf_dir):
    """Equal-mass bins that telescope against the fit and the gate:
    decile sizes differ by at most 1, masses sum to the fit's doc
    count, total keeps equal ze02's, and the top decile must carry
    more target mass than the bottom (the signal the audit exists to
    surface)."""
    from spotify_tags_etl_spark.operators.zeops import ze01_fit

    rows = {r.decile: r for r in _q("ze04_gate_calibration")(spark, sf_dir).collect()}
    assert sorted(rows) == list(range(10))
    feats, nd, _curve, _w = ze01_fit(spark, sf_dir)
    feats.unpersist()
    sizes = [rows[d].n_docs for d in range(10)]
    assert sum(sizes) == nd
    assert max(sizes) - min(sizes) <= 1
    gate = _q("ze02_classifier_gate")(spark, sf_dir).collect()
    assert sum(r.n_kept for r in rows.values()) == sum(g.n_kept for g in gate)
    # margin > 0 is a SUFFIX of the margin order, so keeps must be a
    # contiguous tail: every decile above the first kept one is fully
    # kept except possibly the boundary decile itself
    kept_deciles = [d for d in range(10) if rows[d].n_kept > 0]
    assert kept_deciles == list(range(kept_deciles[0], 10)) if kept_deciles else True
    for d in kept_deciles[1:]:
        assert rows[d].n_kept == rows[d].n_docs
    assert rows[9].tgt_ppm > rows[0].tgt_ppm
    for r in rows.values():
        assert r.tgt_ppm == (r.n_tgt * 10**6) // r.n_docs


# ---------------------------------------------------------------------------
# zf01 — curation lineage: first-drop attribution telescopes exactly
# ---------------------------------------------------------------------------

ZF01_EXPECTED_LOOP_PLANS = {
    # r12 §14: + the scale-adaptive embeddings fan-out exchange
    "zc03:projected_corpus": [{"exchanges": 1}],
    "zf01:importance_census": [{"exchanges": 1}],
    "zf01:exact_keeps": [{"exchanges": 1}],
    # r12 §14: dd02 fans its single-split corpus scan out before the
    # shingle/MinHash map work; the fan subtree prints under both
    # verify sides (5 + 2). Scale-adaptive — at >= cores input splits
    # the fan is a no-op and the stage keeps its five exchanges.
    "zf01:near_drops": [{"exchanges": 7}],
    # r13: the exact-verify dot is one MapInArrow numpy pass (guide
    # §4.2, vecexpr.pair_dot_int64) instead of an interpreted fold
    "zf01:sem_drops": [{"exchanges": 2, "map_in_arrow": 1}],
    "zf01:contam": [{"exchanges": 3}],
    "zf01:offtarget": [{"exchanges": 1}],
    # five LEFT joins of checkpointed drop-lists on one corpus scan;
    # the keeps list is corpus-sized, so some joins legitimately SMJ
    "zf01:lineage_flags": [{"exchanges": 4, "sort_merge_joins": 3}],
}

ZF01_EXPECTED_SCANS = {
    "zc03:projected_corpus": [["embedding,vec_id"]],
    "zf01:importance_census": [["lang,text"]],
    "zf01:exact_keeps": [["doc_id,text"]],
    "zf01:near_drops": [["doc_id,text"] * 6],
    "zf01:sem_drops": [[]],
    "zf01:contam": [["doc_id,text"] * 2],
    "zf01:offtarget": [["doc_id,text"]],
    # pushdown proof: the composed report reads exactly (doc_id, source)
    "zf01:lineage_flags": [["doc_id,source"]],
}


def test_zf01_loop_stage_pins(spark, sf_dir):
    from spotify_tags_etl_spark.plans import planmetrics as pm

    pm.LOOP_PLAN_LOG.clear()
    pm.SCAN_LOG.clear()
    _q("zf01_curation_lineage")(spark, sf_dir).count()
    scans: dict[str, set] = {}
    for label, sc in pm.SCAN_LOG:
        scans.setdefault(label, set()).add(sc)
    observed_scans = {l: sorted(list(t) for t in v) for l, v in scans.items()}
    assert observed_scans == ZF01_EXPECTED_SCANS
    assert pm.observed_loop_plans() == ZF01_EXPECTED_LOOP_PLANS


def test_zf01_first_drop_attribution(spark, sf_dir):
    """Replicate the five-stage first-drop attribution doc-by-doc from
    the component stages' own queries and require an exact match, plus
    per-source mass conservation."""
    from spotify_tags_etl_spark.operators.zfops import zf01_offtarget

    rows = _q("zf01_curation_lineage")(spark, sf_dir).collect()
    assert rows

    docs = {
        r.doc_id: r.source
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "source")
        .collect()
    }
    exact_keeps = {r.keep_doc_id for r in _q("dd01_exact_hash")(spark, sf_dir).collect()}
    near_drops = {r.d2 for r in _q("dd02_minhash_lsh")(spark, sf_dir).collect()}
    sem_drops = {
        r.vec_id
        for r in _q("zc03_semantic_dedup")(spark, sf_dir).collect()
        if r.keep == 0
    }
    contam = {r.doc_id for r in _q("tz06_decontaminate")(spark, sf_dir).collect()}
    offtgt = {r.doc_id for r in zf01_offtarget(spark, sf_dir).collect()}

    want: dict[str, list[int]] = defaultdict(lambda: [0] * 7)
    for doc_id, source in docs.items():
        w = want[source]
        w[0] += 1
        if doc_id not in exact_keeps:
            w[1] += 1
        elif doc_id in near_drops:
            w[2] += 1
        elif doc_id in sem_drops:
            w[3] += 1
        elif doc_id in contam:
            w[4] += 1
        elif doc_id in offtgt:
            w[5] += 1
        else:
            w[6] += 1

    got = {
        r.source: (
            r.n_docs,
            r.drop_exact,
            r.drop_near,
            r.drop_sem,
            r.drop_contam,
            r.drop_offtarget,
            r.n_kept,
        )
        for r in rows
    }
    assert got == {s: tuple(w) for s, w in want.items()}
    for r in rows:
        assert (
            r.drop_exact + r.drop_near + r.drop_sem + r.drop_contam
            + r.drop_offtarget + r.n_kept
            == r.n_docs
        )
        assert r.kept_ppm == (r.n_kept * 10**6) // r.n_docs
    # non-vacuous: the off-target stage fires (every fixture SF has
    # non-en docs) and something survives; exact dups exist only at
    # larger SFs, so per-stage non-vacuity stops there
    assert sum(r.drop_offtarget for r in rows) > 0
    assert sum(r.n_kept for r in rows) > 0


# ---------------------------------------------------------------------------
# zf02 — micro-batch-layout invariance vs batch zf01
# ---------------------------------------------------------------------------

ZF02_EXPECTED_LOOP_PLANS = {
    # close-time: semantic pass over the CACHED embedding projections
    # (r12 partials layer — the quantize/project compute is paid at
    # partial publish, not per close) + the five-way attribution join
    # over checkpointed stores/censuses
    "lineage_close:projected_corpus": [{}],
    "zf02:lineage_report": [{"exchanges": 8, "sort_merge_joins": 5}],
}

ZF02_EXPECTED_SCANS = {
    # pruned partial columns — the raw embedding vectors are never
    # re-projected at close
    "lineage_close:projected_corpus": [["bk1,bk2,bk3,bk4,na,q,vec_id"]],
    # the close-time report reads ONLY checkpointed state — the raw
    # corpus is never re-scanned after ingest
    "zf02:lineage_report": [[]],
}


def test_zf02_loop_stage_pins(spark, sf_dir):
    from spotify_tags_etl_spark.plans import planmetrics as pm

    pm.LOOP_PLAN_LOG.clear()
    pm.SCAN_LOG.clear()
    _q("zf02_stream_curation_lineage")(spark, sf_dir).count()
    scans: dict[str, set] = {}
    for label, sc in pm.SCAN_LOG:
        scans.setdefault(label, set()).add(sc)
    observed_scans = {l: sorted(list(t) for t in v) for l, v in scans.items()}
    assert observed_scans == ZF02_EXPECTED_SCANS
    assert pm.observed_loop_plans() == ZF02_EXPECTED_LOOP_PLANS


def test_zf02_layout_invariant(spark, sf_dir, tmp_path_factory):
    """Every per-stage merge is associative + commutative, so the
    lineage must be identical whether the corpus arrives as 1
    micro-batch or 3 — and equal batch zf01 exactly."""
    import os
    import time

    from spotify_tags_etl_spark.operators.zfops import streaming_curation_lineage
    from spotify_tags_etl_spark.sources.tpch import load_table

    docs = load_table(spark, sf_dir, "documents")
    root = str(tmp_path_factory.mktemp("docs_lineage_stream"))
    for i in range(3):
        p = os.path.join(root, f"part-{i}.parquet")
        docs.where(docs.doc_id % 3 == i).select(
            "doc_id", "lang", "text", "source"
        ).toPandas().to_parquet(p, index=False)
        now = time.time() + i
        os.utime(p, (now, now))
    schema = spark.read.parquet(root).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(root)
    )
    multi = [tuple(r) for r in streaming_curation_lineage(spark, sf_dir, stream).collect()]
    single = [
        tuple(r) for r in _q("zf02_stream_curation_lineage")(spark, sf_dir).collect()
    ]
    batch = [tuple(r) for r in _q("zf01_curation_lineage")(spark, sf_dir).collect()]
    assert multi == single == batch
    assert len(batch) > 0


def test_versioned_state_replay_safe(spark, tmp_path):
    """Regression (r9 advice): foreachBatch may RE-DELIVER a batch_id
    after a partial failure. The old merge read cur[0] and overwrote
    that same path on replay — Spark's overwrite deletes the directory
    before the lazy read executes, corrupting the census (and merging
    a batch into its own first attempt double-counts it). The helper
    pair must (a) merge a replay against the PRE-attempt version and
    (b) never clobber a directory a pending read points at."""
    import os

    from spotify_tags_etl_spark.streaming.ops import (
        commit_versioned_state,
        versioned_state_source,
    )

    root = str(tmp_path)
    cur: list[str] = []

    def merge(rows, batch_id):
        part = spark.createDataFrame(rows, "k string, n long")
        target = os.path.join(root, f"census_v{batch_id}")
        src = versioned_state_source(cur, target)
        assert src != target  # never self-read the write target
        if src:
            part = (
                spark.read.parquet(src)
                .unionByName(part)
                .groupBy("k")
                .agg(F.sum("n").alias("n"))
            )
        commit_versioned_state(part, cur, target, src)

    merge([("a", 1)], 0)
    merge([("a", 1)], 0)  # replay of the FIRST batch: src must be None
    merge([("a", 2), ("b", 5)], 1)
    merge([("a", 2), ("b", 5)], 1)  # replay: merge against v0, not v1
    got = {(r.k, r.n) for r in spark.read.parquet(cur[0]).collect()}
    assert got == {("a", 3), ("b", 5)}
    merge([("b", 1)], 2)  # normal progress after a replay still chains
    got = {(r.k, r.n) for r in spark.read.parquet(cur[0]).collect()}
    assert got == {("a", 3), ("b", 6)}

    # The same re-deliveries through merged_stream's per-batch handler:
    # the state equals a single delivery of each batch.
    from spotify_tags_etl_spark.streaming.ops import VersionedMerge

    def step(batch, prev):
        if prev is None:
            return batch
        return prev.unionByName(batch).groupBy("k").agg(F.sum("n").alias("n"))

    def run(deliveries, sub):
        handler = VersionedMerge(spark, os.path.join(root, sub), "replay:merge", step)
        for rows, batch_id in deliveries:
            handler(spark.createDataFrame(rows, "k string, n long"), batch_id)
        return {(r.k, r.n) for r in handler.state().collect()}

    b0, b1 = [("a", 1)], [("a", 2), ("b", 5)]
    replayed = run([(b0, 0), (b0, 0), (b1, 1), (b1, 1)], "replayed")
    assert replayed == run([(b0, 0), (b1, 1)], "single") == {("a", 3), ("b", 5)}


def test_zf02_short_doc_stream(spark, sf_dir, tmp_path_factory):
    """Regression (r9 advice): a micro-batch containing a doc with
    fewer than DECON_NGRAM space-split tokens must not kill the
    contamination gram stage. sequence(1, 0) in Spark is the
    DESCENDING [1, 0] (step defaults to -1) and greatest(..., 0) does
    not prevent it, so without the short-doc pre-filter the streaming
    query dies with INVALID_PARAMETER_VALUE on slice(..., 0, n) —
    while the oracle's generate_series is simply empty. The fixture's
    shortest doc has ~10 tokens, so this plants 1- and 4-token docs in
    their own micro-batch and checks the stream completes AND still
    equals batch zf01 on the same augmented corpus."""
    import os
    import shutil
    import time

    import pandas as pd

    from spotify_tags_etl_spark.operators.zfops import streaming_curation_lineage

    root = str(tmp_path_factory.mktemp("docs_shortdoc_sf"))
    shutil.copy(
        os.path.join(sf_dir, "embeddings.parquet"),
        os.path.join(root, "embeddings.parquet"),
    )
    docs = pd.read_parquet(os.path.join(sf_dir, "documents.parquet"))
    top = int(docs.doc_id.max())
    short = pd.DataFrame(
        [
            {"doc_id": top + 1, "text": "tiny", "lang": "en",
             "source": "web", "n_chars": 4},
            {"doc_id": top + 2, "text": "four space split tokens",
             "lang": "de", "source": "web", "n_chars": 23},
        ]
    ).astype(docs.dtypes.to_dict())
    aug = pd.concat([docs, short], ignore_index=True)
    aug.to_parquet(os.path.join(root, "documents.parquet"), index=False)

    stream_root = str(tmp_path_factory.mktemp("docs_shortdoc_stream"))
    cols = ["doc_id", "lang", "text", "source"]
    parts = [docs[cols], short[cols]]  # short docs isolated in batch 2
    for i, part in enumerate(parts):
        p = os.path.join(stream_root, f"part-{i}.parquet")
        part.to_parquet(p, index=False)
        now = time.time() + i
        os.utime(p, (now, now))
    schema = spark.read.parquet(stream_root).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(stream_root)
    )
    multi = [tuple(r) for r in streaming_curation_lineage(spark, root, stream).collect()]
    batch = [tuple(r) for r in _q("zf01_curation_lineage")(spark, root).collect()]
    assert multi == batch
    assert len(batch) > 0


def test_ze05_hard_examples_are_confidently_wrong(spark, sf_dir):
    """Every exported doc must be misclassified by the averaged model,
    and the export must be exactly the |margin|-top-k of the full
    misclassified set (replicated in-process)."""
    from spotify_tags_etl_spark.operators.zeops import (
        ZE05_TOPK,
        _margins,
        ze01_fit,
    )

    rows = _q("ze05_hard_examples")(spark, sf_dir).collect()
    assert 0 < len(rows) <= ZE05_TOPK
    feats, _nd, _curve, w_hist = ze01_fit(spark, sf_dir)
    wavg = {b: sum(w[b] for w in w_hist) for b in w_hist[0]}
    scored = {
        r.doc_id: (r.y, int(r.m))
        for r in _margins(feats, wavg).collect()
    }
    feats.unpersist()
    wrong = [
        (abs(m), -doc_id, doc_id, y, m)
        for doc_id, (y, m) in scored.items()
        if (m > 0) != (y == 1)
    ]
    wrong.sort(reverse=True)
    want = [(d, y, m) for _, _, d, y, m in wrong[: ZE05_TOPK]]
    # reverse-sorted on (-doc_id) gives doc_id ASC within equal |m|
    assert [(r.doc_id, r.y, r.margin) for r in rows] == want
    for r in rows:
        assert (r.margin > 0) != (r.y == 1)
        assert (r.y == 1) == (r.lang == "en")


def test_ze01_python_reference_fit(spark, sf_dir):
    """Third-engine check (yv17's closed-form-recompute discipline):
    a pure-Python reimplementation of the hashed-bigram design matrix
    and the 6 batch-perceptron rounds must reproduce ze01's learning
    curve bit-for-bit — Spark, DuckDB, and Python all agree or the
    operator is wrong."""
    import hashlib
    import re
    from collections import Counter

    from spotify_tags_etl_spark.operators.zeops import (
        ZE01_BIAS,
        ZE01_BUCKETS,
        ZE01_ROUNDS,
        ZE01_TARGET_LANG,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "lang", "text"
    ).collect()
    feats: dict[int, tuple[int, Counter]] = {}
    for r in docs:
        ws = [w for w in re.split(r"[^a-z0-9]+", r.text.lower()) if w]
        if len(ws) < 2:
            continue
        y = 1 if r.lang == ZE01_TARGET_LANG else -1
        c: Counter = Counter(
            int(hashlib.md5(f"{a} {b}".encode()).hexdigest()[:8], 16) % ZE01_BUCKETS
            for a, b in zip(ws, ws[1:])
        )
        c[ZE01_BIAS] = 1
        feats[r.doc_id] = (y, c)
    nd = len(feats)
    w = {b: 0 for b in range(ZE01_BIAS, ZE01_BUCKETS)}
    want = []
    for rnd in range(1, ZE01_ROUNDS + 1):
        mis = [
            d for d, (y, c) in feats.items()
            if y * sum(n * w[b] for b, n in c.items()) <= 0
        ]
        for d in mis:
            y, c = feats[d]
            for b, n in c.items():
                w[b] += y * n
        want.append(
            (
                rnd,
                len(mis),
                ((nd - len(mis)) * 10**6) // nd,
                sum(abs(v) for v in w.values()),
                sum(v * (b + 2) for b, v in w.items()),
            )
        )
    got = [tuple(r) for r in _q("ze01_perceptron_filter")(spark, sf_dir).collect()]
    assert got == want


def _py_ze_fit(spark, sf_dir):
    """Shared pure-Python fit for the three-engine ze-band checks:
    returns (feats: doc_id -> (y, bucket Counter), per-round
    post-update weight dicts, doc source/lang maps)."""
    import hashlib
    import re
    from collections import Counter

    from spotify_tags_etl_spark.operators.zeops import (
        ZE01_BIAS,
        ZE01_BUCKETS,
        ZE01_ROUNDS,
        ZE01_TARGET_LANG,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "lang", "text", "source"
    ).collect()
    feats = {}
    source = {}
    for r in docs:
        source[r.doc_id] = r.source
        ws = [w for w in re.split(r"[^a-z0-9]+", r.text.lower()) if w]
        if len(ws) < 2:
            continue
        y = 1 if r.lang == ZE01_TARGET_LANG else -1
        c = Counter(
            int(hashlib.md5(f"{a} {b}".encode()).hexdigest()[:8], 16) % ZE01_BUCKETS
            for a, b in zip(ws, ws[1:])
        )
        c[ZE01_BIAS] = 1
        feats[r.doc_id] = (y, c)
    w = {b: 0 for b in range(ZE01_BIAS, ZE01_BUCKETS)}
    w_hist = []
    for _ in range(ZE01_ROUNDS):
        mis = [
            d for d, (y, c) in feats.items()
            if y * sum(n * w[b] for b, n in c.items()) <= 0
        ]
        for d in mis:
            y, c = feats[d]
            for b, n in c.items():
                w[b] += y * n
        w_hist.append(dict(w))
    return feats, w_hist, source


def test_ze_band_python_reference_gate_calibration_hard_examples(spark, sf_dir):
    """Three-engine agreement for the APPLY/audit half of the ze band:
    the Python fit's averaged weights must reproduce ze02's per-source
    census, ze04's decile table, and ze05's export exactly."""
    from collections import defaultdict

    from spotify_tags_etl_spark.operators.zeops import ZE05_TOPK

    feats, w_hist, source = _py_ze_fit(spark, sf_dir)
    wavg = {b: sum(w[b] for w in w_hist) for b in w_hist[0]}
    margins = {
        d: (y, sum(n * wavg[b] for b, n in c.items()))
        for d, (y, c) in feats.items()
    }

    # ze02 per-source census
    want02 = defaultdict(lambda: [0, 0, 0])
    for d, (y, m) in margins.items():
        w = want02[source[d]]
        w[0] += 1
        w[1] += 1 if m > 0 else 0
        w[2] += 1 if (m > 0) == (y == 1) else 0
    got02 = {
        r.source: [r.n_docs, r.n_kept, r.n_correct]
        for r in _q("ze02_classifier_gate")(spark, sf_dir).collect()
    }
    assert got02 == dict(want02)

    # ze04 decile table
    order = sorted(margins, key=lambda d: (margins[d][1], d))
    n = len(order)
    want04 = defaultdict(lambda: [0, 0, 0])
    for i, d in enumerate(order):
        y, m = margins[d]
        w = want04[i * 10 // n]
        w[0] += 1
        w[1] += 1 if m > 0 else 0
        w[2] += 1 if y == 1 else 0
    got04 = {
        r.decile: [r.n_docs, r.n_kept, r.n_tgt]
        for r in _q("ze04_gate_calibration")(spark, sf_dir).collect()
    }
    assert got04 == dict(want04)

    # ze05 export
    wrong = sorted(
        ((d, y, m) for d, (y, m) in margins.items() if (m > 0) != (y == 1)),
        key=lambda t: (-abs(t[2]), t[0]),
    )[:ZE05_TOPK]
    got05 = [
        (r.doc_id, r.y, r.margin)
        for r in _q("ze05_hard_examples")(spark, sf_dir).collect()
    ]
    assert got05 == wrong


def test_zf02_batch_order_permutation(spark, sf_dir, tmp_path_factory):
    """Reversed arrival order (latestFirst) must not change the
    lineage — the merges claim commutativity, so a true order
    permutation is the direct falsifier (the 3-file split test only
    varies the partitioning, not the order)."""
    import os
    import time

    from spotify_tags_etl_spark.operators.zfops import streaming_curation_lineage
    from spotify_tags_etl_spark.sources.tpch import load_table

    docs = load_table(spark, sf_dir, "documents")
    root = str(tmp_path_factory.mktemp("docs_lineage_rev"))
    for i in range(3):
        p = os.path.join(root, f"part-{i}.parquet")
        docs.where(docs.doc_id % 3 == i).select(
            "doc_id", "lang", "text", "source"
        ).toPandas().to_parquet(p, index=False)
        now = time.time() + i
        os.utime(p, (now, now))
    schema = spark.read.parquet(root).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "true")  # newest file first: reversed order
        .parquet(root)
    )
    reversed_order = [
        tuple(r) for r in streaming_curation_lineage(spark, sf_dir, stream).collect()
    ]
    batch = [tuple(r) for r in _q("zf01_curation_lineage")(spark, sf_dir).collect()]
    assert reversed_order == batch
