"""Round-11 additions: artifact-publish hardening (verify-the-winner,
GC of superseded digests, corrupt-target recovery), the v2 flags
artifact (zg06 rule verdicts folded in; zd01/zg06 re-pointed), and the
zh band — the unified three-system keep-set (hard rules -> five-stage
funnel -> learned gate) with its packed/sharded manifests and
streaming twin."""

from __future__ import annotations

import json
import os

import pytest

from spotify_tags_etl_spark.functions import artifactio
from spotify_tags_etl_spark.plans.registry import get
from tests.conftest import assert_loop_pins, build_record
from tests.test_artifacts import flags_sandbox  # noqa: F401  (fixture)


# ---------------------------------------------------------------------------
# flags artifact v2 — corrupt-target recovery, GC wiring, key coverage
# ---------------------------------------------------------------------------


def test_flags_artifact_corrupt_target_recaches(spark, flags_sandbox, monkeypatch):
    """The ADVICE #3 failure mode: a corrupt meta.json at the target
    used to make every publish rename fail forever (misread as a lost
    race) while the OLD parquet kept being served. Now the corrupt dir
    is replaced on the next call and caching RESUMES."""
    from spotify_tags_etl_spark.operators import zfops

    root = flags_sandbox
    calls: list[str] = []
    real = zfops.zf01_flags_from_partials

    def counting(spark_, doc_dirs, emb_dirs):
        calls.append(doc_dirs)
        return real(spark_, doc_dirs, emb_dirs)

    # v3: the miss path assembles from partition-granular partials
    monkeypatch.setattr(zfops, "zf01_flags_from_partials", counting)
    artifactio._MEMO.clear()
    first = sorted(
        tuple(r) for r in zfops.zf01_flags_artifact(spark, root).collect()
    )
    assert len(calls) == 1
    target = artifactio.artifact_dir("zf01_flags", zfops._flags_key(root))

    # corrupt the published meta
    with open(os.path.join(target, "meta.json"), "w") as fh:
        fh.write("{not json")
    artifactio._MEMO.clear()
    got = sorted(
        tuple(r) for r in zfops.zf01_flags_artifact(spark, root).collect()
    )
    assert got == first and len(calls) == 2  # recomputed + republished
    with open(os.path.join(target, "meta.json")) as fh:
        assert json.load(fh)["key"] == zfops._flags_key(root)

    artifactio._MEMO.clear()
    got = sorted(
        tuple(r) for r in zfops.zf01_flags_artifact(spark, root).collect()
    )
    assert got == first and len(calls) == 2  # caching RESUMED — pure hit


def test_flags_artifact_gc_on_republish(spark, flags_sandbox):
    """A fixture 'regen' (mtime bump) republises under a new digest and
    GCs the superseded one — the warehouse holds ONE live digest per
    input set (r10 verdict #6)."""
    from spotify_tags_etl_spark.operators import zfops

    root = flags_sandbox
    artifactio._MEMO.clear()
    zfops.zf01_flags_artifact(spark, root).count()
    old_target = artifactio.artifact_dir("zf01_flags", zfops._flags_key(root))
    assert os.path.exists(old_target)

    p = os.path.join(root, "documents.parquet")
    st = os.stat(p)
    os.utime(p, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    artifactio._MEMO.clear()
    zfops.zf01_flags_artifact(spark, root).count()
    new_target = artifactio.artifact_dir("zf01_flags", zfops._flags_key(root))
    assert new_target != old_target
    assert os.path.exists(new_target)
    assert not os.path.exists(old_target)  # superseded digest swept


def test_flags_key_covers_every_stage_constant(monkeypatch):
    """The ADVICE #1 gap: the staleness key must move when ANY stage
    constant moves — dd02's LSH shape, zc03's sizing/threshold, tz06's
    split edges, zb03's census, zg06's rule thresholds."""
    from spotify_tags_etl_spark.operators import dedup as dd
    from spotify_tags_etl_spark.operators import training as tr
    from spotify_tags_etl_spark.operators import zcops as zc
    from spotify_tags_etl_spark.operators import zfops
    from spotify_tags_etl_spark.operators import zgops as zg

    sf = "/root/testdata/sf0.001"
    base = zfops._flags_key(sf)
    for mod, attr, val in [
        (dd, "N_HASHES", 16),
        (dd, "BAND_ROWS", 4),
        (zc, "ZC03_BITS", 8),
        (zc, "ZC03_TABLES", 8),
        (zc, "ZC03_T_PPM", 999_999),
        (tr, "SPLIT_EDGES", (("train", 0.7), ("val", 0.85), ("test", 1.0))),
        (zg, "ZG06_MIN_WORDS", 99),
        (zg, "ZG06_MAX_WORDS", 999),
        (zg, "ZG06_REP_PPM", 123_456),
        (zg, "ZG06_STOPWORDS", ("zzz",)),
    ]:
        monkeypatch.setattr(mod, attr, val)
        assert zfops._flags_key(sf) != base, f"{attr} not keyed"
        monkeypatch.undo()
    assert zfops._flags_key(sf) == base


def test_fit_artifact_gc_on_republish(spark, flags_sandbox):
    """Same GC discipline on the ze01 fit artifact."""
    from spotify_tags_etl_spark.operators import zeops

    root = flags_sandbox
    zeops._FIT_MEMO.clear()
    zeops.ze01_fit_artifact(spark, root)
    old_target = artifactio.artifact_dir("ze01_fit", zeops._fit_key(root))
    assert os.path.exists(old_target)

    p = os.path.join(root, "documents.parquet")
    st = os.stat(p)
    os.utime(p, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    zeops._FIT_MEMO.clear()
    zeops.ze01_fit_artifact(spark, root)
    new_target = artifactio.artifact_dir("ze01_fit", zeops._fit_key(root))
    assert new_target != old_target
    assert os.path.exists(new_target)
    assert not os.path.exists(old_target)


def test_v2_artifact_rule_columns_match_live_census(spark, sf_dir, built):
    """The artifact's stored rule verdicts aggregate to exactly zg06's
    census (the artifact path IS the census path now — this pins the
    spelling equality between zf01_flags(with_rules=True) and
    zg06_census_partial)."""
    from pyspark.sql import functions as F

    from spotify_tags_etl_spark.operators.zfops import zf01_flags_artifact
    from spotify_tags_etl_spark.operators.zgops import (
        _zg06_finish,
        zg06_census_partial,
    )
    from spotify_tags_etl_spark.sources.tpch import load_table

    docs = load_table(spark, sf_dir, "documents").select("source", "text")
    live = sorted(
        tuple(r) for r in _zg06_finish(zg06_census_partial(docs)).collect()
    )
    via_artifact = sorted(
        tuple(r) for r in built("zg06_quality_rule_census").rows
    )
    assert via_artifact == live

    # and the stored verdicts are well-formed 0/1 indicators with the
    # short/long rules mutually exclusive (a doc cannot be both)
    art = zf01_flags_artifact(spark, sf_dir)
    n_bad = art.where(
        ~F.col("r_short").isin(0, 1)
        | ~F.col("r_long").isin(0, 1)
        | ~F.col("r_rep").isin(0, 1)
        | ~F.col("r_stop").isin(0, 1)
        | ((F.col("r_short") == 1) & (F.col("r_long") == 1))
    ).count()
    assert n_bad == 0


def test_zd01_matches_prior_live_composition(spark, sf_dir, built):
    """zd01 re-pointed at the artifact must equal the three stages'
    own composition (the r9 semantics, re-derived live here)."""
    from pyspark.sql import functions as F

    from spotify_tags_etl_spark.operators.dedup import dd01, dd02
    from spotify_tags_etl_spark.operators.zcops import zc03
    from spotify_tags_etl_spark.sources.tpch import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    keeps = {
        r.keep_doc_id for r in dd01(spark, sf_dir).select("keep_doc_id").collect()
    }
    near = {r.d2 for r in dd02(spark, sf_dir).select("d2").distinct().collect()}
    sem = {
        r.vec_id
        for r in zc03(spark, sf_dir).where(F.col("keep") == 0).collect()
    }
    rows = docs.collect()
    agg: dict[str, list[int]] = {}
    for r in rows:
        a = agg.setdefault(r.source, [0, 0, 0, 0])
        a[0] += 1
        s_e = 1 if r.doc_id in keeps else 0
        a[1] += s_e
        a[2] += s_e * (0 if r.doc_id in near else 1)
        a[3] += s_e * (0 if r.doc_id in near else 1) * (
            0 if r.doc_id in sem else 1
        )
    got = {
        r.source: (r.n_docs, r.n_exact_kept, r.n_near_kept, r.n_sem_kept)
        for r in built("zd01_dedup_funnel").rows
    }
    assert got == {s: tuple(v) for s, v in agg.items()}


# ---------------------------------------------------------------------------
# zh01 — unified keep-set lineage: conservation + prefix consistency
# ---------------------------------------------------------------------------


def test_zh01_mass_conservation(built):
    rows = built("zh01_unified_keepset").rows
    assert rows
    drop_cols = [
        "drop_short", "drop_long", "drop_rep", "drop_stop", "drop_exact",
        "drop_near", "drop_sem", "drop_contam", "drop_offtarget", "drop_gate",
    ]
    for r in rows:
        assert r.n_docs == sum(r[c] for c in drop_cols) + r.n_kept, r
        assert r.kept_ppm == (r.n_kept * 1_000_000) // r.n_docs


def test_zh01_rule_prefix_equals_zg06(built):
    """Rules run FIRST in both zh01 and zg06, so the four rule-drop
    columns must match the standalone census exactly per source."""
    zh = {r.source: r for r in built("zh01_unified_keepset").rows}
    zg = {r.source: r for r in built("zg06_quality_rule_census").rows}
    assert set(zh) == set(zg)
    for s in zh:
        for c in ("drop_short", "drop_long", "drop_rep", "drop_stop"):
            assert zh[s][c] == zg[s][c], (s, c)
        assert zh[s].n_docs == zg[s].n_docs


def test_zh01_gate_threshold_is_median_edge(spark, sf_dir, built):
    """The deployed operating point equals zg03's k=5 cut (the tuning
    table and the deployed gate must agree on the same edge)."""
    from spotify_tags_etl_spark.operators.zhops import ZH_GATE_DECILE

    sweep = {r.k: r.thr for r in built("zg03_gate_threshold_sweep").rows}
    from pyspark.sql import functions as F

    from spotify_tags_etl_spark.operators.zeops import (
        _margins,
        ze01_feats,
        ze01_fit_artifact,
    )
    from spotify_tags_etl_spark.operators.zhops import gate_threshold

    _nd, _c, w_hist = ze01_fit_artifact(spark, sf_dir)
    wavg = {b: sum(w[b] for w in w_hist) for b in w_hist[0]}
    feats = ze01_feats(spark, sf_dir)
    scored = _margins(feats, wavg).select("doc_id", "m").localCheckpoint(eager=True)
    feats.unpersist()
    t = gate_threshold(scored)
    assert int(t) == sweep[ZH_GATE_DECILE]


# ---------------------------------------------------------------------------
# zh02/zh03 — band mass conservation + manifest reconciliation
# ---------------------------------------------------------------------------


def test_zh02_band_mass_conserves_vs_zg01(built):
    """Per band: zh02's kept + three system displacements = the band's
    full corpus token mass = zg01's kept + five stage displacements."""
    zh = {r.band_exp: r for r in built("zh02_unified_pack_manifest").rows}
    zg = {r.band_exp: r for r in built("zg01_curated_pack_manifest").rows}
    assert set(zh) == set(zg)
    for b in zh:
        zh_total = zh[b].kept_tokens + zh[b].displaced_tokens
        zg_total = zg[b].kept_tokens + zg[b].displaced_tokens
        assert zh_total == zg_total, b
        assert zh[b].n_kept + zh[b].n_displaced == zg[b].n_kept + zg[b].n_displaced
        # the unified keep is a subset of the funnel keep per band
        assert zh[b].n_kept <= zg[b].n_kept, b


def test_zh03_reconciles_with_zh02(built):
    zh2 = built("zh02_unified_pack_manifest").rows
    zh3 = built("zh03_unified_shard_plan").rows
    assert sum(r.shard_tokens for r in zh3) == sum(r.kept_tokens for r in zh2)
    assert sum(r.n_docs for r in zh3) == sum(r.n_kept for r in zh2)
    assert sum(r.n_windows for r in zh3) == sum(r.n_windows for r in zh2)
    assert sum(r.share_ppm for r in zh3) <= 1_000_000


# ---------------------------------------------------------------------------
# zh05 — seven-system overlap consistency
# ---------------------------------------------------------------------------


def test_zh05_diagonals_and_symmetry(built):
    rows = built("zh05_system_overlap").rows
    assert len(rows) == 28  # 7 systems, upper triangle incl. diagonal
    by_pair = {(r.ia, r.ib): r for r in rows}
    # diagonal: n_a == n_b == n_both, jaccard == 1e6 (or NULL when 0)
    for i in range(7):
        d = by_pair[(i, i)]
        assert d.n_a == d.n_b == d.n_both
        if d.n_a:
            assert d.jaccard_ppm == 1_000_000
    # overlap bounds
    for (i, j), r in by_pair.items():
        assert r.n_both <= min(r.n_a, r.n_b)
    # rules diagonal == zg06's total drops
    zg06 = built("zg06_quality_rule_census").rows
    total_rule_drops = sum(r.n_docs - r.n_kept for r in zg06)
    assert by_pair[(0, 0)].n_a == total_rule_drops
    # exact..off diagonals == zg08's (the shared five funnel stages)
    zg08 = {(r.ia, r.ib): r for r in built("zg08_stage_overlap").rows}
    for zh_i, zg_i in ((1, 0), (2, 1), (3, 2), (4, 3), (5, 4)):
        assert by_pair[(zh_i, zh_i)].n_a == zg08[(zg_i, zg_i)].n_a, zh_i
        for zh_j, zg_j in ((1, 0), (2, 1), (3, 2), (4, 3), (5, 4)):
            if zh_j >= zh_i:
                assert by_pair[(zh_i, zh_j)].n_both == zg08[(zg_i, zg_j)].n_both


# ---------------------------------------------------------------------------
# zh06 — unified curriculum structure
# ---------------------------------------------------------------------------


def test_zh06_schedule_structure(built):
    """zc05/zg02's invariants over the unified survivor corpus: every
    survivor scheduled exactly once per surviving source, difficulty
    monotone within each source lane, block/slot = divmod(crank-1,
    quota)."""
    rows = built("zh06_unified_curriculum").rows
    assert rows
    per_source: dict[str, list] = {}
    for r in rows:
        per_source.setdefault(r.source, []).append(r)
    for s, rs in per_source.items():
        rs.sort(key=lambda r: r.crank)
        assert [r.crank for r in rs] == list(range(1, len(rs) + 1)), s
        quota = max(r.slot for r in rs) + 1
        for r in rs:
            assert (r.block, r.slot) == divmod(r.crank - 1, quota), (s, r)


def test_zh06_survivors_match_zh01(built):
    """The curriculum schedules exactly zh01's kept mass (minus
    zero-quota sources, zc05's rule)."""
    zh1 = {r.source: r.n_kept for r in built("zh01_unified_keepset").rows}
    rows = built("zh06_unified_curriculum").rows
    sched: dict[str, int] = {}
    for r in rows:
        sched[r.source] = sched.get(r.source, 0) + 1
    for s, n in sched.items():
        assert n == zh1[s], s
    # total scheduled mass == total survivors minus zero-quota lanes
    assert sum(sched.values()) == sum(zh1[s] for s in sched)


# ---------------------------------------------------------------------------
# zh loop-stage plan + scan pins (artifact-HIT path, cf. round-10)
# ---------------------------------------------------------------------------

#: Pruned v2 flags-artifact reads (the 11/12-column unified frame) and
#: the (doc_id[, y], m) margins-artifact read — both ride downstream
#: plan lineages (no checkpoint between artifact scans and consumers).
_UDS_SCAN = "doc_id,f_con,f_near,f_off,f_sem,r_long,r_rep,r_short,r_stop,s_e,source"
_UDS_SCAN_NC = (
    "doc_id,f_con,f_near,f_off,f_sem,n_chars,r_long,r_rep,r_short,r_stop,s_e,source"
)
_UDS_SCAN_NC_NOSRC = (
    "doc_id,f_con,f_near,f_off,f_sem,n_chars,r_long,r_rep,r_short,r_stop,s_e"
)
_M_SCAN = "doc_id,m"

ZH_EXPECTED_LOOP_PLANS = {
    "zh01_unified_keepset": {
        "zh01:margins": [{}],
        "scalerank:layout": [{}],
        "zh01:unified_flags": [{}],
        "zh01:unified_rollup": [{"exchanges": 1}],
    },
    "zh02_unified_pack_manifest": {
        "zh02:margins": [{}],
        "scalerank:layout": [{}],
        "zh02:unified_flags": [{}],
        "zh02:band_reasons": [{}],
    },
    "zh03_unified_shard_plan": {
        "zh03:margins": [{}],
        # three rank layouts: the gate-threshold edge, the per-band
        # grouped_rank, the O(#windows) global_rank
        "scalerank:layout": [{}, {"exchanges": 2}],
        "zh03:unified_flags": [{}],
        "zh03:banded_rank": [{"exchanges": 1}],
        "zh03:window_rollup": [{"exchanges": 2}],
        "zh03:shard_rollup": [{"exchanges": 2}],
    },
    "zh05_system_overlap": {
        "zh05:margins": [{}],
        "scalerank:layout": [{}],
        "zh05:unified_flags": [{}],
        "zh05:pair_sums": [{"single_partition": 1}],
    },
    "zh06_unified_curriculum": {
        "zh06:margins": [{}],
        "scalerank:layout": [{}],
        "zh06:unified_flags": [{}],
        "zh06:source_curriculum": [{"exchanges": 1}],
        "zh06:source_rollup": [{"exchanges": 1}],
    },
}

ZH_EXPECTED_SCANS = {
    "zh01_unified_keepset": {
        "zh01:margins": [[_M_SCAN]],
        "scalerank:layout": [[_M_SCAN]],
        "zh01:unified_flags": [[_UDS_SCAN, _M_SCAN]],
        "zh01:unified_rollup": [[_UDS_SCAN, _M_SCAN]],
    },
    "zh02_unified_pack_manifest": {
        "zh02:margins": [[_M_SCAN]],
        "scalerank:layout": [[_M_SCAN]],
        "zh02:unified_flags": [[_UDS_SCAN_NC, _M_SCAN]],
        "zh02:band_reasons": [[_UDS_SCAN_NC_NOSRC, _M_SCAN]],
    },
    "zh03_unified_shard_plan": {
        "zh03:margins": [[_M_SCAN]],
        "scalerank:layout": [
            [],
            [_UDS_SCAN_NC_NOSRC, _M_SCAN],
            [_M_SCAN],
        ],
        "zh03:unified_flags": [[_UDS_SCAN_NC, _M_SCAN]],
        "zh03:banded_rank": [[]],
        "zh03:window_rollup": [[]],
        "zh03:shard_rollup": [[]],
    },
    "zh05_system_overlap": {
        "zh05:margins": [[_M_SCAN]],
        "scalerank:layout": [[_M_SCAN]],
        "zh05:unified_flags": [[_UDS_SCAN, _M_SCAN]],
        "zh05:pair_sums": [
            ["doc_id,f_con,f_near,f_off,f_sem,r_long,r_rep,r_short,r_stop,s_e", _M_SCAN]
        ],
    },
    "zh06_unified_curriculum": {
        "zh06:margins": [[_M_SCAN]],
        "scalerank:layout": [[_UDS_SCAN_NC, _M_SCAN], [_M_SCAN]],
        "zh06:unified_flags": [[_UDS_SCAN_NC, _M_SCAN]],
        "zh06:source_curriculum": [[]],
        "zh06:source_rollup": [[]],
    },
}


@pytest.mark.parametrize("name", sorted(ZH_EXPECTED_LOOP_PLANS))
def test_zh_loop_stage_pins(spark, sf_dir, name):
    from spotify_tags_etl_spark.operators.zeops import ze01_fit_artifact, ze02_margins_artifact
    from spotify_tags_etl_spark.operators.zfops import zf01_flags_artifact

    # artifact-HIT path (the steady state) — publish all three first
    ze01_fit_artifact(spark, sf_dir)
    zf01_flags_artifact(spark, sf_dir).count()
    ze02_margins_artifact(spark, sf_dir).count()
    rec = build_record(spark, sf_dir, name)
    assert_loop_pins(rec, ZH_EXPECTED_LOOP_PLANS[name], ZH_EXPECTED_SCANS[name])


# ---------------------------------------------------------------------------
# zh04 — streaming twin: layout invariance + degenerate batches
# ---------------------------------------------------------------------------


def test_zh04_layout_invariant(spark, sf_dir, built, tmp_path_factory):
    """stream(3-file split) == stream(single availableNow) == batch
    zh01 — the associativity/commutativity pin."""
    import time

    from spotify_tags_etl_spark.operators.zhops import streaming_unified_keepset
    from spotify_tags_etl_spark.sources.tpch import load_table

    docs = load_table(spark, sf_dir, "documents")
    root = str(tmp_path_factory.mktemp("docs_unified_stream"))
    for i in range(3):
        p = os.path.join(root, f"part-{i}.parquet")
        docs.where(docs.doc_id % 3 == i).select(
            "doc_id", "source", "lang", "text"
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
    multi = [tuple(r) for r in streaming_unified_keepset(spark, sf_dir, stream).collect()]
    single = [tuple(r) for r in built("zh04_stream_unified_keepset").rows]
    batch = [tuple(r) for r in built("zh01_unified_keepset").rows]
    assert multi == single == batch
    assert len(batch) > 0


def test_zh04_degenerate_docs_stream(spark, sf_dir, tmp_path):
    """A planted batch of pathological docs (1-token, 4-token — below
    DECON_NGRAM; no stopwords; unclassifiable single-word) must stream
    without error and match batch zh01 on the same fixture (the
    sequence(1,0) regression class + the no-margin gate path)."""
    import pandas as pd

    root = str(tmp_path)
    rows = [
        # (doc_id, source, lang, text, n_chars)
        (1, "srcA", "en", "word", 4),
        (2, "srcA", "de", "a b c d", 7),
        (3, "srcB", "en", "the " + " ".join(f"w{i}" for i in range(20)), 64),
        (4, "srcB", "en", "the " + " ".join(f"w{i}" for i in range(20)), 64),
        (5, "srcB", "fr", "x " * 200, 400),
    ]
    pd.DataFrame(
        rows, columns=["doc_id", "source", "lang", "text", "n_chars"]
    ).to_parquet(os.path.join(root, "documents.parquet"), index=False)
    # embeddings: none embedded — copy the schema with zero rows
    import pyarrow.parquet as pq

    emb = pq.read_table(os.path.join(sf_dir, "embeddings.parquet"))
    pq.write_table(emb.slice(0, 0), os.path.join(root, "embeddings.parquet"))

    batch = [tuple(r) for r in get("zh01_unified_keepset").builder(spark, root).collect()]
    stream = [
        tuple(r) for r in get("zh04_stream_unified_keepset").builder(spark, root).collect()
    ]
    assert stream == batch
    assert sum(r[1] for r in batch) == 5  # all five docs accounted


# ---------------------------------------------------------------------------
# ze02 margins artifact — bit-identity, hit/miss discipline, GC
# ---------------------------------------------------------------------------


def test_margins_artifact_matches_live_scoring(spark, flags_sandbox, monkeypatch):
    """(a) first use scores live and publishes, (b) repeat reads serve
    from the artifact with NO rescoring, (c) a corpus change reads as
    stale, (d) bit-identical to live scoring (integer determinism)."""
    from pyspark.sql import functions as F

    from spotify_tags_etl_spark.operators import zeops

    root = flags_sandbox
    # live twin
    _nd, _c, w_hist = zeops.ze01_fit_artifact(spark, root)
    wavg = {b: sum(w[b] for w in w_hist) for b in w_hist[0]}
    feats = zeops.ze01_feats(spark, root)
    live = sorted(
        (r.doc_id, r.y, int(r.m))
        for r in zeops._margins(feats, wavg).collect()
    )
    feats.unpersist()

    calls: list[str] = []
    real = zeops.ze02_score_parts

    def counting(spark_, corpus_path, wavg_):
        calls.append(corpus_path)
        return real(spark_, corpus_path, wavg_)

    # v2: the miss path scores per input file under the frozen weights
    monkeypatch.setattr(zeops, "ze02_score_parts", counting)
    artifactio._MEMO.clear()
    got = sorted(
        (r.doc_id, r.y, int(r.m))
        for r in zeops.ze02_margins_artifact(spark, root).collect()
    )
    assert got == live and len(calls) == 1  # miss: scored + published

    artifactio._MEMO.clear()  # force the on-disk read path
    got = sorted(
        (r.doc_id, r.y, int(r.m))
        for r in zeops.ze02_margins_artifact(spark, root).collect()
    )
    assert got == live and len(calls) == 1  # hit: NO rescoring

    # margin dtype survives the round trip at full precision
    df = zeops.ze02_margins_artifact(spark, root)
    assert dict(df.dtypes)["m"] == "decimal(38,0)"

    p = os.path.join(root, "documents.parquet")
    st = os.stat(p)
    os.utime(p, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    zeops._FIT_MEMO.clear()
    artifactio._MEMO.clear()
    got = sorted(
        (r.doc_id, r.y, int(r.m))
        for r in zeops.ze02_margins_artifact(spark, root).collect()
    )
    assert got == live and len(calls) >= 2  # stale: rescored + republished
