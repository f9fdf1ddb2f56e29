"""Round-10 additions: the zg compositions that close the
curation-to-training loop — curated packing manifest (zg01), curated
curriculum (zg02), and the gate threshold sweep (zg03) — pinned
against the component stages' own accounting."""

from __future__ import annotations

from collections import defaultdict

from spotify_tags_etl_spark.functions import artifactio
from tests.conftest import assert_loop_pins, build_record


# ---------------------------------------------------------------------------
# zg01 — curated pack mass conserves against zc06 and dominates zd04
# ---------------------------------------------------------------------------


def test_zg01_mass_conservation(built):
    rows = built("zg01_curated_pack_manifest").rows
    assert rows

    # Per band: kept + displaced telescopes to the FULL corpus band
    # mass, which zc06 reports independently (same tok/band arithmetic,
    # no curation) — docs and tokens both.
    full = {
        r.band_exp: (r.n_docs, r.doc_tokens)
        for r in built("zc06_pack_efficiency").rows
    }
    got = {
        r.band_exp: (r.n_kept + r.n_displaced, r.kept_tokens + r.displaced_tokens)
        for r in rows
    }
    assert got == full

    for r in rows:
        # first-drop attribution is exhaustive and mutually exclusive
        assert r.displaced_tokens == (
            r.disp_exact_tokens
            + r.disp_near_tokens
            + r.disp_sem_tokens
            + r.disp_contam_tokens
            + r.disp_offtarget_tokens
        )
        # window count is the exact ceil-div of the survivor count
        k = 4096 // (1 << r.band_exp)
        assert r.n_windows == (r.n_kept + k - 1) // k
        if r.n_windows:
            assert r.fill_ppm == r.kept_tokens * 1_000_000 // (r.n_windows * 4096)
        else:
            assert r.fill_ppm is None and r.kept_tokens == 0

    # The full-lineage displaced set contains zd04's (contamination is
    # one of the five stages, attribution order notwithstanding), so
    # per band zg01 displaces at least zd04's mass.
    zd04 = {
        r.band_exp: r.displaced_tokens
        for r in built("zd04_contamination_aware_packing").rows
    }
    for r in rows:
        assert r.displaced_tokens >= zd04.get(r.band_exp, 0)


def test_zg01_kept_matches_zf01(built):
    # Total survivor docs in the manifest == zf01's own keep count.
    rows = built("zg01_curated_pack_manifest").rows
    zf01_kept = sum(
        r.n_kept for r in built("zf01_curation_lineage").rows
    )
    assert sum(r.n_kept for r in rows) == zf01_kept


# ---------------------------------------------------------------------------
# zg02 — curated curriculum covers exactly the quota>0 survivors
# ---------------------------------------------------------------------------


def test_zg02_schedule_structure(spark, sf_dir, built):
    rows = built("zg02_curated_curriculum").rows
    assert rows

    # Survivor counts per source from zf01's report.
    zf01_by_source = {
        r.source: r.n_kept
        for r in built("zf01_curation_lineage").rows
    }

    per_source: dict[str, list] = defaultdict(list)
    for r in rows:
        per_source[r.source].append(r)

    # Scheduled sources are a subset of surviving sources (zero-quota
    # sources are excluded), and each scheduled source lists EVERY one
    # of its survivors exactly once (crank is 1..n_s).
    for source, rs in per_source.items():
        assert len(rs) == zf01_by_source[source]
        assert sorted(r.crank for r in rs) == list(range(1, len(rs) + 1))
        # block/slot arithmetic is consistent with ONE per-source quota
        # q_s: slot < q_s and crank-1 == block*q_s + slot; derive q_s
        # from any row past block 0.
        q_candidates = {
            (r.crank - 1 - r.slot) // r.block for r in rs if r.block > 0
        }
        if q_candidates:
            assert len(q_candidates) == 1
            q = q_candidates.pop()
            for r in rs:
                assert r.slot < q
                assert r.crank - 1 == r.block * q + r.slot
        else:  # all rows in block 0: slot == crank-1
            for r in rs:
                assert r.block == 0 and r.slot == r.crank - 1

    # Dropped sources are exactly those with zero quota — every source
    # absent from the schedule must have survivors and zero seats, or
    # no survivors at all; total scheduled mass is all other survivors.
    assert sum(len(rs) for rs in per_source.values()) == sum(
        zf01_by_source[s] for s in per_source
    )

    # Within a source lane, difficulty ramps with crank (n_chars asc).
    docs = dict(
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "n_chars")
        .collect()
    )
    for rs in per_source.values():
        ordered = sorted(rs, key=lambda r: r.crank)
        lens = [docs[r.doc_id] for r in ordered]
        assert lens == sorted(lens)


# ---------------------------------------------------------------------------
# zg03 — the sweep is monotone and consistent with the deployed gate
# ---------------------------------------------------------------------------


def test_zg03_sweep_monotonicity(built):
    rows = sorted(
        built("zg03_gate_threshold_sweep").rows, key=lambda r: r.k
    )
    assert [r.k for r in rows] == list(range(1, 10))

    n_docs = {r.n_docs for r in rows}
    assert len(n_docs) == 1  # every cut scores the same population

    for a, b in zip(rows, rows[1:]):
        assert b.thr >= a.thr  # edges rise with the decile
        assert b.n_kept <= a.n_kept  # raising the bar keeps fewer docs
        assert b.n_tgt_kept <= a.n_tgt_kept  # recall falls (weakly)
        if a.n_kept and b.n_kept:
            # equal-mass edge ranks: kept mass shrinks by about a
            # decile per step (exactly, modulo ties on the margin)
            assert b.n_kept < a.n_kept or a.thr == b.thr

    for r in rows:
        assert 0 <= r.n_tgt_kept <= r.n_kept <= r.n_docs
        assert r.kept_ppm == r.n_kept * 1_000_000 // r.n_docs
        assert r.acc_ppm == r.n_correct * 1_000_000 // r.n_docs


# ---------------------------------------------------------------------------
# zg04 — the datasheet telescopes against zf01 and ze02
# ---------------------------------------------------------------------------


def test_zg04_datasheet_consistency(built):
    rows = {r.source: r for r in built("zg04_corpus_datasheet").rows}
    assert rows

    # Curation column = zf01's per-source survivor census, verbatim.
    zf = {r.source: r for r in built("zf01_curation_lineage").rows}
    assert set(rows) == set(zf)
    for s, r in rows.items():
        assert r.n_docs == zf[s].n_docs
        assert r.cur_kept == zf[s].n_kept
        assert r.cur_ppm == zf[s].kept_ppm

    # Gate column = ze02's per-source keeps: unscoreable docs (no
    # bigram) cannot be kept by the gate, so widening the population
    # from ze02's classifiable docs to ALL docs changes n_docs but not
    # n_kept.
    ze = {r.source: r for r in built("ze02_classifier_gate").rows}
    for s, r in rows.items():
        assert r.gate_kept == ze[s].n_kept

    for r in rows.values():
        # the shipped intersection nests inside both selectors
        assert r.final_kept <= min(r.cur_kept, r.gate_kept)
        assert r.final_tokens <= r.tok_total
        assert r.final_ppm == r.final_kept * 1_000_000 // r.n_docs

    # The two selection systems are genuinely different selectors on
    # the fixture (different per-source yields) — the comparison is the
    # reason the table exists. (Strict per-source non-nesting is NOT
    # asserted: at sf0.001 the intersection happens to coincide with
    # the smaller selector in every source.)
    assert any(r.cur_kept != r.gate_kept for r in rows.values())


# ---------------------------------------------------------------------------
# zg05 — shard plan conserves the curated pack and deals windows evenly
# ---------------------------------------------------------------------------


def test_zg05_shard_conservation(built):
    rows = sorted(
        built("zg05_curated_shard_plan").rows, key=lambda r: r.shard
    )
    assert rows

    # Window and token totals telescope to zg01's curated manifest.
    zg01 = built("zg01_curated_pack_manifest").rows
    assert sum(r.n_windows for r in rows) == sum(r.n_windows for r in zg01)
    assert sum(r.shard_tokens for r in rows) == sum(r.kept_tokens for r in zg01)
    assert sum(r.n_docs for r in rows) == sum(r.n_kept for r in zg01)

    # Snake dealing: window counts per shard differ by at most 1, and
    # only the populated prefix/suffix of a partial lap is short.
    counts = [r.n_windows for r in rows]
    assert max(counts) - min(counts) <= 1

    # share_ppm is the exact integer share of the curated token mass
    total = sum(r.shard_tokens for r in rows)
    for r in rows:
        assert r.share_ppm == r.shard_tokens * 1_000_000 // total


# ---------------------------------------------------------------------------
# zg06/zg07 — rule census conserves mass; stream twin is layout-invariant
# ---------------------------------------------------------------------------


def test_zg06_rule_census_conserves(built):
    rows = built("zg06_quality_rule_census").rows
    assert rows
    for r in rows:
        assert (
            r.drop_short + r.drop_long + r.drop_rep + r.drop_stop + r.n_kept
            == r.n_docs
        )
        assert r.kept_ppm == r.n_kept * 1_000_000 // r.n_docs
    # every rule fires somewhere on the fixture (non-vacuous thresholds)
    for col in ("drop_short", "drop_long", "drop_rep", "drop_stop"):
        assert sum(getattr(r, col) for r in rows) > 0, col


def test_zg07_layout_invariant(spark, sf_dir, built, tmp_path_factory):
    """The census SUM-merge must produce the identical report whether
    the corpus arrives as 1 micro-batch or 3; both must equal batch
    zg06 exactly."""
    import os
    import time

    from spotify_tags_etl_spark.operators.zgops import streaming_quality_rules
    from spotify_tags_etl_spark.sources.tpch import load_table

    docs = load_table(spark, sf_dir, "documents")
    root = str(tmp_path_factory.mktemp("docs_rules_stream"))
    for i in range(3):
        p = os.path.join(root, f"part-{i}.parquet")
        docs.where(docs.doc_id % 3 == i).select(
            "source", "text"
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
    multi = [tuple(r) for r in streaming_quality_rules(spark, stream).collect()]
    single = [tuple(r) for r in built("zg07_stream_quality_rules").rows]
    batch = [tuple(r) for r in built("zg06_quality_rule_census").rows]
    assert multi == single == batch
    assert len(batch) > 0


# ---------------------------------------------------------------------------
# Loop-stage plan + scan pins for the zg band (cf. test_round9_additions)
# ---------------------------------------------------------------------------

import pytest

#: The zg consumers are pinned on the flags-artifact HIT path (the
#: steady state: the nightly funnel publishes, consumers read) — the
#: zf01:* live-funnel stage labels appear only on the publish path,
#: which zf01's own pins keep covering. Every consumer's scan set
#: shows PRUNED artifact reads (column pruning reaches the artifact
#: parquet), never a corpus re-scan.

#: ze01_feats' fingerprints (the one corpus-sized scoring pass every
#: fit consumer pays) — artifact-HIT path, cf. test_round9_additions.
_ZE_FEATS_PLANS = {
    "ze01:design_matrix": [{"exchanges": 1}],
    "ze01:feats": [{"exchanges": 1}],
}

_ZE_FEATS_SCANS = {
    "ze01:design_matrix": [["doc_id,lang,text"]],
    "ze01:feats": [[]],
}

ZG_EXPECTED_LOOP_PLANS = {
    # pruned artifact scan + ONE map-combined band agg (recorded
    # pre-aggregation: exchange-free)
    "zg01_curated_pack_manifest": {
        "zg01:band_reasons": [{}],
    },
    # survivor filter -> zc05's machinery: grouped_rank layout + the
    # checkpoint reused by quota rollup and schedule join
    "zg02_curated_curriculum": {
        "scalerank:layout": [{}],
        "zg02:source_rollup": [{"exchanges": 1}],
        "zg02:source_curriculum": [{"exchanges": 1}],
    },
    # r11: the sweep reads the PUBLISHED margins artifact (pruned
    # (doc_id, y, m) scan); scoring is the artifact publisher's cost
    "zg03_gate_threshold_sweep": {
        "zg03:margins": [{}],
        "scalerank:layout": [{}],
        "zg03:threshold_sweep": [{"exchanges": 1}],
    },
    # datasheet: artifact flags x margins-artifact read, ONE
    # per-source rollup (the margins join AQE-broadcasts)
    "zg04_corpus_datasheet": {
        "zg04:margins": [{}],
        "zg04:datasheet": [{"exchanges": 1}],
    },
    # two scalerank layouts: the per-band grouped_rank over survivors
    # and the O(#windows) global_rank
    "zg05_curated_shard_plan": {
        "scalerank:layout": [{}, {"exchanges": 2}],
        "zg05:banded_rank": [{"exchanges": 1}],
        "zg05:window_rollup": [{"exchanges": 2}],
        "zg05:shard_rollup": [{"exchanges": 2}],
    },
    # ONE global fold to a single 20-column row (bounded by
    # construction: O(stages^2) output), then stack() — no joins
    "zg08_stage_overlap": {
        "zg08:pair_sums": [{"single_partition": 1}],
    },
    # the whole grid in ONE global fold (30 indicator sums, 1 row)
    "zg09_rule_threshold_sweep": {
        "zg09:sweep_sums": [{"single_partition": 1}],
    },
    # two O(#sources) rollups -> driver-light broadcast quota
    # arithmetic; the SinglePartitions are the bounded #sources
    # remainder window + report sort
    "zg10_curation_mix_shift": {
        "zg10:full_rollup": [{"exchanges": 1}],
        "zg10:surv_rollup": [{"exchanges": 1}],
        "zg10:mix_shift": [{"single_partition": 2}],
    },
    # per-doc-local rules: ONE keyed exchange end to end
    "zg06_quality_rule_census": {
        "zg06:rule_census": [{"exchanges": 1}],
        "zg06:rule_report": [{"exchanges": 1}],
    },
    # close-time report reads only the checkpointed census
    "zg07_stream_quality_rules": {
        "zg07:rule_report": [{}],
    },
}

ZG_EXPECTED_SCANS = {
    "zg01_curated_pack_manifest": {
        # pushdown proof: the manifest reads exactly the flag columns
        # + n_chars from the artifact — no doc_id, no source
        "zg01:band_reasons": [["f_con,f_near,f_off,f_sem,n_chars,s_e"]],
    },
    "zg02_curated_curriculum": {
        "scalerank:layout": [["doc_id,f_con,f_near,f_off,f_sem,n_chars,s_e,source"]],
        "zg02:source_rollup": [[]],
        "zg02:source_curriculum": [[]],
    },
    "zg03_gate_threshold_sweep": {
        "zg03:margins": [["doc_id,m,y"]],
        "scalerank:layout": [["doc_id,m,y"]],
        "zg03:threshold_sweep": [["m,y"]],
    },
    "zg04_corpus_datasheet": {
        "zg04:margins": [["doc_id,m"]],
        "zg04:datasheet": [
            ["doc_id,f_con,f_near,f_off,f_sem,n_chars,s_e,source", "doc_id,m"]
        ],
    },
    "zg05_curated_shard_plan": {
        "scalerank:layout": [[], ["doc_id,f_con,f_near,f_off,f_sem,n_chars,s_e"]],
        "zg05:banded_rank": [[]],
        "zg05:window_rollup": [[]],
        "zg05:shard_rollup": [[]],
    },
    "zg06_quality_rule_census": {
        # r11: pruned 5-column artifact read — no text re-parse
        "zg06:rule_census": [["r_long,r_rep,r_short,r_stop,source"]],
        "zg06:rule_report": [["r_long,r_rep,r_short,r_stop,source"]],
    },
    "zg08_stage_overlap": {
        # pruned artifact read: the five flag columns only
        "zg08:pair_sums": [["f_con,f_near,f_off,f_sem,s_e"]],
    },
    "zg09_rule_threshold_sweep": {
        # pushdown proof: the sweep reads ONLY text (source pruned)
        "zg09:sweep_sums": [["text"]],
    },
    "zg10_curation_mix_shift": {
        "zg10:full_rollup": [["n_chars,source"]],
        "zg10:surv_rollup": [["f_con,f_near,f_off,f_sem,n_chars,s_e,source"]],
        "zg10:mix_shift": [[]],
    },
    "zg07_stream_quality_rules": {
        "zg07:rule_report": [[]],
    },
}


@pytest.mark.parametrize("name", sorted(ZG_EXPECTED_LOOP_PLANS))
def test_zg_loop_stage_pins(spark, sf_dir, name):
    from spotify_tags_etl_spark.operators.zeops import ze01_fit_artifact, ze02_margins_artifact
    from spotify_tags_etl_spark.operators.zfops import zf01_flags_artifact

    # consumers are pinned on the artifact-HIT path for BOTH artifacts
    # (the steady state a production pipeline runs in) — cf.
    # test_ze_loop_stage_pins; publish first so a cold warehouse cannot
    # flip these pins to the miss path
    ze01_fit_artifact(spark, sf_dir)
    zf01_flags_artifact(spark, sf_dir).count()
    ze02_margins_artifact(spark, sf_dir).count()
    rec = build_record(spark, sf_dir, name)
    assert_loop_pins(rec, ZG_EXPECTED_LOOP_PLANS[name], ZG_EXPECTED_SCANS[name])


def test_zf01_flags_artifact_staleness(spark, sf_dir, tmp_path, monkeypatch):
    """The lineage-artifact primitive (ze01_fit_artifact's discipline
    on the data plane): (a) first use computes the live funnel and
    publishes, (b) repeat reads serve from the artifact with NO
    recompute, (c) an input-file change reads as stale and recomputes,
    and (d) the artifact is bit-identical to the live flags."""
    import os
    import shutil

    from spotify_tags_etl_spark.operators import zfops

    root = str(tmp_path)
    for t in ("documents", "embeddings"):
        shutil.copy(
            os.path.join(sf_dir, f"{t}.parquet"),
            os.path.join(root, f"{t}.parquet"),
        )
    live = sorted(
        tuple(r)
        for r in zfops.zf01_flags(
            spark, root, extra_cols=("n_chars",), with_rules=True
        ).collect()
    )

    calls: list[str] = []
    real = zfops.zf01_flags_from_partials

    def counting(spark_, doc_dirs, emb_dirs):
        calls.append(doc_dirs)
        return real(spark_, doc_dirs, emb_dirs)

    # v3: the miss path assembles from partition-granular partials
    monkeypatch.setattr(zfops, "zf01_flags_from_partials", counting)

    artifactio._MEMO.clear()
    got = sorted(
        tuple(r) for r in zfops.zf01_flags_artifact(spark, root).collect()
    )
    assert got == live  # miss: compute + publish, bit-identical
    assert len(calls) == 1
    assert os.path.exists(
        os.path.join(
            artifactio.artifact_dir("zf01_flags", zfops._flags_key(root)), "meta.json"
        )
    )

    artifactio._MEMO.clear()  # force the on-disk (not memo) read path
    got = sorted(
        tuple(r) for r in zfops.zf01_flags_artifact(spark, root).collect()
    )
    assert got == live and len(calls) == 1  # hit: NO recompute

    p = os.path.join(root, "embeddings.parquet")
    st = os.stat(p)
    os.utime(p, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    artifactio._MEMO.clear()
    got = sorted(
        tuple(r) for r in zfops.zf01_flags_artifact(spark, root).collect()
    )
    assert got == live and len(calls) == 2  # stale: recompute + republish


# ---------------------------------------------------------------------------
# zg08 — overlap matrix is consistent with the first-fail lineage
# ---------------------------------------------------------------------------


def test_zg08_overlap_consistency(built):
    rows = {
        (r.stage_a, r.stage_b): r
        for r in built("zg08_stage_overlap").rows
    }
    stages = ["exact", "near", "sem", "con", "off"]
    assert set(rows) == {
        (a, b) for i, a in enumerate(stages) for b in stages[i:]
    }

    # Diagonal = unconditional per-stage counts; intersections nest.
    for (a, b), r in rows.items():
        if a == b:
            assert r.n_a == r.n_b == r.n_both
            if r.n_a:
                assert r.jaccard_ppm == 1_000_000
        else:
            assert r.n_both <= min(r.n_a, r.n_b)
            union = r.n_a + r.n_b - r.n_both
            assert r.jaccard_ppm == (
                r.n_both * 1_000_000 // union if union else None
            )

    zf = built("zf01_curation_lineage").rows
    # The funnel's FIRST stage: unconditional == first-fail, exactly.
    assert rows[("exact", "exact")].n_a == sum(r.drop_exact for r in zf)
    # Later stages: unconditional verdicts dominate first-fail counts.
    assert rows[("near", "near")].n_a >= sum(r.drop_near for r in zf)
    assert rows[("sem", "sem")].n_a >= sum(r.drop_sem for r in zf)
    assert rows[("con", "con")].n_a >= sum(r.drop_contam for r in zf)
    assert rows[("off", "off")].n_a >= sum(r.drop_offtarget for r in zf)


# ---------------------------------------------------------------------------
# zg09 — the rule sweep is monotone and anchors to zg06's deployment
# ---------------------------------------------------------------------------


def test_zg09_sweep_monotone_and_anchored(built):
    from spotify_tags_etl_spark.operators.zgops import ZG06_REP_PPM

    rows = sorted(
        built("zg09_rule_threshold_sweep").rows,
        key=lambda r: r.thr_ppm,
    )
    assert len(rows) == 9
    for r in rows:
        assert (
            r.drop_short + r.drop_long + r.drop_rep + r.drop_stop + r.n_kept
            == r.n_docs
        )
        assert r.kept_ppm == r.n_kept * 1_000_000 // r.n_docs
    for a, b in zip(rows, rows[1:]):
        # raising the repetition bar frees docs DOWNSTREAM: rep drops
        # fall, stop drops and keeps (weakly) absorb them
        assert b.drop_rep <= a.drop_rep
        assert b.drop_stop >= a.drop_stop
        assert b.n_kept >= a.n_kept
        assert b.drop_short == a.drop_short and b.drop_long == a.drop_long

    # the deployed-threshold row IS zg06's census, totalled
    zg06 = built("zg06_quality_rule_census").rows
    at = {r.thr_ppm: r for r in rows}[ZG06_REP_PPM]
    for col in ("n_docs", "drop_short", "drop_long", "drop_rep", "drop_stop", "n_kept"):
        assert getattr(at, col) == sum(getattr(r, col) for r in zg06), col


# ---------------------------------------------------------------------------
# zg10 — both quota columns are exact Hamilton apportionments
# ---------------------------------------------------------------------------


def test_zg10_mix_shift_consistency(built):
    from spotify_tags_etl_spark.operators.ytrain import YV01_BLOCK

    rows = {r.source: r for r in built("zg10_curation_mix_shift").rows}
    assert rows

    # Hamilton exactness: both sides apportion the full block.
    assert sum(r.quota_full for r in rows.values()) == YV01_BLOCK
    assert sum(r.quota_surv for r in rows.values()) == YV01_BLOCK
    assert sum(r.dquota for r in rows.values()) == 0

    # The full-corpus side is yv01's own mixing schedule, verbatim.
    yv01 = {r.source: r for r in built("yv01_mixing_schedule").rows}
    assert set(rows) == set(yv01)
    for s, r in rows.items():
        assert (r.n_docs_full, r.chars_full, r.quota_full) == (
            yv01[s].n_docs,
            yv01[s].chars,
            yv01[s].quota,
        )
        assert r.n_docs_surv <= r.n_docs_full
        assert r.chars_surv <= r.chars_full
        assert r.dquota == r.quota_surv - r.quota_full

    # The survivor side covers exactly zf01's keeps.
    zf = {r.source: r.n_kept for r in built("zf01_curation_lineage").rows}
    for s, r in rows.items():
        assert r.n_docs_surv == zf.get(s, 0)

    # Curation genuinely moves seats somewhere on the fixture.
    assert any(r.dquota != 0 for r in rows.values())


def test_zg07_degenerate_docs_stream(spark, sf_dir, tmp_path_factory):
    """Planted degenerate docs — 1-token, all-stopword, and empty-string
    text — in their OWN micro-batch: the rule census must classify them
    (r_short fires: split('') yields one empty token, nw=1) and the
    stream must still equal the batch census on the augmented corpus."""
    import os
    import time

    import pandas as pd

    from spotify_tags_etl_spark.operators.zgops import (
        streaming_quality_rules,
        zg06_census_partial,
        _zg06_finish,
    )
    from spotify_tags_etl_spark.sources.tpch import load_table

    docs = load_table(spark, sf_dir, "documents").select("source", "text")
    root = str(tmp_path_factory.mktemp("docs_rules_degenerate"))
    docs.toPandas().to_parquet(os.path.join(root, "part-0.parquet"), index=False)
    weird = pd.DataFrame(
        {
            "source": ["srcX", "srcX", "srcX"],
            "text": ["x", "the", ""],
        }
    )
    weird.to_parquet(os.path.join(root, "part-1.parquet"), index=False)
    now = time.time()
    os.utime(os.path.join(root, "part-0.parquet"), (now, now))
    os.utime(os.path.join(root, "part-1.parquet"), (now + 1, now + 1))

    schema = spark.read.parquet(root).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(root)
    )
    streamed = [
        tuple(r) for r in streaming_quality_rules(spark, stream).collect()
    ]
    batch = [
        tuple(r)
        for r in _zg06_finish(
            zg06_census_partial(spark.read.parquet(root))
        ).collect()
    ]
    assert streamed == batch
    srcx = [r for r in streamed if r[0] == "srcX"]
    assert len(srcx) == 1
    # all three degenerate docs fail the too-short rule first
    assert srcx[0][1] == 3 and srcx[0][2] == 3 and srcx[0][6] == 0
