"""yrlhf preference/eval ops: structural invariants beyond oracle parity."""

from __future__ import annotations

from pyspark.sql import functions as F

from spotify_tags_etl_spark.operators.yrlhf import (
    YV05_GROUP,
    YV07_MODELS,
    YV08_K,
    YV09_GROUP,
    yv09,
)


def test_yv05_pairs_are_strict_and_bounded(built):
    rows = built("yv05_preference_pairs").rows
    assert rows, "fixture must produce at least one preference pair"
    pids = [r.pid for r in rows]
    assert len(pids) == len(set(pids))
    for r in rows:
        assert 2 <= r.n_cands <= YV05_GROUP
        assert r.chosen_doc != r.rejected_doc
        assert r.margin == r.chosen_rating - r.rejected_rating > 0
        # chosen/rejected must come from the pid's own doc block
        assert r.chosen_doc // YV05_GROUP == r.pid
        assert r.rejected_doc // YV05_GROUP == r.pid


def test_yv06_kappa_identities(built):
    row = built("yv06_annotator_kappa").rows[0]
    assert 0 < row.agree <= row.n
    assert 0 <= row.po_ppm <= 1_000_000
    assert 0 <= row.pe_ppm <= 1_000_000
    # kappa and (po - pe) must agree in sign (both exact-truncated)
    if row.po_ppm > row.pe_ppm:
        assert row.kappa_ppm >= 0
    assert row.kappa_ppm <= 1_000_000


def test_yv07_matrix_is_complete_and_consistent(built):
    rows = built("yv07_winrate_matrix").rows
    assert len(rows) == YV07_MODELS * (YV07_MODELS - 1) // 2
    for r in rows:
        assert r.m_lo < r.m_hi
        assert r.wins_lo + r.wins_hi + r.draws == r.n_battles
        assert 0 <= r.winrate_lo_ppm <= 1_000_000
        # draw-adjusted rates of the two sides sum to ~1 (truncation slack 1 ppm)
        hi_ppm = (2 * r.wins_hi + r.draws) * 1_000_000 // (2 * r.n_battles)
        assert 999_998 <= r.winrate_lo_ppm + hi_ppm <= 1_000_000


def test_yv08_buckets_partition_problems(built):
    rows = built("yv08_pass_at_k").rows
    assert rows
    for r in rows:
        assert 0 <= r.bucket <= 10
        assert r.n_passing <= r.n_samples
        # every problem in a bucket has pass@5 inside the bucket's decile
        assert r.bucket * 100_000 <= r.mean_pass5_ppm
        assert r.mean_pass5_ppm < (r.bucket + 1) * 100_000 or r.bucket == 10
    # a problem with zero passing samples has pass@5 = 0 exactly -> bucket 0
    # exists in any realistically sized fixture (pass rate 1/5, n=20)
    assert any(r.bucket == 0 for r in rows)


def test_yv08_estimator_matches_closed_form(sf_dir, built):
    # recompute 1 - C(n-c,k)/C(n,k) in Python for every problem, re-bucket,
    # and compare the histogram exactly
    from math import comb

    import pyarrow.parquet as pq

    ids = pq.read_table(f"{sf_dir}/events.parquet", columns=["event_id"])[
        "event_id"
    ].to_pylist()
    import hashlib

    groups: dict[int, list[int]] = {}
    for eid in ids:
        h = int(hashlib.md5(f"p:{eid}".encode()).hexdigest()[:8], 16)
        groups.setdefault(eid // 20, []).append(1 if h % 5 == 0 else 0)
    hist: dict[int, int] = {}
    for samples in groups.values():
        n, c = len(samples), sum(samples)
        if n < YV08_K:
            continue
        nf = n - c
        ratio_ppm = comb(nf, YV08_K) * 1_000_000 // comb(n, YV08_K) if nf >= YV08_K else 0
        bucket = (1_000_000 - ratio_ppm) // 100_000
        hist[bucket] = hist.get(bucket, 0) + 1
    got = {r.bucket: r.n_problems for r in built("yv08_pass_at_k").rows}
    assert got == hist


def test_yv09_advantages_center_on_zero(built):
    rows = built("yv09_grpo_advantage").rows
    assert rows
    for r in rows:
        assert 1 <= r.n <= YV09_GROUP
        assert 0 <= r.n_pos < r.n
        # advantages sum to zero per group, so extremes straddle zero
        assert r.max_adv >= 0 >= r.min_adv
        if r.n > 1 and r.max_adv > 0:
            assert r.min_adv < 0
        assert r.best_event // YV09_GROUP == r.gid


def test_yv09_single_exchange(spark, sf_dir):
    plan = yv09(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    # the gid window and gid groupBy must reuse one hash exchange
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Exchange SinglePartition" not in plan.split("AdaptiveSparkPlan")[0]


def test_yv11_value_is_between_mean_and_max(built):
    from spotify_tags_etl_spark.operators.yrlhf import YV11_K

    rows = built("yv11_best_of_n_value").rows
    assert rows
    for r in rows:
        assert r.n >= YV11_K
        # E[best-of-4] sits between the mean and the max (truncation slack 1)
        assert r.mean_micro - 1 <= r.e_bo4_micro <= r.max_r * 1_000_000
        assert r.uplift_micro == r.e_bo4_micro - r.mean_micro
        assert r.uplift_micro >= -1


def test_yv11_matches_exhaustive_subsets(sf_dir, built):
    # brute-force E[max over all C(n,4) subsets] for a handful of groups
    from itertools import combinations

    import hashlib

    import pyarrow.parquet as pq


    ids = pq.read_table(f"{sf_dir}/events.parquet", columns=["event_id"])[
        "event_id"
    ].to_pylist()
    groups: dict[int, list[int]] = {}
    for eid in ids:
        h = int(hashlib.md5(f"v:{eid}".encode()).hexdigest()[:8], 16)
        groups.setdefault(eid // 16, []).append(h % 1000)
    got = {r.gid: r.e_bo4_micro for r in built("yv11_best_of_n_value").rows}
    checked = 0
    for gid, rewards in sorted(groups.items())[:5]:
        if len(rewards) < 4:
            continue
        total = num = 0
        for sub in combinations(rewards, 4):
            total += 1
            num += max(sub)
        assert got[gid] == num * 1_000_000 // total, gid
        checked += 1
    assert checked


def test_yv12_overconfidence_shows_in_every_populated_bin(built):
    rows = built("yv12_calibration_bins").rows
    assert len(rows) == 11
    assert sum(r.n for r in rows) > 0
    for r in rows:
        assert 0 <= r.n_correct <= r.n
        assert r.gap_ppm == r.conf_ppm - r.acc_ppm
    # P(correct)=conf^2 < conf: the aggregate gap must be firmly positive
    n = sum(r.n for r in rows)
    weighted_gap = sum(r.gap_ppm * r.n for r in rows) // n
    assert weighted_gap > 50_000


def test_yv13_counts_all_triads(built):
    from math import comb

    from spotify_tags_etl_spark.operators.yrlhf import YV07_MODELS

    row = built("yv13_preference_cycles").rows[0]
    assert row.n_triads == comb(YV07_MODELS, 3)
    assert 0 <= row.n_cyclic <= row.n_triads
    assert row.cyclic_ppm == row.n_cyclic * 1_000_000 // row.n_triads
