"""Structural invariants for the late round-6 ops (yv10, yv14–yv23).

Oracle parity at sf0.001 is covered by test_oracle_parity.py's registry
parametrization; these pin the algorithmic claims the docstrings make.
"""

from __future__ import annotations

import re

from spotify_tags_etl_spark.operators.ycuration import YV15_BLOCKLIST
from spotify_tags_etl_spark.operators.yrlhf import YV14_CLASSES
from spotify_tags_etl_spark.operators.ytrain import YV10_ROUNDS
from spotify_tags_etl_spark.sources.tpch import load_table

_SYM = re.compile(r"^[a-z]+$")


def test_yv10_merge_table_shape(built):
    rows = built("yv10_bpe_merge_rounds").rows
    assert [r.round for r in rows] == list(range(1, YV10_ROUNDS + 1))
    # symbols are alphabetic concatenations (the injection-safety invariant
    # the literal-embedding merge fold relies on)
    for r in rows:
        assert _SYM.match(r.pa) and _SYM.match(r.pb)
        assert r.pair_count > 0
    # the selected pair count never increases round-over-round: merging
    # (a,b) -> ab only shrinks existing pair counts, and any NEW pair
    # (x,ab)/(ab,y) inherits at most the replaced pair's count
    counts = [r.pair_count for r in rows]
    assert counts == sorted(counts, reverse=True)
    # later rules may reference merged symbols; round 1 must be two chars
    assert len(rows[0].pa) == 1 and len(rows[0].pb) == 1


def test_yv14_consensus_partitions_items(spark, sf_dir, built):
    rows = built("yv14_label_majority").rows
    n_events = load_table(spark, sf_dir, "events").count()
    assert sum(r.n_items for r in rows) == n_events
    for r in rows:
        assert 0 <= r.winner < YV14_CLASSES
        assert 0 <= r.n_majority <= r.n_items
        assert r.majority_ppm == r.n_majority * 1_000_000 // r.n_items


def test_yv15_gate_decision_is_consistent(spark, sf_dir, built):
    rows = built("yv15_domain_quality_gate").rows
    docs = load_table(spark, sf_dir, "documents")
    assert sum(r.n_docs for r in rows) == docs.count()
    blocked = {r.source for r in rows if r.blocklisted}
    assert blocked == set(YV15_BLOCKLIST)
    for r in rows:
        assert 0 < r.mean_ttr_pm <= 1000
        assert r.keep == int(not r.blocklisted and not r.low_quality)


def test_yv16_estimator_invariants(spark, sf_dir, built):
    from spotify_tags_etl_spark.operators.yrlhf import YV16_POLICIES

    rows = built("yv16_ips_offpolicy").rows
    n_events = load_table(spark, sf_dir, "events").count()
    assert [r.policy for r in rows] == list(range(YV16_POLICIES))
    for r in rows:
        assert r.n == n_events
        # Cauchy-Schwarz: S1^2 <= n*S2, so the ESS ratio is a true ratio
        assert 0 < r.ess_ppm <= 1_000_000
        # SNIPS is a weighted mean of binary rewards
        assert 0 <= r.snips_ppm <= 1_000_000
        # IPS of a binary reward with weights <= 9000 permille
        assert 0 <= r.ips_ppm <= 9_000_000


def test_yv17_matches_pure_python_recompute(spark, sf_dir, built):
    """Full closed-form recompute of Fleiss' kappa from the same md5
    vote synthesis — integer-exact, including the documented
    ppm-rounded kappa derivation."""
    import hashlib
    from collections import Counter

    from spotify_tags_etl_spark.operators.yrlhf import _YV17_C, _YV17_M

    ids = [r.event_id for r in load_table(spark, sf_dir, "events").select("event_id").collect()]
    per_unit: dict[int, Counter] = {}
    for eid in ids:
        c = Counter(
            int(hashlib.md5(f"f{i}:{eid}".encode()).hexdigest()[:8], 16) % _YV17_C
            for i in range(_YV17_M)
        )
        per_unit[eid] = c
    n = len(ids)
    nm = n * _YV17_M
    sa = sum(v * v for c in per_unit.values() for v in c.values())
    t = Counter()
    for c in per_unit.values():
        t.update(c)
    st2 = sum(v * v for v in t.values())
    po_ppm = (sa - nm) * 1_000_000 // (nm * (_YV17_M - 1))
    pe_ppm = st2 * 1_000_000 // (nm * nm)
    num = (po_ppm - pe_ppm) * 1_000_000
    den = 1_000_000 - pe_ppm
    kappa_ppm = -(-num // den) if (num < 0) != (den < 0) else num // den  # trunc toward 0
    row = built("yv17_fleiss_kappa").rows[0]
    assert (row.n_items, row.po_ppm, row.pe_ppm, row.kappa_ppm) == (
        n,
        po_ppm,
        pe_ppm,
        kappa_ppm,
    )


def test_yv18_waterfill_optimality(built):
    """The allocation is feasible, exhausts the budget up to the
    documented integer remainder, and the level is maximal (funding one
    more domain would overshoot)."""
    from spotify_tags_etl_spark.operators.ytrain import _YV18_BDEN, _YV18_BNUM

    rows = built("yv18_token_waterfill").rows
    total = sum(r.tokens for r in rows)
    budget = total * _YV18_BNUM // _YV18_BDEN
    alloc = sum(r.alloc for r in rows)
    capped = [r for r in rows if r.capped]
    uncapped = [r for r in rows if not r.capped]
    level = rows[0].level
    assert capped, "fixture must exercise the capped branch"
    assert uncapped, "fixture must exercise the fully-funded branch"
    # feasible, and the leftover is smaller than one more unit per capped
    # domain (the exact integer-waterfill remainder bound)
    assert alloc <= budget < alloc + len(capped) + 1
    for r in uncapped:
        assert r.alloc == r.tokens <= level
    for r in capped:
        assert r.alloc == level < r.tokens  # maximality: next domain overshoots


def test_yv19_ci_brackets_the_point_estimate(built):
    from spotify_tags_etl_spark.operators.yrlhf import _YV19_REPS

    rows = {r.policy: r for r in built("yv19_snips_bootstrap_ci").rows}
    point = {r.policy: r.snips_ppm for r in built("yv16_ips_offpolicy").rows}
    assert set(rows) == set(point)
    for p, r in rows.items():
        assert r.n_reps == _YV19_REPS  # no replicate degenerated to 0-mass
        assert r.lo_ppm <= r.med_ppm <= r.hi_ppm
        # same estimator, same frame: yv19's point column IS yv16's snips
        assert r.snips_ppm == point[p]
        # a paired Poisson(1) bootstrap at these n keeps the point inside
        assert r.lo_ppm <= r.snips_ppm <= r.hi_ppm


def test_waterfill_matches_bruteforce_on_random_frames(spark):
    """Property: the analytic waterfill equals brute-force search for
    the max feasible level on arbitrary domain frames (hypothesis would
    re-run Spark per example — too slow — so this drives a seeded batch
    of random frames through ONE parametrized run each)."""
    import random

    from spotify_tags_etl_spark.operators.ytrain import waterfill

    rng = random.Random(0xA5A5)
    for case in range(12):
        d = rng.randint(1, 9)
        toks = [rng.randint(1, 40) for _ in range(d)]
        bnum, bden = rng.choice([(1, 2), (1, 3), (3, 4), (9, 10)])
        budget = sum(toks) * bnum // bden
        dom = spark.createDataFrame(
            [(f"s{i}", t) for i, t in enumerate(toks)], "source string, tok long"
        )
        got = {r.source: r for r in waterfill(dom, bnum, bden).collect()}
        # brute force: max t with sum(min(tok, t)) <= budget
        best_t = max(t for t in range(max(toks) + 1) if sum(min(x, t) for x in toks) <= budget)
        got_total = sum(r.alloc for r in got.values())
        brute_total = sum(min(x, best_t) for x in toks)
        # never exceeds budget, and is at least as good as the best
        # uniform level (the analytic split can only add exactness)
        assert brute_total <= got_total <= budget, (case, toks, bnum, bden)
        # uncapped domains get exactly their demand; capped domains all
        # sit at one common level no higher than their demand
        levels = {r.alloc for r in got.values() if r.capped}
        assert len(levels) <= 1, (case, toks)
        for i, t in enumerate(toks):
            r = got[f"s{i}"]
            assert r.tokens == t
            assert (r.alloc == t) if not r.capped else (r.alloc <= t)


def test_yv20_matches_pure_python_fixed_point(built):
    """Recompute the whole S-curve scoring in pure Python with the same
    ppm-truncating squaring spec; the engine table must match exactly."""
    from spotify_tags_etl_spark.operators.dedup import (
        _YV20_BS,
        _YV20_RS,
        _YV20_SMAX,
        _YV20_SMIN,
        _YV20_STEP,
        _YV20_TAU,
        yv20,
    )

    def sq(x):
        return (x * x) // 1_000_000

    def powk(x, k):  # k is a power of two
        while k > 1:
            x = sq(x)
            k //= 2
        return x

    exp = {}
    for r in _YV20_RS:
        for b in _YV20_BS:
            fp_area = fn_area = 0
            for s_pm in range(_YV20_SMIN, _YV20_SMAX + 1, _YV20_STEP):
                a = powk(s_pm * 1000, r)
                p = 1_000_000 - powk(1_000_000 - a, b)
                if s_pm < _YV20_TAU:
                    fp_area += p
                else:
                    fn_area += 1_000_000 - p
            exp[(r, b)] = (fp_area, fn_area)
    got = built("yv20_lsh_parameter_plan").rows
    assert len(got) == len(exp)
    for row in got:
        fp_area, fn_area = exp[(row.r, row.b)]
        assert (row.fp_area, row.fn_area) == (fp_area, fn_area), (row.r, row.b)
    # ranks are a total order 1..N and rank 1 minimizes total error
    ranks = sorted(r.rank for r in got)
    assert ranks == list(range(1, len(got) + 1))
    best = min(got, key=lambda r: (r.total_err, r.n_hashes, r.r))
    assert next(r for r in got if r.rank == 1) == best


def test_yv21_matches_pure_python_recompute(spark, sf_dir, built):
    """Full recompute of every threshold's confusion counts from the
    same md5 synthesis — and the structural PR-curve monotonicities."""
    import hashlib

    from spotify_tags_etl_spark.operators.ycuration import (
        _YV21_CUT,
        _YV21_SIG,
        _YV21_TS,
        yv21,
    )

    ids = [r.doc_id for r in load_table(spark, sf_dir, "documents").select("doc_id").collect()]

    def h(tag, x):
        return int(hashlib.md5(f"{tag}:{x}".encode()).hexdigest()[:8], 16)

    exp = {t: [0, 0, 0] for t in _YV21_TS}
    for d in ids:
        score = h("q", d) % 1000
        label = (score * _YV21_SIG + (h("n", d) % 1000) * (1000 - _YV21_SIG)) // 1000 >= _YV21_CUT
        for t in _YV21_TS:
            if score >= t and label:
                exp[t][0] += 1
            elif score >= t:
                exp[t][1] += 1
            elif label:
                exp[t][2] += 1
    rows = built("yv21_pr_threshold_sweep").rows
    assert [r.threshold_pm for r in rows] == list(_YV21_TS)
    for r in rows:
        tp, fp, fn = exp[r.threshold_pm]
        assert (r.tp, r.fp, r.fn) == (tp, fp, fn)
        assert r.precision_ppm == tp * 1_000_000 // (tp + fp)
        assert r.recall_ppm == tp * 1_000_000 // (tp + fn)
        assert r.f1_ppm == 2 * tp * 1_000_000 // (2 * tp + fp + fn)
    # raising the threshold can only drop predictions: tp and recall
    # are nonincreasing in t (precision need not be monotone)
    tps = [r.tp for r in rows]
    recs = [r.recall_ppm for r in rows]
    assert tps == sorted(tps, reverse=True)
    assert recs == sorted(recs, reverse=True)


def test_yv22_matches_pure_python_recompute(spark, sf_dir, built):
    import hashlib

    from spotify_tags_etl_spark.operators.ycuration import _YV22_MOD

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "text").collect()

    def h(tag, x):
        return int(hashlib.md5(f"{tag}:{x}".encode()).hexdigest()[:8], 16)

    train_vocab, test_docs = set(), []
    for r in docs:
        toks = r.text.split(" ")
        grams = {f"{toks[i]} {toks[i + 1]}" for i in range(len(toks) - 1)} if len(toks) >= 2 else set()
        if h("sp", r.doc_id) % _YV22_MOD == 0:
            test_docs.append((r.lang, grams))
        else:
            train_vocab |= grams
    exp: dict[str, list[int]] = {}
    for lang, grams in test_docs:
        n, c = exp.setdefault(lang, [0, 0])
        exp[lang][0] += len(grams)
        exp[lang][1] += sum(1 for g in grams if g in train_vocab)
    got = built("yv22_bigram_coverage").rows
    assert {r.lang for r in got} == set(exp)
    for r in got:
        n, c = exp[r.lang]
        assert (r.n_bigrams, r.n_covered) == (n, c), r.lang
        assert r.covered_ppm == c * 1_000_000 // n


def test_yv23_report_is_consistent_with_its_components(built):
    rep = {r.metric: r.value for r in built("yv23_rlhf_eval_report").rows}
    pol = built("yv16_ips_offpolicy").rows
    best = max(pol, key=lambda r: (r.snips_ppm, -r.policy))
    assert rep["best_policy"] == best.policy
    assert rep["best_policy_snips_ppm"] == best.snips_ppm
    assert rep["min_ess_ppm"] == min(r.ess_ppm for r in pol)
    assert rep["fleiss_kappa_ppm"] == built("yv17_fleiss_kappa").rows[0].kappa_ppm
    rows = built("yv14_label_majority").rows
    assert rep["label_majority_ppm"] == sum(r.n_majority for r in rows) * 1_000_000 // sum(
        r.n_items for r in rows
    )
