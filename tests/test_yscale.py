"""operators/yscale.py — the round-5 scale-machinery family.

Pins the semantic identities the oracles alone can't state:
* ys01's closed-form skyline == the literal O(n^2) NOT-EXISTS strict-
  dominance definition (the range-frame + partition-offset construction
  must not drop or invent frontier points, at several partition counts);
* yd02's KS statistic == a pure-Python exact recomputation;
* yz01's packing conserves bytes and emits contiguous bins;
* yu01 is layout-invariant (same sample whatever the partitioning).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from spotify_tags_etl_spark.operators.yscale import (
    YD02_A,
    YD02_B,
    YU01_K,
    YZ01_TARGET,
    yd02,
    ys01,
    yu01,
    yz01,
)
from spotify_tags_etl_spark.sources.tpch import load_table


def _brute_frontier(pts: list[tuple[int, int, int]]) -> set[int]:
    keep = set()
    for k, c, d in pts:
        if not any(cj > c and dj > d for _, cj, dj in pts):
            keep.add(k)
    return keep


def test_ys01_matches_brute_force_strict_dominance(spark, sf_dir, built):
    got = {r.o_orderkey for r in built("ys01_pareto_frontier").rows}
    pts = [
        (r.o_orderkey, r.cents, r.day)
        for r in load_table(spark, sf_dir, "orders")
        .select(
            "o_orderkey",
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
            F.expr("unix_micros(o_orderdate) DIV 86400000000").alias("day"),
        )
        .collect()
    ]
    assert got == _brute_frontier(pts)


@pytest.mark.parametrize("num_partitions", [1, 3])
def test_ys01_construction_partition_invariant(spark, sf_dir, num_partitions):
    """The range-frame + offset construction at other partition counts
    (exercised inline — the operator itself uses the session default)."""
    from pyspark.sql import Window

    from spotify_tags_etl_spark.operators.scalerank import _pid_map, _range_layout

    pts = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        F.expr("unix_micros(o_orderdate) DIV 86400000000").alias("day"),
    )
    ranged, _ = _range_layout(pts, [F.col("cents").desc()], num_partitions)
    part_max = {
        r["_pid"]: r["m"]
        for r in ranged.groupBy("_pid").agg(F.max("day").alias("m")).collect()
    }
    offsets: dict[int, int | None] = {}
    acc = None
    for pid in sorted(part_max):
        offsets[pid] = acc
        v = part_max[pid]
        if v is not None:
            acc = v if acc is None else max(acc, v)
    w = (
        Window.partitionBy("_pid")
        .orderBy(F.col("cents").desc())
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    dmax = F.greatest(F.max("day").over(w), _pid_map(offsets))
    got = {
        r.o_orderkey
        for r in ranged.withColumn("dmax", dmax)
        .where(F.col("dmax").isNull() | (F.col("day") >= F.col("dmax")))
        .collect()
    }
    brute = _brute_frontier([(r.o_orderkey, r.cents, r.day) for r in pts.collect()])
    assert got == brute


def test_yd02_matches_python_exact_ks(spark, sf_dir, built):
    row = built("yd02_ks_two_sample").rows[0]
    ev = (
        load_table(spark, sf_dir, "events")
        .where(F.col("event_type").isin(YD02_A, YD02_B) & F.col("value").isNotNull())
        .select("event_type", F.round(F.col("value") * 100).cast("bigint").alias("c"))
        .collect()
    )
    a = sorted(r.c for r in ev if r.event_type == YD02_A)
    b = sorted(r.c for r in ev if r.event_type == YD02_B)
    n, m = len(a), len(b)
    assert (row.n_a, row.n_b) == (n, m)
    best = 0
    for x in sorted(set(a) | set(b)):
        i = sum(1 for v in a if v <= x)
        j = sum(1 for v in b if v <= x)
        best = max(best, abs(i * m - j * n))
    assert row.ks_ppm == best * 1_000_000 // (n * m)


def test_yz01_conserves_bytes_and_bins_are_contiguous(spark, sf_dir, built):
    rows = built("yz01_compaction_planner").rows
    total = (
        load_table(spark, sf_dir, "documents").agg(F.sum("n_chars")).collect()[0][0]
    )
    assert sum(r.bytes for r in rows) == total
    bins = sorted(r.bin for r in rows)
    assert bins == list(range(len(bins)))  # first-fit never skips a bin
    # every bin except possibly the last starts full-or-overflowing
    for r in rows:
        assert r.fill_ppm == r.bytes * 1_000_000 // YZ01_TARGET


def test_yu01_layout_invariant_and_capped(spark, sf_dir):
    base = yu01(spark, sf_dir)
    got = {(r.doc_id, r.source, r.rk) for r in base.collect()}
    # identical sample from a deliberately different input layout
    from spotify_tags_etl_spark.operators.yscale import YU01_K as K
    docs = load_table(spark, sf_dir, "documents").repartition(7, "doc_id")
    from pyspark.sql import Window

    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    alt = {
        (r.doc_id, r.source, r.rk)
        for r in docs.select("doc_id", "source")
        .withColumn("rk", F.row_number().over(w).cast("bigint"))
        .where(F.col("rk") <= K)
        .collect()
    }
    assert got == alt
    per_source: dict[str, int] = {}
    for _, s, rk in got:
        assert 1 <= rk <= YU01_K
        per_source[s] = per_source.get(s, 0) + 1
    sizes = {
        r.source: r.n
        for r in load_table(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    for s, n in per_source.items():
        assert n == min(YU01_K, sizes[s])


def _executed_plan(df) -> str:
    df.write.format("noop").mode("overwrite").save()
    return df._jdf.queryExecution().executedPlan().toString()


def test_yscale_plans_have_no_global_order_window(spark, sf_dir):
    """yd02/yz01 ride prefix_sum; ys01 rides the range-frame offset
    construction — none may realize a partition-spec-free Window."""
    from tests.test_scale_ranking import _global_order_windows

    for build in (yd02, yz01, ys01):
        plan = _executed_plan(build(spark, sf_dir))
        assert not _global_order_windows(plan), (build.__name__, plan)
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


# ---------------------------------------------------------------------------
# batch 2: yc01 / yf01 / yg02 / ym01
# ---------------------------------------------------------------------------


def test_yc01_chunks_cover_tokens_exactly(spark, sf_dir, built):
    from spotify_tags_etl_spark.operators.yscale import YC01_SIZE, YC01_STRIDE, yc01

    chunks = built("yc01_chunk_documents").rows
    docs = {
        r.doc_id: [t for t in r.text.lower().split() if t]
        for r in load_table(spark, sf_dir, "documents").collect()
    }
    by_doc: dict[int, list] = {}
    for r in chunks:
        by_doc.setdefault(r.doc_id, []).append(r)
    for doc_id, toks in docs.items():
        rows = sorted(by_doc.get(doc_id, []), key=lambda r: r.chunk_idx)
        n = len(toks)
        assert len(rows) == (n - 1) // YC01_STRIDE + 1
        for r in rows:
            start = r.chunk_idx * YC01_STRIDE
            want = toks[start : start + YC01_SIZE]
            assert r.n_tokens == len(want)
            import hashlib

            assert r.chunk_hash == hashlib.md5(" ".join(want).encode()).hexdigest()


def test_yf01_matches_python_recount(spark, sf_dir, built):
    from spotify_tags_etl_spark.operators.yscale import yf01

    got = {
        r.doc_id: (r.n_grams, r.n_distinct, r.rep_ppm)
        for r in built("yf01_repetition_score").rows
    }
    for r in load_table(spark, sf_dir, "documents").collect():
        toks = r.text.split(" ")
        if len(toks) < 3:
            assert r.doc_id not in got
            continue
        grams = [" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)]
        T, D = len(grams), len(set(grams))
        assert got[r.doc_id] == (T, D, 1_000_000 * (T - D) // T)


def test_yg02_matches_python_midrank_u(spark, sf_dir, built):
    from spotify_tags_etl_spark.operators.yscale import YD02_A, YD02_B, yg02

    row = built("yg02_rank_sum_test").rows[0]
    ev = (
        load_table(spark, sf_dir, "events")
        .where(F.col("event_type").isin(YD02_A, YD02_B) & F.col("value").isNotNull())
        .select("event_type", F.round(F.col("value") * 100).cast("bigint").alias("c"))
        .collect()
    )
    a = [r.c for r in ev if r.event_type == YD02_A]
    b = [r.c for r in ev if r.event_type == YD02_B]
    merged = sorted(a + b)
    # doubled midrank of value v = 2*min_rank + (ties-1) + ... : compute
    # 2*R1 directly as sum over a of (2*rank_lo(v) + cnt(v) + 1)
    import collections

    cnt = collections.Counter(merged)
    lo = {}
    run = 0
    for v in sorted(cnt):
        lo[v] = run
        run += cnt[v]
    two_r1 = sum(2 * lo[v] + cnt[v] + 1 for v in a)
    n, m = len(a), len(b)
    two_u = two_r1 - n * (n + 1)
    assert (row.n_a, row.n_b) == (n, m)
    assert row.two_u == str(two_u)
    assert row.auc_ppm == two_u * 1_000_000 // (2 * n * m)


def test_ym01_matches_python_scan(spark, sf_dir, built):
    from spotify_tags_etl_spark.operators.yscale import YM01_PATTERN, ym01

    got = {r.user_id: r.n_matches for r in built("ym01_sequence_pattern_match").rows}
    rows = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    ).collect()
    seqs: dict[int, list] = {}
    for r in rows:
        seqs.setdefault(r.user_id, []).append((r.ts, r.event_id, r.event_type))
    for uid, evs in seqs.items():
        seq = ",".join(t for _, _, t in sorted(evs, key=lambda x: (x[0], x[1])))
        want = (len(seq) - len(seq.replace(YM01_PATTERN, ""))) // len(YM01_PATTERN)
        assert got[uid] == want, uid


def test_batch2_plans_clean(spark, sf_dir):
    from spotify_tags_etl_spark.operators.yscale import yc01, yf01, yg02, yl01, ym01
    from tests.test_scale_ranking import _global_order_windows

    for build in (yc01, yf01, yg02, yl01, ym01):
        plan = _executed_plan(build(spark, sf_dir))
        assert not _global_order_windows(plan), (build.__name__, plan)
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


# ---------------------------------------------------------------------------
# batch 3: ye01 / yn02
# ---------------------------------------------------------------------------


def test_ye01_matches_numpy_matmul(spark, sf_dir, built):
    import hashlib
    import math

    from spotify_tags_etl_spark.operators.yscale import YE01_D_OUT, ye01

    got = {(r.vec_id, r.out_dim): r.dot for r in built("ye01_int8_projection").rows}
    emb = load_table(spark, sf_dir, "embeddings").collect()

    def w(i: int, j: int) -> int:
        return int(hashlib.md5(f"{i}:{j}".encode()).hexdigest()[:8], 16) % 7 - 3

    for r in emb:
        q = [math.floor(float(v) * 127) for v in r.embedding]
        for j in range(1, YE01_D_OUT + 1):
            want = sum(q[i - 1] * w(i, j) for i in range(1, len(q) + 1))
            assert got[(r.vec_id, j)] == want, (r.vec_id, j)


def test_yn02_matches_brute_force_pairs(spark, sf_dir, built):
    import hashlib

    from spotify_tags_etl_spark.operators.yscale import YN02_R, yn02

    row = built("yn02_grid_neighbor_join").rows[0]
    ids = [r.event_id for r in load_table(spark, sf_dir, "events").select("event_id").collect()]

    def coord(prefix: str, eid: int) -> int:
        return int(hashlib.md5(f"{prefix}:{eid}".encode()).hexdigest()[:8], 16) % 100_000

    pts = sorted((eid, coord("x", eid), coord("y", eid)) for eid in ids)
    n_pairs = 0
    sum_d2 = 0
    r2 = YN02_R * YN02_R
    for idx, (ia, xa, ya) in enumerate(pts):
        for ib, xb, yb in pts[idx + 1 :]:
            d2 = (xa - xb) ** 2 + (ya - yb) ** 2
            if d2 <= r2:
                n_pairs += 1
                sum_d2 += d2
    assert (row.n_pairs, row.sum_d2) == (n_pairs, sum_d2)


def test_batch3_plans_clean(spark, sf_dir):
    from spotify_tags_etl_spark.operators.yscale import ye01, yn02
    from tests.test_scale_ranking import _global_order_windows

    for build in (ye01, yn02):
        plan = _executed_plan(build(spark, sf_dir))
        assert not _global_order_windows(plan), (build.__name__, plan)
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
        assert "CartesianProduct" not in plan, (build.__name__, plan)


# ---------------------------------------------------------------------------
# batch 4: yx01 / yi03
# ---------------------------------------------------------------------------


def test_yx01_is_cross_split_slice_of_dd02(spark, sf_dir, built):
    """Leakage rows must be exactly the dd02-verified near-dup pairs
    whose endpoints hash into different splits."""
    from spotify_tags_etl_spark.functions.hashing import hash_frac
    from spotify_tags_etl_spark.operators.dedup import (
        jaccard_verify,
        lsh_candidate_pairs,
        minhash_signatures,
        word_shingles,
    )
    from spotify_tags_etl_spark.operators.yscale import YX01_PERMILLE

    got = {(r.d1, r.d2): (r.split_1, r.split_2) for r in built("yx01_split_leakage_audit").rows}
    docs = load_table(spark, sf_dir, "documents")
    sh = word_shingles(docs)
    verified = {
        (r.d1, r.d2)
        for r in jaccard_verify(
            lsh_candidate_pairs(minhash_signatures(sh)), sh, YX01_PERMILLE
        ).collect()
    }
    fracs = {
        r.doc_id: r.f
        for r in docs.select("doc_id", hash_frac(F.col("doc_id")).alias("f")).collect()
    }

    def split(d: int) -> str:
        f = fracs[d]
        return "train" if f < 0.8 else ("val" if f < 0.9 else "test")

    want = {
        (d1, d2): (split(d1), split(d2))
        for d1, d2 in verified
        if split(d1) != split(d2)
    }
    assert got == want


def test_yi03_equals_batch_manifest_minus_ndv(spark, sf_dir, built):
    from spotify_tags_etl_spark.operators.yscale import yl01

    stream_rows = {tuple(r) for r in built("yi03_stream_stats_manifest").rows}
    batch_rows = {
        tuple(r)
        for r in yl01(spark, sf_dir)
        .drop("ndv_users")
        .select("day", "n_rows", "min_ts_us", "max_ts_us", "min_user", "max_user", "sum_cents")
        .collect()
    }
    assert stream_rows == batch_rows


# ---------------------------------------------------------------------------
# batch 5: yl02 / yl03 / yl04
# ---------------------------------------------------------------------------


def test_yl02_equalizes_class_counts(spark, sf_dir, built):
    rows = built("yl02_class_balance").rows
    sizes = {
        r.label: r.n
        for r in load_table(spark, sf_dir, "embeddings")
        .groupBy("label")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    mn = min(sizes.values())
    per_label: dict[int, int] = {}
    for r in rows:
        per_label[r.label] = per_label.get(r.label, 0) + 1
        assert 1 <= r.rk <= mn
    assert set(per_label) == set(sizes)
    assert all(n == mn for n in per_label.values())


def test_yl03_matches_python_sliding_distinct(spark, sf_dir, built):
    from spotify_tags_etl_spark.operators.yscale import YL03_WINDOW

    got = {r.day: (r.dau, r.mau, r.stickiness_ppm) for r in built("yl03_dau_mau_stickiness").rows}
    ev = load_table(spark, sf_dir, "events").select(
        F.expr("CAST(unix_micros(ts) DIV 86400000000 AS BIGINT)").alias("day"), "user_id"
    ).collect()
    by_day: dict[int, set] = {}
    for r in ev:
        by_day.setdefault(r.day, set()).add(r.user_id)
    for d, users in by_day.items():
        window_users: set = set()
        for d2, u2 in by_day.items():
            if d - (YL03_WINDOW - 1) <= d2 <= d:
                window_users |= u2
        dau, mau = len(users), len(window_users)
        assert got[d] == (dau, mau, 1_000_000 * dau // mau), d


def test_yl04_matches_python_topk_overlap(spark, sf_dir, built):
    import collections

    from spotify_tags_etl_spark.operators.yscale import YL04_K

    row = built("yl04_topk_drift").rows[0]
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.expr("unix_micros(ts) DIV 86400000000").alias("day")
    ).collect()
    lo, hi = min(r.day for r in ev), max(r.day for r in ev)
    mid = (lo + hi) // 2
    halves = [collections.Counter(), collections.Counter()]
    for r in ev:
        halves[0 if r.day <= mid else 1][r.user_id] += 1

    def topk(c: "collections.Counter") -> set:
        return {u for u, _ in sorted(c.items(), key=lambda kv: (-kv[1], kv[0]))[:YL04_K]}

    a, b = topk(halves[0]), topk(halves[1])
    assert (row.n_common, row.n_union) == (len(a & b), len(a | b))
    assert row.jaccard_permille == 1000 * len(a & b) // len(a | b)


def test_yy01_metrics_agree_with_components(built):
    """The composed health report must equal the component operators'
    own numbers — composition may not drift from its parts."""
    got = {r.metric: r.value for r in built("yy01_pipeline_health_report").rows}
    manifest = built("yl01_partition_stats_manifest").rows
    assert got["days_covered"] == len(manifest)
    assert got["total_events"] == sum(r.n_rows for r in manifest)
    assert got["value_drift_ks_ppm"] == built("yd02_ks_two_sample").rows[0].ks_ppm

    skew = built("xj02_key_skew_metrics").rows[0]
    assert got["hottest_key_share_ppm"] == skew.max_share_ppm
    xw05 = built("xw05_watermark_lateness_audit").rows
    ten = next(r for r in xw05 if r.watermark_min == 10)
    assert got["late_drop_ppm_10m"] == ten.drop_ppm


def test_yd03_matches_brute_force_pair_sums(spark, sf_dir, built):
    """The O(n log n) prefix-sum closed form must equal the literal
    O(n*m) pairwise |x - y| sums."""
    from spotify_tags_etl_spark.operators.yscale import yd03

    row = built("yd03_energy_distance").rows[0]
    ev = (
        load_table(spark, sf_dir, "events")
        .where(F.col("event_type").isin(YD02_A, YD02_B) & F.col("value").isNotNull())
        .select("event_type", F.round(F.col("value") * 100).cast("bigint").alias("c"))
        .collect()
    )
    xs = [r.c for r in ev if r.event_type == YD02_A]
    ys = [r.c for r in ev if r.event_type == YD02_B]
    sxy = sum(abs(x - y) for x in xs for y in ys)
    sxx = sum(abs(a - b) for a in xs for b in xs)
    syy = sum(abs(a - b) for a in ys for b in ys)
    n, m = len(xs), len(ys)
    assert (row.n_a, row.n_b) == (n, m)
    assert (row.sxy, row.sxx, row.syy) == (str(sxy), str(sxx), str(syy))
    assert row.energy_num == str(2 * sxy * n * m - sxx * m * m - syy * n * n)


def test_yw02_publishes_only_the_clean_candidate(built):
    """Side-effect contract: the publish pointer must exist and point at
    the CLEAN candidate's staging path; the dirty candidate must be
    rejected with the exact injected violation counts."""
    import glob
    import os
    import tempfile

    rows = {
        (r.candidate, r.chk): (r.n_bad, r.published)
        for r in built("yw02_write_audit_publish").rows
    }
    assert rows[("clean", "pk_unique")] == (0, True)
    assert rows[("dirty", "fk_not_null")] == (3, False)
    assert rows[("dirty", "pk_unique")] == (1, False)
    markers = glob.glob(
        os.path.join(tempfile.gettempdir(), "spark_graft_yw02", "*", "published", "CURRENT")
    )
    assert markers, "publish pointer missing"
    pointed = open(sorted(markers, key=os.path.getmtime)[-1]).read()
    assert pointed.endswith("/staging/clean")
    assert os.path.isdir(pointed)


def test_pid_scratch_is_rooted_in_tempdir(spark, sf_dir, tmp_path, monkeypatch):
    """xv02's CSV fixture and yw02's staging land under
    ``tempfile.gettempdir()``, so a run that sets ``TMPDIR`` keeps its
    scratch inside its own root."""
    import glob
    import os
    import tempfile

    from spotify_tags_etl_spark.plans.registry import get

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    for name in ("xv02_csv_quarantine", "yw02_write_audit_publish"):
        get(name).builder(spark, sf_dir).collect()
    assert glob.glob(str(tmp_path / "spark_graft_csv" / "*" / "*"))
    assert glob.glob(str(tmp_path / "spark_graft_yw02" / "*" / "published" / "CURRENT"))


def test_two_sample_stats_emit_zero_rows_on_empty_or_one_sided_input(spark, tmp_path):
    """yd02/yg02/yd03 on a fixture with no qualifying click/purchase
    rows: the DuckDB oracles' grouped spellings emit ZERO rows, so the
    Spark side must short-circuit to an empty frame — not crash on a
    None plan literal (yg02) or emit one all-NULL aggregate row."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from spotify_tags_etl_spark.operators.yscale import yd02, yd03, yg02

    schema = pa.schema(
        [
            ("event_id", pa.int64()),
            ("ts", pa.timestamp("us")),
            ("user_id", pa.int64()),
            ("event_type", pa.string()),
            ("value", pa.float64()),
            ("props", pa.string()),
        ]
    )
    # one 'view' row: nonempty table, but ZERO click/purchase rows
    tbl = pa.table(
        {
            "event_id": [1],
            "ts": [1700000000000000],
            "user_id": [7],
            "event_type": ["view"],
            "value": [1.5],
            "props": ["{}"],
        },
        schema=schema,
    )
    pq.write_table(tbl, str(tmp_path / "events.parquet"))
    for fn in (yd02, yg02, yd03):
        out = fn(spark, str(tmp_path))
        assert out.count() == 0, fn.__name__
        assert len(out.schema) >= 3, fn.__name__
