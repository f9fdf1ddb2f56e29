"""Round-8 additions: zc01 sequence packing, zc02 tokenizer round-trip
audit, scalerank.grouped_rank, and the depth-aware ReadSchema parser.

zc01's semantic pins are closed-form packing invariants (slot
discipline, no overfill, every doc placed once, FFD-within-band order);
zc02's pin is the audit's own claim — every bucket row must show
src == det with zero mismatches (the oracle proves cross-engine
equality; THIS test proves the audited property holds).
"""

from __future__ import annotations

from collections import defaultdict

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from spotify_tags_etl_spark.operators.scalerank import grouped_rank
from spotify_tags_etl_spark.operators.zcops import (
    ZC01_BAND_BASE,
    ZC01_TOK_PPM,
    ZC01_WINDOW,
)
from spotify_tags_etl_spark.plans.planmetrics import _struct_field_names
from tests.conftest import assert_loop_pins


# ---------------------------------------------------------------------------
# zc01 — packing invariants
# ---------------------------------------------------------------------------


def test_zc01_packing_invariants(spark, sf_dir, built):
    rows = built("zc01_sequence_packing").rows
    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    assert len(rows) == n_docs  # every doc placed exactly once
    assert len({r.doc_id for r in rows}) == n_docs

    by_window = defaultdict(list)
    for r in rows:
        by_window[r.window_id].append(r)
    for wid, docs in by_window.items():
        band_exp = wid // ZC01_BAND_BASE
        slot_len = 1 << band_exp
        k = ZC01_WINDOW // slot_len
        assert len(docs) <= k
        # slots fill sequentially from 0 (only the band's LAST window is
        # partial, but within any window offsets are the first n slots)
        offs = sorted(d.slot_offset for d in docs)
        assert offs == [i * slot_len for i in range(len(docs))]
        for d in docs:
            # band correctness: the doc fits its slot, and (for bands
            # above the smallest) would NOT fit the next band down —
            # that bound is what caps padding below half the slot
            assert 1 <= d.doc_tokens <= slot_len
            if band_exp >= 1:
                assert d.doc_tokens > slot_len // 2
        fill = sum(d.doc_tokens for d in docs)
        assert fill <= ZC01_WINDOW  # never overfilled
        assert docs[0].fill_ppm == fill * 1_000_000 // ZC01_WINDOW
    # FFD-within-band: ranks were assigned tok DESC, so window w's
    # smallest doc is >= window w+1's largest doc within the same band
    per_band_windows = defaultdict(dict)
    for wid, docs in by_window.items():
        per_band_windows[wid // ZC01_BAND_BASE][wid % ZC01_BAND_BASE] = docs
    for _band, windows in per_band_windows.items():
        idxs = sorted(windows)
        assert idxs == list(range(len(idxs)))  # window ids are dense
        for a, b in zip(idxs, idxs[1:]):
            assert min(d.doc_tokens for d in windows[a]) >= max(
                d.doc_tokens for d in windows[b]
            )


def test_zc01_token_estimate_matches_constant(spark, sf_dir, built):
    # tok = clamp(n_chars * ppm / 1e6) exactly — recompute from the raw table
    docs = {
        r.doc_id: r.n_chars
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "n_chars")
        .collect()
    }
    for r in built("zc01_sequence_packing").rows:
        want = min(max(docs[r.doc_id] * ZC01_TOK_PPM // 1_000_000, 1), ZC01_WINDOW)
        assert r.doc_tokens == want


# ---------------------------------------------------------------------------
# zc02 — the audited losslessness property itself
# ---------------------------------------------------------------------------


def test_zc02_roundtrip_is_lossless(built):
    rows = built("zc02_tokenizer_roundtrip").rows
    assert rows  # at least one populated bucket
    for r in rows:
        assert r.mismatch_types == 0, f"bucket {r.bucket}: {r.mismatch_types} mismatches"
        assert r.src_types == r.det_types
        assert r.src_occurrences == r.det_occurrences
        assert r.src_checksum == r.det_checksum


# ---------------------------------------------------------------------------
# scalerank.grouped_rank — bit-identical to the keyed window form
# ---------------------------------------------------------------------------

_SETTINGS = dict(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@given(
    vals=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),  # group
            st.integers(min_value=-50, max_value=50),  # v
        ),
        min_size=1,
        max_size=60,
    ),
    nparts=st.sampled_from([1, 2, 5]),
)
@settings(**_SETTINGS)
def test_grouped_rank_property(spark, vals, nparts):
    df = spark.createDataFrame(
        [(i, g, v) for i, (g, v) in enumerate(vals)], "idx LONG, g LONG, v LONG"
    )
    ranked, total = grouped_rank(
        df,
        ["g"],
        [F.col("v").desc(), F.col("idx").asc()],
        rank_col="rk",
        num_partitions=nparts,
    )
    got = {r.idx: r.rk for r in ranked.collect()}
    want: dict[int, int] = {}
    groups = defaultdict(list)
    for i, (g, v) in enumerate(vals):
        groups[g].append(((-v, i), i))
    for _g, members in groups.items():
        for pos, (_key, idx) in enumerate(sorted(members)):
            want[idx] = pos + 1
    assert total == len(vals)
    assert got == want


# ---------------------------------------------------------------------------
# planmetrics — depth-aware ReadSchema field parsing (ADVICE r7)
# ---------------------------------------------------------------------------


@pytest.mark.parametrize(
    "body,want",
    [
        ("a:int,b:string", ["a", "b"]),
        ("price:decimal(10,2),qty:bigint", ["price", "qty"]),
        (
            "emb:array<float>,meta:struct<a:int,b:array<string>>,id:bigint",
            ["emb", "meta", "id"],
        ),
        ("", []),
        ("m:map<string,array<struct<x:int,y:decimal(38,0)>>>", ["m"]),
    ],
)
def test_struct_field_names(body, want):
    assert _struct_field_names(body) == want


# ---------------------------------------------------------------------------
# Loop-stage plan + scan pins for the zc band (cf. test_round7_additions)
# ---------------------------------------------------------------------------

EXPECTED_LOOP_PLANS = {
    "zc01_sequence_packing": {
        # the corpus scan + range exchange, recorded pre-checkpoint
        # inside scalerank._range_layout
        "scalerank:layout": [{}],
        # the parallel (_pid, band) rank window over the checkpoint
        "zc01:banded_rank": [{"exchanges": 1}],
    },
    "zc02_tokenizer_roundtrip": {
        "bpe:vocab": [{"exchanges": 1}],
        "bpe:pair_argmax": [{"exchanges": 1}],
        "bpe:fold": [{}],
        "zc02:detok": [{}],
    },
}

EXPECTED_SCANS = {
    "zc01_sequence_packing": {
        # pushdown proof: packing reads exactly (doc_id, n_chars), once
        "scalerank:layout": [["doc_id,n_chars"]],
        "zc01:banded_rank": [[]],
    },
    "zc02_tokenizer_roundtrip": {
        "bpe:vocab": [["text"]],
        "bpe:pair_argmax": [[]],
        "bpe:fold": [[]],
        "zc02:detok": [[]],
    },
}


@pytest.mark.parametrize("name", sorted(EXPECTED_LOOP_PLANS))
def test_zc_loop_stage_pins(built, name):
    assert_loop_pins(built(name), EXPECTED_LOOP_PLANS[name], EXPECTED_SCANS[name])


# ---------------------------------------------------------------------------
# zc03 — no false drops (every drop is exact-verified against brute force)
# ---------------------------------------------------------------------------


def test_zc03_drops_are_true_dups(spark, sf_dir, built):
    import numpy as np

    from spotify_tags_etl_spark.operators.zcops import ZC03_T_PPM

    rows = built("zc03_semantic_dedup").rows
    emb = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .orderBy("vec_id")
        .collect()
    )
    ids = [r.vec_id for r in emb]
    idx = {v: i for i, v in enumerate(ids)}
    Q = np.floor(np.array([r.embedding for r in emb], dtype=np.float64) * 127).astype(
        np.int64
    )
    na = (Q * Q).sum(1)
    t2 = ZC03_T_PPM * ZC03_T_PPM
    dropped = [r.vec_id for r in rows if r.keep == 0]
    assert dropped, "fixture should produce semantic dups at this threshold"
    assert len(rows) == len(ids)  # every vector gets a verdict
    for v in dropped:
        i = idx[v]
        ok = False
        for w_, j in idx.items():
            if w_ >= v:
                continue
            dp = int(Q[i] @ Q[j])
            if dp > 0 and dp * dp * 10**12 >= t2 * int(na[i]) * int(na[j]):
                ok = True
                break
        assert ok, f"vec {v} dropped without any true smaller-id dup"


def test_zc03_w_matches_sql_formula():
    """The Python projection-weight twin must equal yscale's SQL
    spelling (same md5 prefix arithmetic) — checked via DuckDB."""
    import duckdb

    from spotify_tags_etl_spark.operators.zcops import _zc03_w

    con = duckdb.connect()
    for i, j in [(1, 1), (5, 3), (64, 16), (17, 9)]:
        want = con.execute(
            f"SELECT ('0x' || substr(md5('{i}:{j}'), 1, 8))::BIGINT % 7 - 3"
        ).fetchone()[0]
        assert _zc03_w(i, j) == want
    con.close()


# ---------------------------------------------------------------------------
# zc04 — micro-batch-layout invariance vs batch zb03
# ---------------------------------------------------------------------------


def test_zc04_layout_invariant(spark, sf_dir, built, tmp_path_factory):
    """zc04's incremental census + doc-store merge must produce EXACTLY
    batch zb03's top-k for any micro-batch layout: a 3-file run (one
    file per trigger) equals the single-batch registry run equals
    zb03."""
    import os
    import time

    from spotify_tags_etl_spark.operators.zcops import streaming_importance_weights
    from spotify_tags_etl_spark.sources.tpch import load_table

    docs = load_table(spark, sf_dir, "documents")
    root = str(tmp_path_factory.mktemp("docs_dsir_stream"))
    for i in range(3):
        p = os.path.join(root, f"part-{i}.parquet")
        docs.where(docs.doc_id % 3 == i).select(
            "doc_id", "lang", "text"
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
    multi = [tuple(r) for r in streaming_importance_weights(spark, stream).collect()]
    single = [
        tuple(r)
        for r in built("zc04_stream_importance_weights").rows
    ]
    batch = [tuple(r) for r in built("zb03_importance_weights").rows]
    assert multi == single == batch
    assert len(batch) > 0


# ---------------------------------------------------------------------------
# zc05 — schedule semantics (quota-exact blocks, monotone difficulty)
# ---------------------------------------------------------------------------


def test_zc05_schedule_semantics(spark, sf_dir, built):
    rows = built("zc05_curriculum_schedule").rows
    quotas = {
        r.source: r.quota
        for r in built("yv01_mixing_schedule").rows
    }
    n_chars = {
        r.doc_id: r.n_chars
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "n_chars")
        .collect()
    }
    assert rows
    per_sb = defaultdict(list)
    per_source = defaultdict(list)
    for r in rows:
        assert quotas[r.source] > 0  # zero-quota sources never scheduled
        per_sb[(r.source, r.block)].append(r)
        per_source[r.source].append(r)
    for (src, block), members in per_sb.items():
        q = quotas[src]
        slots = sorted(m.slot for m in members)
        # every block except the source's last is quota-full
        if block < max(b for s, b in per_sb if s == src):
            assert slots == list(range(q))
        else:
            assert slots == list(range(len(slots)))
    for src, members in per_source.items():
        members.sort(key=lambda m: m.crank)
        assert [m.crank for m in members] == list(range(1, len(members) + 1))
        # difficulty ramps with crank (n_chars non-decreasing)
        diffs = [n_chars[m.doc_id] for m in members]
        assert all(a <= b for a, b in zip(diffs, diffs[1:]))
        # block/slot are pure rank arithmetic
        for m in members:
            q = quotas[src]
            assert m.block == (m.crank - 1) // q
            assert m.slot == (m.crank - 1) % q


# Loop-stage pins for zc03/zc05 (zc04's micro-batch pins live in
# test_stream_state_shape.py with the rest of the streaming ratchet)

EXPECTED_LOOP_PLANS_2 = {
    "zc03_semantic_dedup": {
        # r12 §14: + the scale-adaptive embeddings fan-out exchange
        "zc03:projected_corpus": [{"exchanges": 1}],
    },
    "zc05_curriculum_schedule": {
        "scalerank:layout": [{}],
        "zc05:source_curriculum": [{"exchanges": 1}],
        "zc05:source_rollup": [{"exchanges": 1}],
    },
}

EXPECTED_SCANS_2 = {
    "zc03_semantic_dedup": {
        # pushdown proof: ONE corpus scan of exactly (vec_id, embedding);
        # label is absent from the projection (zc03 never reads it)
        "zc03:projected_corpus": [["embedding,vec_id"]],
    },
    "zc05_curriculum_schedule": {
        "scalerank:layout": [["doc_id,n_chars,source"]],
        "zc05:source_curriculum": [[]],
        "zc05:source_rollup": [[]],
    },
}


@pytest.mark.parametrize("name", sorted(EXPECTED_LOOP_PLANS_2))
def test_zc_loop_stage_pins_2(built, name):
    assert_loop_pins(built(name), EXPECTED_LOOP_PLANS_2[name], EXPECTED_SCANS_2[name])


# ---------------------------------------------------------------------------
# zc06 — efficiency report rolls up exactly to zc01's packing
# ---------------------------------------------------------------------------


def test_zc06_rolls_up_to_zc01(built):
    report = {r.band_exp: r for r in built("zc06_pack_efficiency").rows}
    packed = built("zc01_sequence_packing").rows
    per_band = defaultdict(lambda: {"windows": set(), "docs": 0, "tokens": 0})
    for r in packed:
        b = per_band[r.window_id // ZC01_BAND_BASE]
        b["windows"].add(r.window_id)
        b["docs"] += 1
        b["tokens"] += r.doc_tokens
    assert set(report) == set(per_band)
    for band, agg in per_band.items():
        row = report[band]
        assert row.slot_len == 1 << band
        assert row.n_windows == len(agg["windows"])
        assert row.n_docs == agg["docs"]
        assert row.doc_tokens == agg["tokens"]
        cap = row.n_windows * ZC01_WINDOW
        assert row.fill_ppm == agg["tokens"] * 1_000_000 // cap
        assert row.waste_ppm == 1_000_000 - row.fill_ppm
        assert 0 < row.fill_ppm <= 1_000_000


# ---------------------------------------------------------------------------
# zc07 — micro-batch-layout invariance vs batch zc06
# ---------------------------------------------------------------------------


def test_zc07_layout_invariant(spark, sf_dir, built, tmp_path_factory):
    """zc07's incremental band merge must produce EXACTLY batch zc06's
    report for any micro-batch layout (the banded packing stats are
    order-free — that claim IS this test)."""
    import os
    import time

    from spotify_tags_etl_spark.operators.zcops import streaming_pack_efficiency
    from spotify_tags_etl_spark.sources.tpch import load_table

    docs = load_table(spark, sf_dir, "documents")
    root = str(tmp_path_factory.mktemp("docs_pack_stream"))
    for i in range(3):
        p = os.path.join(root, f"part-{i}.parquet")
        docs.where(docs.doc_id % 3 == i).select("n_chars").toPandas().to_parquet(
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
    multi = [tuple(r) for r in streaming_pack_efficiency(spark, stream).collect()]
    single = [
        tuple(r)
        for r in built("zc07_stream_pack_efficiency").rows
    ]
    batch = [tuple(r) for r in built("zc06_pack_efficiency").rows]
    assert multi == single == batch
    assert len(batch) > 0
