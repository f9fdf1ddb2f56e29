"""ytrain planners: structural invariants beyond oracle parity."""

from __future__ import annotations

from pyspark.sql import functions as F

from spotify_tags_etl_spark.operators.ytrain import YV01_BLOCK, YV04_EPOCHS, YV04_SHARDS, yv01


def test_yv01_quotas_sum_to_block(spark, sf_dir):
    out = yv01(spark, sf_dir).agg(F.sum("quota").alias("s")).collect()[0]
    assert out.s == YV01_BLOCK


def test_yv02_mrr_bounds_and_perfect_floor(built):
    row = built("yv02_mrr_eval").rows[0]
    assert row.n_queries > 0
    # each reciprocal rank is in (0, 1e6]; the mean must be too
    assert 0 < row.mrr_ppm <= 1_000_000
    assert row.sum_rr_ppm <= row.n_queries * 1_000_000


def test_yv03_coverage_is_at_target(built):
    row = built("yv03_vocab_coverage").rows[0]
    assert row.coverage_ppm >= 990_000
    assert 0 < row.vocab_size <= row.total_tokens


def test_yv04_plan_is_complete_and_epochs_differ(sf_dir, built):
    rows = built("yv04_epoch_shuffle").rows
    assert len(rows) == YV04_EPOCHS * YV04_SHARDS
    import pyarrow.parquet as pq

    n_docs = pq.read_metadata(f"{sf_dir}/documents.parquet").num_rows
    per_epoch = {}
    for r in rows:
        per_epoch.setdefault(r.epoch, []).append((r.shard, r.n_docs))
    for ep, shards in per_epoch.items():
        assert sum(n for _, n in shards) == n_docs, ep
    # the reshuffle must actually differ between epochs
    assert per_epoch[0] != per_epoch[1]
