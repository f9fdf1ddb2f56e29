"""Multi-micro-batch behavior of the streaming operators.

Oracle parity (single-batch AvailableNow run == batch semantics) is in
test_oracle_parity.py; here we split the events table into time-ordered
files and run one file per trigger, pinning what single-batch runs can't
see: dedup state across batches and sessionizer state carry-over
(sessions spanning a batch boundary keep their ordinal and extend).
"""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import functions as F

from spotify_tags_etl_spark.plans import registry
from spotify_tags_etl_spark.sources.tpch import load_table
from spotify_tags_etl_spark.streaming.ops import (
    run_to_memory,
    stateful_sessions,
    stream_dedup_keys,
)


@pytest.fixture(scope="module")
def multi_file_events(spark, sf_dir, tmp_path_factory):
    """Events split into 3 event-time-ordered files (mtime-ordered too,
    so the file source discovers them in event-time order)."""
    root = str(tmp_path_factory.mktemp("events_stream"))
    ev = load_table(spark, sf_dir, "events").select("event_id", "ts_ns", "user_id", "event_type", "value", "props")
    bounds = ev.select(
        F.expr("percentile(ts_ns, array(0.34, 0.67))").alias("p")
    ).collect()[0]["p"]
    parts = [
        ev.where(F.col("ts_ns") <= bounds[0]),
        ev.where((F.col("ts_ns") > bounds[0]) & (F.col("ts_ns") <= bounds[1])),
        ev.where(F.col("ts_ns") > bounds[1]),
    ]
    for i, part in enumerate(parts):
        pdf = part.toPandas()
        pdf.to_parquet(os.path.join(root, f"part-{i}.parquet"), index=False)
        now = time.time() + i  # strictly increasing mtimes
        os.utime(os.path.join(root, f"part-{i}.parquet"), (now, now))
    return root


def _read_stream_dir(spark, root):
    schema = spark.read.parquet(root).schema
    df = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(root)
    )
    return df.withColumn("ts", F.timestamp_micros(F.expr("ts_ns DIV 1000")))


def test_stream_dedup_across_batches(spark, sf_dir, multi_file_events):
    """With a watermark covering the data's whole time span, dedup state
    survives every batch boundary: keys emit exactly once."""
    stream = _read_stream_dir(spark, multi_file_events)
    got = run_to_memory(stream_dedup_keys(stream, watermark="3650 days"), "append")
    rows = got.collect()
    keys = [(r.user_id, r.event_type) for r in rows]
    assert len(keys) == len(set(keys)), "a key was emitted by more than one micro-batch"
    expected = {
        (r.user_id, r.event_type)
        for r in load_table(spark, sf_dir, "events").select("user_id", "event_type").distinct().collect()
    }
    assert set(keys) == expected


def test_stream_dedup_state_eviction(spark, sf_dir, multi_file_events):
    """With a short watermark, per-key state is EVICTED once the watermark
    passes it (the bounded-state property that makes the operator safe on
    an unbounded stream): a key recurring after eviction re-emits, and no
    keys are lost."""
    stream = _read_stream_dir(spark, multi_file_events)
    got = run_to_memory(stream_dedup_keys(stream, watermark="1 hour"), "append")
    keys = [(r.user_id, r.event_type) for r in got.collect()]
    expected = {
        (r.user_id, r.event_type)
        for r in load_table(spark, sf_dir, "events").select("user_id", "event_type").distinct().collect()
    }
    assert set(keys) == expected  # completeness: every key still surfaces
    assert len(keys) > len(set(keys)), (
        "state was never evicted — with batches spanning >1h of event time "
        "a 1h watermark must drop old keys and re-emit recurrences"
    )


def test_stateful_sessions_span_batches(spark, sf_dir, multi_file_events):
    """Sessions crossing a file boundary keep their ordinal and extend;
    the last emission per (user, seq) equals the batch sessionization."""
    stream = _read_stream_dir(spark, multi_file_events)
    got = run_to_memory(stateful_sessions(stream), "update")
    # update-mode memory sink accumulates every emission; the final state
    # of a session is its row with the largest n_events.
    final = (
        got.groupBy("user_id", "session_seq")
        .agg(F.max_by(F.struct("session_start", "session_end", "n_events", "sum_value"), "n_events").alias("s"))
        .select("user_id", "session_seq", "s.*")
    )
    batch = registry.get("av08_sessionize").builder(spark, sf_dir).select(
        "user_id", "session_seq", "session_start", "session_end", "n_events", "sum_value"
    )
    f = {tuple(r) for r in final.collect()}
    b = {tuple(r) for r in batch.collect()}
    assert f == b
    # and at least one session must actually have been extended across batches
    multi_emitted = got.groupBy("user_id", "session_seq").count().where(F.col("count") > 1)
    assert multi_emitted.count() > 0


def test_foreach_batch_enrichment_sink(spark, sf_dir, multi_file_events, tmp_path):
    """foreachBatch: each micro-batch runs batch logic (a broadcast
    enrichment join) and lands in its own idempotent output; batch ids
    are consecutive and all rows are delivered exactly once."""
    from spotify_tags_etl_spark.streaming.ops import run_foreach_batch

    out = str(tmp_path / "enriched")
    seen_batches = []

    def handle(batch_df, batch_id):
        seen_batches.append(batch_id)
        dim = batch_df.sparkSession.createDataFrame(
            [(t, t.upper()) for t in ("click", "error", "purchase", "signup", "view")],
            "event_type string, event_type_uc string",
        )
        (batch_df.join(F.broadcast(dim), "event_type")
         .write.mode("overwrite").parquet(f"{out}/batch={batch_id}"))

    stream = _read_stream_dir(spark, multi_file_events)
    run_foreach_batch(stream, handle)
    assert sorted(seen_batches) == [0, 1, 2]  # one per file (maxFilesPerTrigger=1)
    total = spark.read.parquet(f"{out}/batch=*").count()
    assert total == load_table(spark, sf_dir, "events").count()


def test_merged_stream_removes_scratch_root(spark, multi_file_events, tmp_path, tmp_path_factory):
    """The versioned-merge skeleton owns its scratch root and removes it
    on every exit: a normal multi-batch run, a stream that never
    triggers (the early empty-state return), and a step that raises."""
    import tempfile

    from pyspark.errors import StreamingQueryException

    from spotify_tags_etl_spark.streaming.ops import merged_stream

    def count_step(batch, prev):
        part = batch.agg(F.count(F.lit(1)).alias("n"))
        if prev is None:
            return part
        return prev.unionByName(part).agg(F.sum("n").alias("n"))

    def failing_step(batch, prev):
        raise ValueError("step failed")

    empty_dir = str(tmp_path_factory.mktemp("empty_stream"))
    n_events = spark.read.parquet(multi_file_events).count()
    saved = tempfile.tempdir
    tempfile.tempdir = str(tmp_path)
    try:
        stream = _read_stream_dir(spark, multi_file_events)
        with merged_stream(stream, "toy:count", count_step) as state:
            assert state.collect()[0]["n"] == n_events
        assert os.listdir(tmp_path) == []

        empty = spark.readStream.schema("event_id long").parquet(empty_dir)
        with merged_stream(empty, "toy:count", count_step) as state:
            assert state is None
        assert os.listdir(tmp_path) == []

        with pytest.raises(StreamingQueryException):
            with merged_stream(_read_stream_dir(spark, multi_file_events), "toy:fail", failing_step):
                pass
        assert os.listdir(tmp_path) == []
    finally:
        tempfile.tempdir = saved


def test_stream_stream_join_across_batches(spark, sf_dir, multi_file_events):
    """Stream-stream interval join over time-ordered micro-batches equals
    the batch range join: pairs spanning a batch boundary (error in one
    file, click in the next) must be buffered and matched, and watermark
    eviction must only drop state whose match window already closed."""
    from spotify_tags_etl_spark.streaming.ops import stream_stream_interval_join

    stream = _read_stream_dir(spark, multi_file_events).withColumn(
        "ts_ns", F.col("ts_ns").cast("long")
    )
    got = run_to_memory(stream_stream_interval_join(stream), "append")
    streamed = {tuple(r) for r in got.collect()}
    batch = registry.get("av07_range_join").builder(spark, sf_dir)
    expected = {
        (r.err_id, r.click_id, r.user_id, r.lag_ms)
        for r in batch.select("err_id", "click_id", "user_id", "lag_ms").collect()
    }
    assert streamed == expected


def test_stream_outer_join_batch_invariant(spark, sf_dir, multi_file_events):
    """st07's post-cutoff result must not depend on micro-batch layout:
    running the outer join over time-ordered multi-file batches and
    applying the same emission cutoff yields exactly the single-batch
    registry result — matched rows plus safely-evicted null rows."""
    import datetime

    from spotify_tags_etl_spark.streaming.ops import (
        _OUTER_SAFETY_S,
        stream_stream_outer_join,
    )

    stream = _read_stream_dir(spark, multi_file_events).withColumn(
        "ts_ns", F.col("ts_ns").cast("long")
    )
    got = run_to_memory(stream_stream_outer_join(stream), "append")
    ev = load_table(spark, sf_dir, "events")
    max_ts = (
        ev.where(F.col("event_type").isin("error", "click"))
        .groupBy("event_type").agg(F.max("ts").alias("m"))
        .select(F.min("m")).collect()[0][0]
    )
    cutoff = max_ts - datetime.timedelta(seconds=_OUTER_SAFETY_S)
    multi = {
        tuple(r)
        for r in got.where(
            F.col("click_id").isNotNull() | (F.col("e_ts") < F.lit(cutoff))
        ).select("err_id", "click_id", "user_id", "lag_ms").collect()
    }
    single = {
        tuple(r) for r in registry.get("st07_stream_outer_join").builder(spark, sf_dir).collect()
    }
    assert multi == single
    # sanity: some nulls survive the cutoff, and every matched pair is there
    assert any(c is None for _, c, _, _ in multi)
    inner = {tuple(r) for r in registry.get("st06_stream_stream_join").builder(spark, sf_dir).collect()}
    assert inner <= multi


def test_stream_upsert_layout_invariant(spark, sf_dir, multi_file_events):
    """The foreachBatch CDC merge must yield the same standing table for
    any micro-batch layout: a 3-file run (one file per trigger) equals
    the single-batch registry run and the batch argmax oracle."""
    from spotify_tags_etl_spark.streaming.ops import streaming_upsert

    stream = _read_stream_dir(spark, multi_file_events).withColumn(
        "ts_ns", F.col("ts_ns").cast("long")
    )
    multi = streaming_upsert(stream).toPandas()
    single = registry.get("st08_stream_upsert").builder(spark, sf_dir).toPandas()
    multi_s = multi.rename(columns={}).sort_values("user_id").reset_index(drop=True)
    single_s = single.sort_values("user_id").reset_index(drop=True)
    assert multi_s.equals(single_s)


def test_stream_neardup_layout_invariant(spark, sf_dir, tmp_path_factory):
    """st09's incremental MinHash+LSH must produce EXACTLY batch dd02's
    verified pair set for any micro-batch layout: a 3-file run (one file
    per trigger, docs split by id) equals the single-batch registry run
    equals dd02."""
    import os
    import time

    from spotify_tags_etl_spark.streaming.ops import streaming_neardup

    docs = load_table(spark, sf_dir, "documents")
    root = str(tmp_path_factory.mktemp("docs_stream"))
    parts = [
        docs.where(F.col("doc_id") % 3 == i).select("doc_id", "text") for i in range(3)
    ]
    for i, part in enumerate(parts):
        p = os.path.join(root, f"part-{i}.parquet")
        part.toPandas().to_parquet(p, index=False)
        now = time.time() + i
        os.utime(p, (now, now))
    schema = spark.read.parquet(root).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(root)
    )
    multi = {tuple(r) for r in streaming_neardup(stream, docs).collect()}
    single = {
        tuple(r)
        for r in registry.get("st09_stream_neardup").builder(spark, sf_dir).collect()
    }
    batch = {tuple(r) for r in registry.get("dd02_minhash_lsh").builder(spark, sf_dir).collect()}
    assert multi == single == batch
    assert len(batch) > 0  # the fixture corpus does contain near-dups


def test_stream_funnel_state_across_batches(spark, sf_dir, multi_file_events):
    """xw01's per-user funnel anchors must carry across micro-batches
    (a view in file 1 completing with a click in file 2 still counts):
    the 3-batch run equals the single-batch registry run equals the
    batch funnel xf01."""
    from spotify_tags_etl_spark.streaming.ops import streaming_funnel

    stream = _read_stream_dir(spark, multi_file_events)
    multi = {tuple(r) for r in streaming_funnel(stream).collect()}
    single = {
        tuple(r) for r in registry.get("xw01_stream_funnel").builder(spark, sf_dir).collect()
    }
    batch = {tuple(r) for r in registry.get("xf01_funnel_steps").builder(spark, sf_dir).collect()}
    assert multi == single == batch
    counts = dict(multi)
    assert counts["view"] >= counts["view>click"] >= counts["view>click>purchase"] > 0


def test_stream_hll_rollup_layout_invariant(spark, sf_dir, multi_file_events):
    """xk03's sketch store must be micro-batch-layout invariant by
    ALGEBRA (hll_union is associative/commutative/idempotent): a 3-file
    run (one file per trigger) must report the same weekly verdict rows
    as the single-batch registry run, with every merged_ok TRUE in
    both — i.e. streaming-merged estimates stay register-identical to
    the batch-direct sketch under any batch split."""
    from spotify_tags_etl_spark.streaming.ops import streaming_hll_rollup

    stream = _read_stream_dir(spark, multi_file_events).withColumn(
        "ts_ns", F.col("ts_ns").cast("long")
    )
    multi = {tuple(r) for r in streaming_hll_rollup(spark, sf_dir, stream).collect()}
    single = {
        tuple(r)
        for r in registry.get("xk03_stream_hll_rollup").builder(spark, sf_dir).collect()
    }
    assert multi == single
    assert multi and all(ok for _, _, ok in multi)


def test_transform_with_state_gated_on_protobuf(spark, sf_dir):
    """xw08 registers exactly when google.protobuf is importable (the
    transformWithState runner's wire dependency); where available it
    must match the batch groupBy."""
    from spotify_tags_etl_spark.plans import registry
    from spotify_tags_etl_spark.streaming import ops

    registered = "xw08_stream_running_stats" in registry.all_queries()
    assert registered == ops.transform_with_state_available()
    if registered:
        import pyspark.sql.functions as F

        from spotify_tags_etl_spark.sources.tpch import load_table

        got = {tuple(r) for r in ops.xw08(spark, sf_dir).collect()}
        ev = load_table(spark, sf_dir, "events")
        want = {
            tuple(r)
            for r in ev.groupBy("user_id")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.round(F.col("value") * 100, 0).cast("bigint")).alias("sum_cents"),
                F.max(F.round(F.col("value") * 100, 0).cast("bigint")).alias("max_cents"),
            )
            .collect()
        }
        assert got == want
