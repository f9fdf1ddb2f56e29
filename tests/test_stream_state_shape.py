"""Streaming state-shape pins — the streaming twin of the batch plan
ratchet (tools/plan_audit.py / tests/test_plan_snapshot.py).

The batch ratchet fingerprints each query's executed physical plan, but a
streaming query's returned frame is a memory-sink scan: the micro-batch
plans that actually did the work are invisible to it.  What IS visible —
through the engine's own StreamingQueryProgress — is the set of stateful
operators each micro-batch ran (``stateOperators[].operatorName``:
``stateStoreSave``, ``dedupeWithinWatermark``, ``symmetricHashJoin``,
``applyInPandasWithState``...).  That set is the streaming analog of a
plan fingerprint:

* a VANISHED state operator means the query silently degraded to a
  stateless per-batch computation (e.g. a dropped watermark turning a
  stream-stream join into a batch join per micro-batch — wrong results
  under late data);
* an EXTRA state operator means an unplanned state store appeared — at
  100 TB stream volumes, state-store size is the scaling budget, so new
  state must be a deliberate choice, never an accident;
* a CHANGED run count means the query gained or lost a whole streaming
  execution.

Every registered streaming query is pinned here: one (sink_kind,
state_op_names) tuple per streaming run, in start order.  foreachBatch
queries that keep their state OUTSIDE the engine (versioned-parquet
merge tables: st08/st09/xk03/xw01/xw06/xw10/yi03) pin an EMPTY operator
set — that emptiness is the claim that their state handling is
explicitly versioned storage, not engine state stores.
"""

from __future__ import annotations

import pytest

from spotify_tags_etl_spark.plans import registry
from spotify_tags_etl_spark.streaming import ops as sops

# (sink_kind, sorted state-operator names) per streaming run, start order.
EXPECTED_STATE_SHAPE: dict[str, list[tuple[str, tuple[str, ...]]]] = {
    # engine-state queries: the named operator IS the semantics
    "st01_stream_windowed_agg": [("memory", ("stateStoreSave",))],
    "st02_stream_dedup": [("memory", ("dedupeWithinWatermark",))],
    "st03_stream_sessions": [("memory", ("applyInPandasWithState",))],
    "st04_stream_static_join": [("memory", ("stateStoreSave",))],
    "st05_stream_sliding_window": [("memory", ("stateStoreSave",))],
    "st06_stream_stream_join": [("memory", ("symmetricHashJoin",))],
    "st07_stream_outer_join": [("memory", ("symmetricHashJoin",))],
    "xw09_stream_orphan_errors": [("memory", ("symmetricHashJoin",))],
    # stateless micro-batch plans: state lives in versioned parquet
    # (merge tables / sketch registers), not engine state stores
    "st08_stream_upsert": [("foreachBatch", ())],
    "st09_stream_neardup": [("foreachBatch", ())],
    "xk03_stream_hll_rollup": [("foreachBatch", ())],
    "xw01_stream_funnel": [("foreachBatch", ())],
    "xw06_stream_cms_rollup": [("foreachBatch", ())],
    "xw10_stream_checksum": [("foreachBatch", ())],
    "yi03_stream_stats_manifest": [("foreachBatch", ())],
    "za04_stream_preference_pairs": [("foreachBatch", ())],
    "zb02_stream_quantile_drift": [("foreachBatch", ())],
    "zc04_stream_importance_weights": [("foreachBatch", ())],
    "zc07_stream_pack_efficiency": [("foreachBatch", ())],
    "zd05_stream_dedup_funnel": [("foreachBatch", ())],
    "zd07_stream_rag_manifest": [("foreachBatch", ())],
    "ze03_stream_classifier_gate": [("foreachBatch", ())],
    "zf02_stream_curation_lineage": [("foreachBatch", ())],
    "zg07_stream_quality_rules": [("foreachBatch", ())],
    "zh04_stream_unified_keepset": [("foreachBatch", ())],
    # pure source drain: genuinely stateless
    "sz01_stream_paged_source": [("memory", ())],
}


# Micro-batch PLAN pins — the second half of the streaming ratchet
# (r6 verdict "what's wrong" #3: state shapes caught semantic
# degradation, but a foreachBatch merge silently gaining an exchange
# was still invisible). Per query: capture label -> the DEDUPLICATED
# sorted list of nonzero plan metrics across that label's micro-batches
# (shape is data-independent, so every batch of a site fingerprints
# identically; the set form is stable under batch-count changes).
# ``engine:*`` entries fingerprint the engine's own last micro-batch
# plan; ``<query>:<site>`` entries fingerprint foreachBatch inner
# frames at their write sites (streaming/ops.record_batch_plan).
EXPECTED_MICRO_PLANS: dict[str, dict[str, list[dict[str, int]]]] = {
    "st01_stream_windowed_agg": {"engine:memory": [{"exchanges": 1}]},
    "st02_stream_dedup": {"engine:memory": [{"exchanges": 1}]},
    "st03_stream_sessions": {
        "engine:memory": [{"exchanges": 1, "grouped_map_pandas": 1}]
    },
    "st04_stream_static_join": {"engine:memory": [{"exchanges": 1}]},
    "st05_stream_sliding_window": {"engine:memory": [{"exchanges": 1}]},
    "st06_stream_stream_join": {"engine:memory": [{"exchanges": 2}]},
    "st07_stream_outer_join": {"engine:memory": [{"exchanges": 2}]},
    "xw09_stream_orphan_errors": {"engine:memory": [{"exchanges": 2}]},
    "st08_stream_upsert": {
        "engine:foreachBatch": [{}],
        "st08:merge": [{"exchanges": 1}],
    },
    "st09_stream_neardup": {
        "engine:foreachBatch": [{}],
        # r13: the batch signature subtree is checkpointed once per
        # trigger (it fed three plan branches), so the candidate join
        # and the store write read the materialized RDD — their own
        # fan/groupBy exchanges collapse with it
        "st09:candidates": [{"exchanges": 1}],
        "st09:signatures": [{}],
    },
    "xk03_stream_hll_rollup": {
        "engine:foreachBatch": [{}],
        "xk03:hll_merge": [{"exchanges": 1}],
    },
    "xw01_stream_funnel": {
        "engine:foreachBatch": [{}],
        # the 5-stage funnel state update is a chain of per-user stage
        # joins: 7 sort-merge joins / 11 exchanges over MICRO-BATCH-sized
        # frames (state table + batch), not corpus-sized ones
        "xw01:funnel_state": [{"exchanges": 11, "sort_merge_joins": 7}],
    },
    "xw06_stream_cms_rollup": {
        "engine:foreachBatch": [{}],
        "xw06:cms_merge": [{"exchanges": 1}],
    },
    "xw10_stream_checksum": {
        "engine:foreachBatch": [{}],
        # one-row checksum partial per batch — SinglePartition by design
        "xw10:checksum_part": [{"single_partition": 1}],
    },
    "yi03_stream_stats_manifest": {
        "engine:foreachBatch": [{}],
        "yi03:manifest_part": [{"exchanges": 1}],
    },
    "sz01_stream_paged_source": {"engine:memory": [{}]},
    # first batch merges nothing (no standing table yet): one
    # map-combined groupBy of the batch; the registered single-file run
    # sees exactly that batch. Multi-batch merge shape is covered by the
    # layout-invariance test in test_round7_additions.py.
    "za04_stream_preference_pairs": {
        "engine:foreachBatch": [{}],
        "za04:pairs_merge": [{"exchanges": 1}],
    },
    "zb02_stream_quantile_drift": {
        "engine:foreachBatch": [{}],
        "zb02:hist_merge": [{"exchanges": 1}],
    },
    "zc04_stream_importance_weights": {
        "engine:foreachBatch": [{}],
        "zc04:doc_partial": [{"exchanges": 1}],
        "zc04:census_merge": [{"exchanges": 1}],
    },
    "zc07_stream_pack_efficiency": {
        "engine:foreachBatch": [{}],
        "zc07:band_merge": [{"exchanges": 1}],
    },
    "zd05_stream_dedup_funnel": {
        "engine:foreachBatch": [{}],
        # r12 §14: the fan-out repartition REPLACES the signature
        # groupBy(doc_id)'s own exchange (same key, same count stays 1);
        # the census merge gains the fan-out subtree under its fold
        "zd05:sig_partial": [{"exchanges": 1}],
        "zd05:exact_census_merge": [{"exchanges": 2}],
    },
    "zd07_stream_rag_manifest": {
        "engine:foreachBatch": [{}],
        # chunk -> broadcast-assignment join -> (list, source) census:
        # one keyed exchange for the census groupBy, one for the
        # doc-distinct pre-aggregation
        "zd07:census_merge": [{"exchanges": 2}],
    },
    "ze03_stream_classifier_gate": {
        "engine:foreachBatch": [{}],
        # batch design matrix + margins + source join + census groupBy —
        # all micro-batch-sized frames (plus the <= #sources state table)
        "ze03:census_merge": [{"exchanges": 4}],
    },
    "zf02_stream_curation_lineage": {
        "engine:foreachBatch": [{}],
        # r10 consolidation: the seven logical stores collapse into TWO
        # writes per trigger. doc store = union of banded-sig groupBy +
        # docgram groupBy + traingram distinct (3 keyed exchanges on
        # micro-batch-sized frames; the shingle branch is a per-doc
        # projection, exchange-free); census state = raw exact/imp/
        # testgram rows + previous version folded by ONE
        # groupBy(kind, k1, k2) — a single keyed exchange whose
        # map-side partials do the in-batch compression.
        # r12 §14: + the scale-adaptive batch fan-out (fan_out_scan —
        # the single-split fixture batch hash-repartitions on doc_id to
        # the core count before the per-doc map work; a no-op at any
        # scale where the batch has >= cores splits). The banded-sig
        # groupBy(doc_id) is satisfied by the fan-out's partitioning
        # (one exchange absorbed), so the net count is 3 + 1.
        "zf02:doc_store": [{"exchanges": 4}],
        # r12: the census is an APPEND-ONLY log — per trigger only the
        # batch-LOCAL increment folds (one keyed exchange over the
        # micro-batch; the plan reads nothing but the batch) and writes
        # O(batch) bytes; increments compact every ZF02_COMPACT_EVERY
        # triggers (label census_compaction — absent here: the pinned
        # single-file run has one batch)
        # r12 §14: the increment's three union branches each render the
        # fan-out repartition subtree (3) + the one keyed increment fold
        "zf02:census_increment": [{"exchanges": 4}],
    },
    "zg07_stream_quality_rules": {
        "engine:foreachBatch": [{}],
        # per-doc-local rules: one keyed exchange for the per-source
        # census groupBy (merge adds only the <= #sources state table)
        "zg07:census_merge": [{"exchanges": 1}],
    },
    "zh04_stream_unified_keepset": {
        "engine:foreachBatch": [{}],
        # zf02's doc store (3 keyed exchanges) + the zh verdict rows:
        # the stream-static margin scoring adds the batch design-matrix
        # groupBy, the bias distinct, and the per-doc margin groupBy
        # (3 more keyed exchanges on micro-batch-sized frames); the
        # rule-code branch is a per-doc projection, exchange-free
        # r12 §14: + the scale-adaptive batch fan-out (see zf02 note;
        # two of the previous keyed exchanges are absorbed by the
        # fan-out's doc_id partitioning, two fan-out subtrees render)
        "zh04:doc_store": [{"exchanges": 7}],
        # census log is zf02's verbatim: the batch-local increment
        # (r12 append-only shape; compaction label absent — one batch;
        # §14 fan-out subtrees render in the three union branches)
        "zh04:census_increment": [{"exchanges": 4}],
    },
}


@pytest.mark.parametrize("name", sorted(EXPECTED_STATE_SHAPE))
def test_stream_state_shape(built, name):
    rec = built(name)
    assert rec.state_ops == EXPECTED_STATE_SHAPE[name], (
        f"{name}: streaming state shape changed — "
        f"got {rec.state_ops}, pinned {EXPECTED_STATE_SHAPE[name]}. "
        "If deliberate, update EXPECTED_STATE_SHAPE with the new "
        "state-store budget in mind."
    )
    observed = rec.observed_micro_plans()
    assert observed == EXPECTED_MICRO_PLANS[name], (
        f"{name}: micro-batch plan fingerprint changed — "
        f"got {observed}, pinned {EXPECTED_MICRO_PLANS[name]}. "
        "A gained metric means an unplanned shuffle/Python stage inside "
        "a micro-batch; a lost one means work moved out of the "
        "instrumented path. If deliberate, update EXPECTED_MICRO_PLANS."
    )


def test_micro_plan_pins_cover_state_shape_pins():
    assert set(EXPECTED_MICRO_PLANS) == set(EXPECTED_STATE_SHAPE)


def test_every_registered_streaming_query_is_pinned():
    """Closes the ratchet: any new streaming query must add a pin here.

    Batch-expressed streaming analogs (xw03 rolling distinct, xw04 CDC
    compaction, xw05 lateness audit) are plan-pinned by the batch
    ratchet instead — they run no streaming query at all."""
    batch_expressed = {
        "xw03_rolling_distinct_users",
        "xw04_cdc_log_compaction",
        "xw05_watermark_lateness_audit",
        "yw01_lateness_audit",
    }
    streaming = {
        (n[3:] if n.startswith("zv_") else n)
        for n, spec in registry.all_defs().items()
        if "streaming" in spec.tags
    }
    unpinned = streaming - set(EXPECTED_STATE_SHAPE) - batch_expressed
    assert not unpinned, f"streaming queries without a state-shape pin: {sorted(unpinned)}"


def test_first_merge_trigger_is_fingerprinted(spark, sf_dir, tmp_path):
    """A multi-batch run takes two micro-batch plan shapes: the first
    trigger (no standing state, ``merged = part``) and every later one
    (the partial merged into the previous version). The skeleton
    fingerprints each once, so the merge shape — with its union-merge
    exchange — is pinned too, not only batch 0's."""
    import os
    import time

    from spotify_tags_etl_spark.operators.zaops import streaming_preference_pairs
    from spotify_tags_etl_spark.sources.tpch import load_table

    docs = load_table(spark, sf_dir, "documents")
    root = str(tmp_path / "docs")
    os.makedirs(root)
    for i in range(2):
        p = os.path.join(root, f"part-{i}.parquet")
        docs.where(docs.doc_id % 2 == i).select("doc_id").toPandas().to_parquet(
            p, index=False
        )
        now = time.time() + i
        os.utime(p, (now, now))
    stream = (
        spark.readStream.schema(spark.read.parquet(root).schema)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(root)
    )
    sops.MICRO_PLAN_LOG.clear()
    streaming_preference_pairs(spark, stream)
    rendered = [fp for label, fp in sops.MICRO_PLAN_LOG if label == "za04:pairs_merge"]
    assert len(rendered) == 2  # one per shape, each rendered once
    first = EXPECTED_MICRO_PLANS["za04_stream_preference_pairs"]["za04:pairs_merge"][0]
    shapes = [{k: v for k, v in fp if v} for fp in set(rendered)]
    assert first in shapes and len(shapes) == 2
    (merge,) = [fp for fp in shapes if fp != first]
    assert merge["exchanges"] == first["exchanges"] + 1  # the union-merge groupBy
