"""Snapshot physical-plan fingerprints for the benched queries.

Records, per query, the executed-plan metrics that define its scale
story — shuffle exchange count, broadcast join count, Python eval
nodes, single-partition exchanges, cartesian products — into
``tools/plans_snapshot.json``. The plan is read straight after the
builder returns, before any action on the frame: with AQE on, that is
the initial (``isFinalPlan=false``) plan, the declared shape, which
does not depend on runtime statistics.

``tests/test_plan_snapshot.py`` then fails any future change that makes
a query's plan WORSE than the committed snapshot (more shuffles, new
Python nodes, a new single-reducer stage), while silently allowing
improvements; it reads each fingerprint from the session build record
(``tests/conftest.py``). Re-run this tool to ratchet the snapshot down
after an intentional improvement.

This is the regression-proofing for the round-3/4 plan work: the LSH
band-join rewrite (10 → 4 exchanges), the scalerank de-NTILE (no
SinglePartition), and the yq window rewrites each moved a metric this
file now pins.

Usage:
    python tools/plan_audit.py [--sf-dir /root/testdata/sf0.001] [--write]
"""

from __future__ import annotations

import argparse
import json
import os
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

SNAPSHOT_PATH = os.path.join(_REPO, "tools", "plans_snapshot.json")

#: Metric counting is shared with the streaming micro-batch pins. "Worse"
#: = strictly greater than the snapshot on any metric — see
#: spotify_tags_etl_spark/plans/planmetrics.py for the rationale notes.
from spotify_tags_etl_spark.plans.planmetrics import count_metrics  # noqa: E402


def audited_names() -> list[str]:
    """EVERY registered batch query (streaming builders drive the
    streaming engine; their 'plan' is the per-batch one and is pinned by
    the streaming tests instead). The round-5 audit covered only
    bench ∪ unfrozen — which made the 159 driver-frozen ``zv_`` queries
    exactly the ones whose plan regressions nothing would catch (the
    driver never re-checks them, and the ratchet didn't either). Full
    coverage closes that blind spot."""
    from spotify_tags_etl_spark.plans import registry

    seen: set[str] = set()
    out: list[str] = []
    for n in sorted(registry.all_queries()):
        base = n[3:] if n.startswith("zv_") else n
        if base in seen:
            continue
        seen.add(base)
        out.append(base)
    # Streaming builders only (their per-batch state shape is pinned by
    # tests/test_stream_state_shape.py instead) — an EXPLICIT set, not a
    # prefix match: the r6 audit found the old prefix skip also silently
    # exempted two batch queries (xw03 rolling-distinct, a batch window
    # analog, and xz15 mapInArrow — both fingerprintable), leaving them
    # outside BOTH ratchets.
    streaming = {
        "st01_stream_windowed_agg", "st02_stream_dedup", "st03_stream_sessions",
        "st04_stream_static_join", "st05_stream_sliding_window",
        "st06_stream_stream_join", "st07_stream_outer_join", "st08_stream_upsert",
        "st09_stream_neardup", "sz01_stream_paged_source", "xk03_stream_hll_rollup",
        "xw01_stream_funnel", "xw06_stream_cms_rollup", "xw09_stream_orphan_errors",
        "xw10_stream_checksum", "yi03_stream_stats_manifest",
        "za04_stream_preference_pairs", "zb02_stream_quantile_drift",
        "zc04_stream_importance_weights", "zc07_stream_pack_efficiency",
        "zd05_stream_dedup_funnel", "zd07_stream_rag_manifest",
        "ze03_stream_classifier_gate", "zf02_stream_curation_lineage",
        "zg07_stream_quality_rules",
        "zh04_stream_unified_keepset",
    }
    return [n for n in out if n not in streaming]


def fingerprint(df) -> dict[str, int]:
    """Metric counts of ``df``'s plan before any action on it (AQE's
    initial plan; a noop write would run a separate plan, not finalize
    this one)."""
    return count_metrics(df._jdf.queryExecution().executedPlan().toString())


def collect(sf_dir: str) -> dict[str, dict[str, int]]:
    from spotify_tags_etl_spark.plans import registry
    from spotify_tags_etl_spark.session import get_spark

    spark = get_spark("plan-audit")
    spark.sparkContext.setLogLevel("ERROR")
    queries = registry.all_queries()
    out: dict[str, dict[str, int]] = {}
    for name in audited_names():
        key = registry.resolve(name)
        if key not in queries:
            continue
        out[name] = fingerprint(queries[key](spark, sf_dir))
        print(name, out[name], flush=True)
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    ap.add_argument("--write", action="store_true", help="update the snapshot file")
    args = ap.parse_args()
    current = collect(args.sf_dir)
    if args.write:
        with open(SNAPSHOT_PATH, "w") as f:
            json.dump({"sf_dir": args.sf_dir, "plans": current}, f, indent=1, sort_keys=True)
        print(f"wrote {SNAPSHOT_PATH}")
        return 0
    snap = json.load(open(SNAPSHOT_PATH))["plans"]
    worse = []
    for name, cur in current.items():
        base = snap.get(name)
        if base is None:
            worse.append((name, "not in snapshot", cur))
            continue
        for m, v in cur.items():
            if v > base.get(m, 0):
                worse.append((name, m, f"{base.get(m, 0)} -> {v}"))
    for w in worse:
        print("WORSE:", w)
    print(f"{len(current)} audited, {len(worse)} regressions")
    return 1 if worse else 0


if __name__ == "__main__":
    sys.exit(main())
