"""Physical-plan regression ratchet: every benched batch query's
executed plan must not get WORSE than tools/plans_snapshot.json on any
audited metric (shuffle exchanges, single-partition exchanges, Python
eval nodes, cartesian products, sort-merge joins). Improvements pass;
ratchet the snapshot down with ``python tools/plan_audit.py --write``
after an intentional improvement.

One test per query so a regression names its query directly. The
fingerprint is the session build record's (tests/conftest.py), taken
the same way plan_audit takes it.
"""

from __future__ import annotations

import importlib
import json
import os
from pathlib import Path

import pytest

from spotify_tags_etl_spark.plans import registry

_SNAP_PATH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools", "plans_snapshot.json")
_SNAP = json.load(open(_SNAP_PATH))["plans"]


@pytest.mark.parametrize("name", sorted(_SNAP))
def test_plan_not_worse_than_snapshot(built, name):
    cur = built(name).plan
    base = _SNAP[name]
    worse = {m: (base.get(m, 0), v) for m, v in cur.items() if v > base.get(m, 0)}
    assert not worse, f"{name}: plan regressed: {worse}"


def test_every_pin_names_a_registered_query():
    """A pin whose query was renamed or dropped would silently stop
    checking anything; fail on it instead. Pins are the plan snapshot
    and every test module's ``*EXPECTED*`` dict keyed by query names
    (tables keyed by ``<stage>:<site>`` labels pin a single query)."""
    tables = {"plans_snapshot.json": set(_SNAP)}
    for path in sorted(Path(__file__).parent.glob("test_*.py")):
        for attr, table in vars(importlib.import_module(f"tests.{path.stem}")).items():
            if "EXPECTED" in attr and isinstance(table, dict):
                if all(isinstance(k, str) and ":" not in k for k in table):
                    tables[f"{path.stem}.{attr}"] = set(table)
    assert {
        "test_stream_state_shape.EXPECTED_STATE_SHAPE",
        "test_stream_state_shape.EXPECTED_MICRO_PLANS",
        "test_round7_additions.EXPECTED_SCANS",
        "test_round11_additions.ZH_EXPECTED_LOOP_PLANS",
    } <= set(tables)
    queries = registry.all_queries()
    dangling = {
        table: sorted(n for n in names if registry.resolve(n) not in queries)
        for table, names in tables.items()
    }
    assert not any(dangling.values()), dangling
