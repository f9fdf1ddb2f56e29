"""The session build record (tests/conftest.py) must build each name
once and log exactly what a direct build logs."""

from __future__ import annotations

import dataclasses
import re
from pathlib import Path

import pytest

from spotify_tags_etl_spark.plans import planmetrics as pm
from spotify_tags_etl_spark.plans import registry
from spotify_tags_etl_spark.streaming import ops as sops
from tests.conftest import BuildRecords


def test_record_builds_each_name_once(spark, sf_dir, monkeypatch):
    qd = registry.get("av07_range_join")
    calls = []

    def counting(spark, sf_dir):
        calls.append(sf_dir)
        return qd.builder(spark, sf_dir)

    monkeypatch.setitem(registry._REGISTRY, qd.name, dataclasses.replace(qd, builder=counting))
    records = BuildRecords(spark, sf_dir)
    first = records("av07_range_join")
    assert records(qd.name) is first  # either spelling, one record
    assert calls == [sf_dir]
    assert first.rows and len(first.pdf) == len(first.rows)


@pytest.mark.parametrize("name", ["za02_bradley_terry", "st08_stream_upsert"])
def test_record_logs_equal_a_direct_build(spark, sf_dir, built, name):
    rec = built(name)
    logs = (pm.LOOP_PLAN_LOG, pm.SCAN_LOG, sops.STATE_OPS_LOG, sops.MICRO_PLAN_LOG)
    for log in logs:
        log.clear()
    registry.get(name).builder(spark, sf_dir).count()
    assert (rec.loop_plans, rec.scans, rec.state_ops, rec.micro_plans) == logs
    assert rec.loop_plans or rec.state_ops  # the comparison is not vacuous


def test_no_test_module_rebuilds_through_its_own_helper():
    """Registered queries at ``sf_dir`` come from the build record."""
    offenders = [
        f"{path.name}: {m.group(0)}"
        for path in sorted(Path(__file__).parent.glob("*.py"))
        if path.name != "conftest.py"
        for m in re.finditer(r"def _(q|builder)\(", path.read_text())
    ]
    assert offenders == []
