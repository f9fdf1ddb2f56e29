from __future__ import annotations

import os
import sys
from dataclasses import dataclass

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from spotify_tags_etl_spark.session import get_spark

SF_SMALL = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_SHUFFLE_PARTITIONS", "8")
    spark = get_spark("spotify-tags-etl-spark-tests", master="local[8]")
    # r12 ADVICE: the exchange-count pins assume the scale-adaptive scan
    # fan-out FIRES on the single-split fixtures — which requires more
    # than one core. A runner at local[1] (or with FAN_TASK_BYTES
    # overridden large) would flip dozens of pins with confusing
    # mismatches; fail loud with the actual precondition instead.
    assert spark.sparkContext.defaultParallelism > 1, (
        "plan pins require defaultParallelism > 1 (the scan fan-out "
        "must fire on single-split fixtures); run tests on local[N>1]"
    )
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMALL


def _distinct(log: list, form) -> dict[str, list]:
    """label -> the sorted distinct entries of a ``(label, entry)`` pin
    log, each passed through ``form``."""
    seen: dict[str, set] = {}
    for label, entry in log:
        seen.setdefault(label, set()).add(entry)
    return {label: [form(e) for e in sorted(entries)] for label, entries in seen.items()}


def _nonzero(fp: tuple) -> dict[str, int]:
    return {k: v for k, v in fp if v}


@dataclass(frozen=True)
class BuildRecord:
    """Everything the tests check about one build of a registered query.
    It holds no DataFrame, so no checkpoint of the build outlives it."""

    name: str
    plan: dict[str, int]  # plan-ratchet fingerprint (tools/plan_audit)
    pdf: object  # toPandas(): the frame oracle parity compares
    rows: list
    # the slices of the engine's pin logs that the build wrote
    loop_plans: list
    scans: list
    state_ops: list
    micro_plans: list

    def observed_loop_plans(self) -> dict[str, list[dict[str, int]]]:
        return _distinct(self.loop_plans, _nonzero)

    def observed_scans(self) -> dict[str, list[list[str]]]:
        return _distinct(self.scans, list)

    def observed_micro_plans(self) -> dict[str, list[dict[str, int]]]:
        return _distinct(self.micro_plans, _nonzero)


def build_record(spark, sf_dir: str, name: str) -> BuildRecord:
    """Build ``name`` once: fingerprint the plan before any other action
    on the returned frame, collect it, and keep the pin-log slices the
    build wrote."""
    from spotify_tags_etl_spark.plans import planmetrics as pm
    from spotify_tags_etl_spark.plans import registry
    from spotify_tags_etl_spark.streaming import ops as sops
    from tools.plan_audit import fingerprint

    logs = (pm.LOOP_PLAN_LOG, pm.SCAN_LOG, sops.STATE_OPS_LOG, sops.MICRO_PLAN_LOG)
    marks = [len(log) for log in logs]
    qd = registry.get(name)
    df = qd.builder(spark, sf_dir)
    plan = fingerprint(df)
    pdf = df.toPandas()
    rows = df.collect()
    slices = [log[mark:] for log, mark in zip(logs, marks)]
    return BuildRecord(qd.name, plan, pdf, rows, *slices)


class BuildRecords:
    """``records(name)`` -> the one :class:`BuildRecord` of a registered
    query at ``sf_dir``; the first request for a name builds it."""

    def __init__(self, spark, sf_dir: str):
        self._spark = spark
        self._sf_dir = sf_dir
        self._records: dict[str, BuildRecord] = {}

    def __call__(self, name: str) -> BuildRecord:
        from spotify_tags_etl_spark.plans import registry

        key = registry.get(name).name
        if key not in self._records:
            self._records[key] = build_record(self._spark, self._sf_dir, key)
        return self._records[key]


@pytest.fixture(scope="session")
def built(spark, sf_dir) -> BuildRecords:
    """The session's build records: each registered query is built once
    at ``sf_dir`` for oracle parity, the plan ratchet, the state-shape
    and loop-stage pins and the value tests alike."""
    return BuildRecords(spark, sf_dir)


def assert_loop_pins(rec: BuildRecord, plans: dict, scans: dict) -> None:
    """Compare a build's loop-stage scan columns and plan fingerprints
    with their pins (plans/planmetrics.LOOP_PLAN_LOG / SCAN_LOG)."""
    observed_scans = rec.observed_scans()
    assert observed_scans == scans, (
        f"{rec.name}: stage scan columns changed — got {observed_scans}, "
        f"pinned {scans}. A widened ReadSchema means column pruning "
        "broke; an extra scan signature means a corpus re-read appeared."
    )
    observed = rec.observed_loop_plans()
    assert observed == plans, (
        f"{rec.name}: loop-stage plan fingerprint changed — got {observed}, "
        f"pinned {plans}. A gained metric means an unplanned shuffle/Python "
        "stage inside a driver-loop stage the batch ratchet cannot see. If "
        "deliberate, update the pin."
    )
