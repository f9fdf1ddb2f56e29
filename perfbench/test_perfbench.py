"""Self-tests of the benchmark.

    python3 -m pytest perfbench -q

The input, checker and metric-name tests take seconds; the smoke runs start Spark
once per workload on the sf0.001-sized inputs (``--smoke``) and take
about a minute each.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import inputs  # noqa: E402
import run  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def _benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    digests = []
    for k in range(3):
        d = tmp_path / str(k)
        d.mkdir()
        seed = 7 if k < 2 else 8
        inputs.write_media(str(d), seed, 300)
        inputs.write_curation(str(d), seed, 50, 50, 100)
        digests.append(inputs.digest(str(d)))
    assert digests[0] == digests[1]
    assert digests[0] != digests[2]


def test_media_truth_has_dirty_rows_and_answers(tmp_path):
    truth = inputs.write_media(str(tmp_path), 3, 2000)
    assert truth.quarantine_rows > 0
    assert truth.valid_rows + truth.quarantine_rows == truth.media_rows
    assert all(n > 0 for n in truth.canned_rows.values())


def test_metric_names_match_benchmark_json():
    b = _benchmark_json()
    assert {m["name"]: m["unit"] for m in b["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in b["per_layer"]} == run.PER_LAYER
    assert {w["name"] for w in b["workloads"]} == set(WORKLOADS)


def test_oracle_check_detects_a_changed_row():
    import pandas as pd

    from checks import frame_digest

    a = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.5, 2.5]})
    shuffled = a.iloc[[2, 0, 1]]
    changed = a.assign(v=[0.5, 1.5, 2.6])
    assert frame_digest(a) == frame_digest(shuffled)
    assert frame_digest(a) != frame_digest(changed)


def test_fails_without_the_engine(tmp_path):
    """In a directory holding only BENCHMARK.json and perfbench/, the
    benchmark exits non-zero without printing a result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "media_etl", "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path,
        capture_output=True,
        text=True,
        timeout=180,
    )
    assert p.returncode != 0
    assert p.stdout.strip() == ""


def _smoke(workload: str, trace: int) -> dict:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "5", "--seconds", "1",
         "--trace", str(trace), "--smoke"],
        cwd=ROOT,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert p.returncode == 0, p.stderr[-4000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_smoke_run_prints_every_end_to_end_metric(workload):
    result = _smoke(workload, 0)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 1
    assert {k: v["unit"] for k, v in result["metrics"].items()} == run.END_TO_END
    assert all(v["value"] > 0 for v in result["metrics"].values())


def test_traced_runs_confirm_the_layer_split():
    media = {k: v["value"] for k, v in _smoke("media_etl", 1)["metrics"].items()}
    curation = {k: v["value"] for k, v in _smoke("curation_stream", 1)["metrics"].items()}
    assert set(media) == set(run.PER_LAYER) == set(curation)
    # media_etl uses no Python workers and no streams ...
    assert media["functions.python_bytes_sent"] == 0
    assert media["streaming.triggers"] == 0
    assert media["etl.output_bytes"] > 0 and media["etl.quarantine_rows"] > 0
    # ... and curation_stream writes no warehouse, but streams and calls Python
    assert curation["etl.output_bytes"] == 0
    assert curation["streaming.triggers"] > 0
    assert curation["functions.python_bytes_sent"] > 0
