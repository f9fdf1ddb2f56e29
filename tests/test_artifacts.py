"""The derived-artifact protocol (functions/artifactio.py): the publish
and GC primitives, the one ``ensure`` every artifact kind goes through,
the in-process memo, and the structure pin that keeps the protocol
spelled in one module. Shared fixtures for artifact tests (a private
sf_dir copy, a partitioned corpus) live here too."""

from __future__ import annotations

import json
import os
import shutil
from pathlib import Path

import pyarrow.parquet as pq
import pytest

from spotify_tags_etl_spark.functions import artifactio

ENGINE = Path(__file__).resolve().parent.parent / "spotify_tags_etl_spark"


# ---------------------------------------------------------------------------
# fixtures — a private sf_dir copy and a partitioned corpus
# ---------------------------------------------------------------------------


@pytest.fixture()
def flags_sandbox(spark, sf_dir, tmp_path):
    """A private sf_dir copy so artifact tests can mutate inputs/targets
    without touching the shared warehouse digests."""
    root = str(tmp_path)
    for t in ("documents", "embeddings"):
        shutil.copy(
            os.path.join(sf_dir, f"{t}.parquet"),
            os.path.join(root, f"{t}.parquet"),
        )
    return root


def _split_parquet(src: str, dest_dir: str, n_parts: int) -> list[str]:
    """Split one fixture parquet into ``n_parts`` part files inside a
    directory-shaped table (the partitioned-corpus layout the
    incremental artifact layer exists for)."""
    tbl = pq.read_table(src)
    os.makedirs(dest_dir, exist_ok=True)
    step = (tbl.num_rows + n_parts - 1) // n_parts
    paths = []
    for i in range(n_parts):
        part = tbl.slice(i * step, step)
        p = os.path.join(dest_dir, f"part-{i:03d}.parquet")
        pq.write_table(part, p)
        paths.append(p)
    return paths


@pytest.fixture()
def parted_corpus(sf_dir, tmp_path):
    """A private sf_dir whose documents table is a 3-part directory and
    embeddings a 2-part directory — plus the part paths."""
    root = str(tmp_path / "sf")
    os.makedirs(root)
    doc_parts = _split_parquet(
        os.path.join(sf_dir, "documents.parquet"),
        os.path.join(root, "documents.parquet"),
        3,
    )
    emb_parts = _split_parquet(
        os.path.join(sf_dir, "embeddings.parquet"),
        os.path.join(root, "embeddings.parquet"),
        2,
    )
    return root, doc_parts, emb_parts


def _mutate_one_doc(part_path: str) -> None:
    """Rewrite one part file with one document's text changed — a real
    content change (new identity AND new derived rows), not just a
    metadata touch."""
    tbl = pq.read_table(part_path).to_pydict()
    tbl["text"][0] = tbl["text"][0] + " zzzmutation zzzmutation zzzmutation"
    import pyarrow as pa

    pq.write_table(pa.table(tbl), part_path)


# ---------------------------------------------------------------------------
# publish verification + GC primitives (r10 verdict #5/#6)
# ---------------------------------------------------------------------------


def _mk_artifact(path: str, key) -> None:
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, "meta.json"), "w") as fh:
        json.dump({"key": key}, fh)
    with open(os.path.join(path, "payload.bin"), "w") as fh:
        fh.write(str(key))


def test_publish_atomic_happy_path(tmp_path):
    tmp = str(tmp_path / "digest.tmp.123")
    target = str(tmp_path / "digest")
    _mk_artifact(tmp, {"v": 1})
    artifactio.publish_atomic(tmp, target, {"v": 1})
    assert artifactio.read_meta_key(target) == {"v": 1}
    assert not os.path.exists(tmp)


def test_publish_atomic_lost_race_verifies_winner(tmp_path):
    """A failing rename is trusted as 'lost the race' ONLY when the
    surviving target's embedded key matches — the r10 verdict's
    silently-served-wrong-artifact gap."""
    tmp = str(tmp_path / "digest.tmp.123")
    target = str(tmp_path / "digest")
    _mk_artifact(target, {"v": 1})  # genuine winner, same key
    _mk_artifact(tmp, {"v": 1})
    artifactio.publish_atomic(tmp, target, {"v": 1})
    assert artifactio.read_meta_key(target) == {"v": 1}
    assert not os.path.exists(tmp)  # loser's copy dropped


def test_publish_atomic_replaces_tampered_target(tmp_path):
    """A target whose meta MISMATCHES the key is interference, not a
    winner: it is removed and the publish retried, so the fresh copy
    lands instead of the tampered one being silently served."""
    tmp = str(tmp_path / "digest.tmp.123")
    target = str(tmp_path / "digest")
    _mk_artifact(target, {"v": "TAMPERED"})
    _mk_artifact(tmp, {"v": 2})
    artifactio.publish_atomic(tmp, target, {"v": 2})
    assert artifactio.read_meta_key(target) == {"v": 2}


def test_publish_atomic_raises_when_winner_unverifiable(tmp_path, monkeypatch):
    """If the rename keeps failing AND the survivor never matches the
    key, publish raises loudly instead of serving an unverified dir."""
    tmp = str(tmp_path / "digest.tmp.123")
    target = str(tmp_path / "digest")
    _mk_artifact(tmp, {"v": 3})

    real_rename = os.rename

    def failing(src, dst):
        if dst == target:
            raise OSError("simulated ENOTEMPTY")
        return real_rename(src, dst)

    monkeypatch.setattr(os, "rename", failing)
    with pytest.raises(RuntimeError, match="does not match"):
        artifactio.publish_atomic(tmp, target, {"v": 3})


def test_gc_superseded_sweeps_stale_digests(tmp_path):
    """GC removes same-input siblings and unreadable-meta garbage,
    keeps other-input siblings and in-flight .tmp. dirs."""
    target = str(tmp_path / "fresh")
    stale = str(tmp_path / "stale")
    other = str(tmp_path / "other")
    garbage = str(tmp_path / "garbage")
    inflight = str(tmp_path / "fresh.tmp.999")
    _mk_artifact(target, {"path": "/a", "mtime": 2})
    _mk_artifact(stale, {"path": "/a", "mtime": 1})
    _mk_artifact(other, {"path": "/b", "mtime": 1})
    os.makedirs(garbage)  # no meta.json at all
    _mk_artifact(inflight, {"path": "/a", "mtime": 3})

    removed = artifactio.gc_superseded(
        target, lambda k: isinstance(k, dict) and k.get("path") == "/a"
    )
    assert sorted(removed) == sorted([stale, garbage])
    assert os.path.exists(target)
    assert os.path.exists(other)
    assert os.path.exists(inflight)


# ---------------------------------------------------------------------------
# ensure — the one publish/serve protocol
# ---------------------------------------------------------------------------


@pytest.fixture()
def warehouse(tmp_path, monkeypatch):
    root = str(tmp_path / "wh")
    monkeypatch.setenv("SPARK_GRAFT_WAREHOUSE", root)
    return root


def test_artifact_dir_is_the_key_digest(warehouse):
    import hashlib

    key = {"b": [1, 2], "a": {"z": 1, "y": 2}}
    digest = hashlib.md5(json.dumps(key, sort_keys=True).encode()).hexdigest()[:16]
    assert artifactio.artifact_dir("kind_x", key) == os.path.join(
        warehouse, "kind_x", digest
    )


def test_ensure_builds_once_then_serves(warehouse):
    """A miss builds (meta written last, key embedded) and reports it; a
    repeat serves the same directory without building, from the memo
    and, with the memo cleared, from the on-disk key."""
    calls: list[str] = []

    def write(tmp: str) -> None:
        calls.append(tmp)
        with open(os.path.join(tmp, "payload.bin"), "w") as fh:
            fh.write("x")

    key = {"v": 1}
    d, built = artifactio.ensure("kind_x", key, write, lambda k: False)
    assert built and len(calls) == 1
    assert d == artifactio.artifact_dir("kind_x", key)
    assert artifactio.read_meta_key(d) == key
    assert os.listdir(os.path.dirname(d)) == [os.path.basename(d)]
    assert artifactio.ensure("kind_x", key, write, lambda k: False) == (d, False)
    artifactio._MEMO.clear()
    assert artifactio.ensure("kind_x", key, write, lambda k: False) == (d, False)
    assert len(calls) == 1


def test_failed_build_leaves_no_tmp_and_reraises(warehouse):
    """A raising ``write`` removes its ``<target>.tmp.<pid>`` directory
    (gc_superseded never sweeps ``.tmp.`` names, so a leftover under a
    durable root would stay forever), publishes nothing, and the error
    reaches the caller."""

    def write(tmp: str) -> None:
        with open(os.path.join(tmp, "half.bin"), "w") as fh:
            fh.write("partial")
        raise ValueError("build failed")

    key = {"v": 4}
    with pytest.raises(ValueError, match="build failed"):
        artifactio.ensure("kind_x", key, write, lambda k: False)
    target = artifactio.artifact_dir("kind_x", key)
    assert not os.path.exists(target)
    assert os.listdir(os.path.dirname(target)) == []


def test_file_supersedes_rule():
    """The per-input-file GC rule shared by the stage partials and the
    ze02 score parts: same file with a strictly older identity (and
    equal on the named fields), or an input file that is gone."""
    from spotify_tags_etl_spark.functions.partials import file_supersedes

    me = os.path.abspath(__file__)
    key = {"file": me, "identity": {"mtime_ns": 10, "size": 5}, "weights": "w1"}
    sup = file_supersedes(key, "weights")
    older = {"file": me, "identity": {"mtime_ns": 9, "size": 5}, "weights": "w1"}
    assert sup(older)
    assert not sup(dict(older, weights="w2"))  # another model's scores
    assert not sup(dict(older, identity={"mtime_ns": 11, "size": 5}))  # newer
    assert not sup(dict(key))  # equal identity
    assert sup({"file": "/nonexistent/gone.parquet", "identity": {}})  # orphan
    assert not sup(None)
    assert file_supersedes(key)(dict(older, weights="w2"))  # no fields named


# ---------------------------------------------------------------------------
# the in-process memo — one memo for every artifact kind
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("artifact", ["flags", "margins"])
def test_memo_hit_verifies_directory_exists(spark, parted_corpus, artifact):
    """r11 ADVICE #2: a memo hit whose directory was GC'd (input
    identity reverted mid-process) must fall through to recompute, not
    fail with FileNotFound."""
    from spotify_tags_etl_spark.operators import zeops, zfops

    read, key, kind = {
        "flags": (zfops.zf01_flags_artifact, zfops._flags_key, "zf01_flags"),
        "margins": (zeops.ze02_margins_artifact, zeops._margins_key, "ze02_margins"),
    }[artifact]
    root, _, _ = parted_corpus
    artifactio._MEMO.clear()
    first = read(spark, root).count()
    target = artifactio.artifact_dir(kind, key(root))
    shutil.rmtree(target)  # memo now points at a deleted dir
    assert read(spark, root).count() == first


# ---------------------------------------------------------------------------
# structure pin — the protocol is spelled only in artifactio
# ---------------------------------------------------------------------------


def test_artifact_protocol_is_spelled_only_in_artifactio():
    home = ENGINE / "functions" / "artifactio.py"
    needles = (
        "meta.json",
        ".tmp.",
        "publish_atomic(",
        "gc_superseded(",
        "remove_unservable_target(",
    )
    offenders = [
        f"{path.relative_to(ENGINE)}: {needle}"
        for path in sorted(ENGINE.rglob("*.py"))
        if path != home
        for needle in needles
        if needle in path.read_text()
    ]
    assert offenders == []
    assert all(needle in home.read_text() for needle in needles)  # the pin still sees them
