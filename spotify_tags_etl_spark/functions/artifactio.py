"""The derived-artifact protocol: one keyed directory per staleness key.

Five artifact kinds publish derived state as a key-digest directory
under :func:`warehouse_root` (per-process by default — see its
docstring; ``SPARK_GRAFT_WAREHOUSE`` selects a durable root):

* ``ze01_fit`` — the perceptron fit weights (zeops);
* ``ze02_margin_parts`` — per-input-file margin scores (zeops);
* ``ze02_margins`` — the merged scored corpus (zeops);
* ``zf01_flags`` — the five-stage lineage flags (zfops);
* ``doc_partials`` / ``emb_partials`` — per-input-file stage partials
  (functions/partials.py).

This module owns every step of the protocol, so callers supply only
their key, their frame writes and their supersedes rule:

* :func:`artifact_dir` names the directory: ``<root>/<kind>/<digest>``,
  the digest being the first 16 hex digits of the md5 of the sorted
  JSON key.
* :func:`ensure` serves a fresh directory (in-process memo, re-verified
  against the filesystem, then the on-disk key) or builds it.
* :func:`publish` builds in ``<target>.tmp.<pid>``, writes ``meta.json``
  carrying the full key LAST, then renames the directory whole — so
  any directory at a digest path is complete by construction, and
  readers validate the embedded key before trusting it. A failed build
  removes its tmp directory and re-raises.

Two edges of the rename are hardened (r10 verdict items):

* **Verify the winner** — when the publish rename fails, the loser
  used to ASSUME "a concurrent publisher won; its copy is complete".
  The tmp+whole-rename invariant makes a bad target require external
  interference (a half-deleted dir, manual tampering), but the failure
  mode was then a silently-served wrong artifact. :func:`publish_atomic`
  re-reads the surviving target's meta and only treats the race as
  lost when the key matches; a corrupt or mismatched target is removed
  and the rename retried, and a second failure raises loudly.
* **GC superseded digests** — every fixture regeneration (the driver
  re-writes parquet each round, changing mtimes) used to strand the
  previous key-digest directory forever. :func:`gc_superseded` removes
  sibling digests whose key is superseded by the fresh publish (same
  logical input, older identity), bounding the warehouse at one live
  digest per (artifact, input) pair.

Single-machine scope note: GC unlinks parquet a CONCURRENT process may
still be reading. POSIX keeps open file handles readable, but a reader
that opens the directory after the unlink fails — acceptable for the
machine-local derived cache this is (a production deployment would
back artifacts with a versioned table format and vacuum instead).
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from typing import Callable

_PROC_WAREHOUSE: str | None = None

#: Directories verified fresh in this process, as (target, key JSON)
#: pairs: a hit skips the meta read but still checks the directory
#: exists (a same-process republish for a reverted input identity may
#: have GC'd it).
_MEMO: set[tuple[str, str]] = set()


def warehouse_root() -> str:
    """Root directory for every derived-artifact digest (stage partials,
    the ze01 fit / zf01 flags / ze02 margins artifacts).

    Default: one PER-PROCESS temp directory, created on first use and
    removed at interpreter exit. Artifacts are shared freely WITHIN a
    process — the publisher pays the corpus-sized pass once, every later
    consumer reads the pruned parquet — but nothing survives the
    process: a fresh bench or oracle invocation always recomputes from
    the parquet inputs. (r12 optimization-round rule: cross-run reuse
    would let a previous run's work masquerade as this run's speed, and
    would poison any per-core-count scaling comparison, which must
    measure each configuration's own compute. The previous fixed
    ``<repo>/spark-warehouse`` root persisted digests across processes.)

    ``SPARK_GRAFT_WAREHOUSE`` overrides the root for deployments that
    want a durable machine-local cache (the production pattern: a
    nightly publisher feeding many reader processes) and for tests that
    pin cross-process staleness/GC behavior. All publish/verify/GC
    machinery below is root-agnostic.
    """
    env = os.environ.get("SPARK_GRAFT_WAREHOUSE")
    if env:
        return env
    global _PROC_WAREHOUSE
    if _PROC_WAREHOUSE is None:
        import atexit
        import tempfile

        _PROC_WAREHOUSE = tempfile.mkdtemp(prefix="spark_graft_warehouse_")
        atexit.register(shutil.rmtree, _PROC_WAREHOUSE, True)
    return _PROC_WAREHOUSE


def artifact_dir(kind: str, key: dict) -> str:
    """The directory of ``kind``'s artifact for staleness ``key``."""
    digest = hashlib.md5(json.dumps(key, sort_keys=True).encode()).hexdigest()[:16]
    return os.path.join(warehouse_root(), kind, digest)


def read_meta(target: str) -> dict | None:
    """``target/meta.json`` as a dict, or None when it is absent,
    unreadable, or not a JSON object."""
    try:
        with open(os.path.join(target, "meta.json")) as fh:
            meta = json.load(fh)
    except (OSError, ValueError):
        return None
    return meta if isinstance(meta, dict) else None


def read_meta_key(target: str) -> object | None:
    """The staleness key embedded in ``target/meta.json``, or None when
    the meta is absent, unreadable, or not JSON — callers treat None as
    'this directory can never serve'."""
    return (read_meta(target) or {}).get("key")


def ensure(
    kind: str,
    key: dict,
    write: Callable[[str], None],
    supersedes: Callable[[object], bool],
) -> tuple[str, bool]:
    """The directory of ``kind``'s artifact for ``key``, built if needed.

    Returns ``(dir, built)``. A directory already verified in this
    process is served while it exists; otherwise one whose on-disk key
    equals ``key`` is served; otherwise :func:`publish` builds it."""
    target = artifact_dir(kind, key)
    memo_k = (target, json.dumps(key, sort_keys=True))
    if memo_k in _MEMO and os.path.isdir(target):
        return target, False
    built = read_meta_key(target) != key
    if built:
        publish(kind, key, write, supersedes)
    _MEMO.add(memo_k)
    return target, built


def publish(
    kind: str,
    key: dict,
    write: Callable[[str], None],
    supersedes: Callable[[object], bool],
    meta: dict | None = None,
) -> str:
    """Build and publish ``kind``'s artifact for ``key``; returns its dir.

    ``write(tmp)`` fills the tmp directory; ``meta.json`` (``key`` plus
    any ``meta`` fields) is written last. The whole directory is then
    renamed onto the target with the winner verified, and sibling
    digests that ``supersedes`` names are swept. A ``write`` that raises
    leaves no tmp directory behind."""
    target = artifact_dir(kind, key)
    # a mismatched/corrupt dir AT the target would make every rename
    # fail (the silently-stops-caching bug)
    remove_unservable_target(target, key)
    tmp = f"{target}.tmp.{os.getpid()}"
    try:
        os.makedirs(tmp, exist_ok=True)
        write(tmp)
        with open(os.path.join(tmp, "meta.json"), "w") as fh:
            json.dump({"key": key, **(meta or {})}, fh, indent=1)
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    publish_atomic(tmp, target, key)
    gc_superseded(target, supersedes)
    return target


def remove_unservable_target(target: str, key: dict) -> None:
    """Pre-publish clean: a directory already AT the target path whose
    meta does not match ``key`` can never be read as fresh, but its
    presence makes every publish rename fail (ENOTEMPTY) — the
    recompute-forever / silently-stops-caching failure mode. Remove it
    so the upcoming rename can land."""
    if os.path.exists(target) and read_meta_key(target) != key:
        shutil.rmtree(target, ignore_errors=True)


def publish_atomic(tmp: str, target: str, key: dict) -> None:
    """Rename ``tmp`` onto ``target``, verifying the winner on failure.

    Success path: one rename, nothing else. Failure path: the rename
    lost only if the surviving target's embedded key equals ``key``
    (then the tmp copy is redundant and dropped). Anything else at the
    target is interference — remove it and retry once; if the retry
    also fails and the survivor STILL doesn't match, raise instead of
    serving an unverified artifact."""
    try:
        os.rename(tmp, target)
        return
    except OSError:
        pass
    if read_meta_key(target) == key:  # genuine lost race — winner verified
        shutil.rmtree(tmp, ignore_errors=True)
        return
    shutil.rmtree(target, ignore_errors=True)
    try:
        os.rename(tmp, target)
    except OSError as exc:
        shutil.rmtree(tmp, ignore_errors=True)
        if read_meta_key(target) == key:  # a concurrent rebuild won the retry
            return
        raise RuntimeError(
            "artifact publish failed twice and the surviving target does"
            f" not match the staleness key: {target}"
        ) from exc


def gc_superseded(
    target: str, supersedes: Callable[[object], bool]
) -> list[str]:
    """Remove sibling key-digest dirs of ``target`` that the fresh
    publish supersedes: ``supersedes(sibling_key)`` decides (same
    logical input, older identity — the caller knows its key shape),
    and a sibling whose meta cannot be read is unservable garbage by
    the publish invariant, so it is removed too. In-flight ``.tmp.``
    dirs of concurrent publishers are never touched. Returns the
    removed paths (for tests)."""
    parent = os.path.dirname(target)
    removed: list[str] = []
    try:
        names = os.listdir(parent)
    except OSError:
        return removed
    for name in names:
        path = os.path.join(parent, name)
        if path == target or ".tmp." in name or not os.path.isdir(path):
            continue
        k = read_meta_key(path)
        if k is None or supersedes(k):
            shutil.rmtree(path, ignore_errors=True)
            removed.append(path)
    return removed
