"""Overlap independent Spark actions (optimization guide §2.6).

Actions are only sequential because driver code calls them
sequentially: Spark's scheduler happily runs several jobs at once
inside one application, and with default FIFO scheduling a later job's
tasks back-fill executors freed by the earlier job's tail. None of the
close-time/per-trigger jobs these helpers are used on fills the
cluster by itself, so overlapping them buys wall clock without
changing a single frame, plan, or value.

Thread safety: job submission through py4j is thread-safe; job
descriptions/groups and other local properties are thread-local (guide
§1.5), so every thunk is wrapped with ``inheritable_thread_target`` and
its jobs land in the CALLER's job group, description and tags. The
pools here are tiny (one worker per independent action) and short-lived.
"""

from __future__ import annotations

import os
import threading
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager
from typing import Callable, Iterator

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession


def _inheriting(thunk: Callable[[], object]) -> Callable[[], object]:
    """``thunk`` bound to the calling thread's local properties and
    session tags, captured now (on the caller's thread)."""
    session = SparkSession.getActiveSession()
    return thunk if session is None else inheritable_thread_target(session)(thunk)


def checkpoint_parallel(frames: dict[str, DataFrame]) -> dict[str, DataFrame]:
    """Eagerly localCheckpoint INDEPENDENT frames as concurrent jobs.
    Same frames, same plans, same checkpoints — only the driver-side
    submission overlaps."""
    if len(frames) <= 1:
        return {k: df.localCheckpoint(eager=True) for k, df in frames.items()}
    with ThreadPoolExecutor(max_workers=len(frames)) as pool:
        futs = {
            k: pool.submit(_inheriting(lambda df=df: df.localCheckpoint(eager=True)))
            for k, df in frames.items()
        }
        return {k: f.result() for k, f in futs.items()}


#: Per-task input floor for :func:`fan_out_scan` — the fan width is
#: ceil(input bytes / this), capped at the core count, so a task always
#: has enough work to clear the scheduling floor (the §2.2 analog of
#: ``spark.sql.files.maxPartitionBytes``, applied where file splits
#: cannot: a single-row-group parquet file is one split no matter the
#: split config). Measured at sf0.1: width 8-10 beats both no fan-out
#: (single-task map work) and a full 32-way fan (per-task work drops
#: under the scheduling floor and the per-trigger stores fragment into
#: 32 files each, which the close-time reads then pay for).
FAN_TASK_BYTES = int(os.environ.get("SPARK_GRAFT_FAN_TASK_BYTES", str(64 * 1024)))


def fan_out_scan(df: DataFrame, *keys: str) -> DataFrame:
    """Scale-adaptive scan fan-out (guide §2.2/§2.5/§6): when an
    input's scan parallelism is below the session's core count — the
    fixture corpora are single parquet files with ONE row group, so
    every per-doc map stage (shingling, MinHash, gram explodes,
    design-matrix folds) otherwise runs as ONE task on a 32-core box —
    hash-repartition by a stable key so the heavy narrow compute
    spreads. The width derives from the input's optimizer size
    statistics (bytes / FAN_TASK_BYTES, floor 2 so the plan shape is
    deterministic at every fixture SF, cap ``defaultParallelism``);
    the shuffle moves only the sub-core-count input (hundreds of KB
    here), and the hash key is a real column (never rand()), so
    retried tasks reproduce the same assignment (guide §2.5 /
    SPARK-38388).

    At production scale the condition — not a tuned constant — is the
    contract: a 100 TB corpus scan already has far more splits than
    cores, ``getNumPartitions() >= defaultParallelism`` holds, and the
    frame passes through untouched (no shuffle of the payload)."""
    from pyspark.sql import functions as F

    sc = df.sparkSession.sparkContext
    cores = sc.defaultParallelism
    # r12 ADVICE: both probes reach into internals (a plan build for
    # .rdd, a py4j stats call) — degrade gracefully rather than fail
    # the query if a Spark upgrade moves them: no partition count means
    # no fan (the safe no-op), no size estimate means width = cores
    # (the condition, not the width, is the contract).
    try:
        have = df.rdd.getNumPartitions()
    except Exception:
        return df
    if have >= cores:
        return df
    try:
        size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        width = min(cores, max(2, -(-size // FAN_TASK_BYTES)))
    except Exception:
        width = cores
    if width <= have:
        return df
    if keys:
        return df.repartition(width, *[F.col(k) for k in keys])
    return df.repartition(width)


#: Per-partition input floor for :func:`shuffle_width_for_bytes` — the
#: initial-shuffle-width analog of FAN_TASK_BYTES. The width only needs
#: to be an UPPER bound (AQE coalesces below it at runtime; it cannot
#: split above it without skew), so it is sized from the data the
#: publisher actually moves: at KB-MB volumes the session's static 32
#: initial partitions cost real wall clock (32 shuffle-write buckets x
#: every exchange x 5 concurrent publisher jobs — measured: zf01
#: 5.24 -> 4.13 s median at 32 cores when bounded), while at production
#: volume bytes/floor exceeds the session value and the bound is a
#: NO-OP (the condition, not the constant, is the contract — the same
#: shape as fan_out_scan).
BOUND_TASK_BYTES = int(
    os.environ.get("SPARK_GRAFT_BOUND_TASK_BYTES", str(256 * 1024))
)

#: Serializes session-conf mutation across concurrent bounded regions:
#: ``spark.sql.shuffle.partitions`` is session-global, so two
#: overlapping set/restore pairs would clobber each other's saved
#: previous value (r12 ADVICE). One region at a time; the engine never
#: nests bounded regions on independent threads.
_SHUFFLE_BOUND_LOCK = threading.RLock()


def shuffle_width_for_bytes(n_bytes: int, session_parts: int) -> int:
    """Scale-adaptive initial shuffle width for a job moving
    ``n_bytes``: ceil(bytes / BOUND_TASK_BYTES), floor 2 (deterministic
    plan shape at tiny fixtures), capped at the session's configured
    partitions — at real scale the cap always wins and the session
    value is untouched."""
    return min(session_parts, max(2, -(-int(n_bytes) // BOUND_TASK_BYTES)))


@contextmanager
def bounded_shuffle(spark, n_bytes: int) -> Iterator[int]:
    """Freeze ``spark.sql.shuffle.partitions`` to
    :func:`shuffle_width_for_bytes` for the duration of the block, then
    restore the previous session value (guide §2.2: fewer, larger
    partitions when the data is small; AQE still coalesces further at
    runtime). Guarded by a module lock so concurrent regions cannot
    interleave their set/restore pairs, and restore runs on ANY exit —
    including a failure before the first action (r12 ADVICE on the §15
    streaming pin)."""
    with _SHUFFLE_BOUND_LOCK:
        prev = spark.conf.get("spark.sql.shuffle.partitions")
        width = shuffle_width_for_bytes(n_bytes, int(prev))
        spark.conf.set("spark.sql.shuffle.partitions", str(width))
        try:
            yield width
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev)


def input_file_bytes(*paths: str) -> int:
    """Total on-disk bytes of the given files/parquet dirs — the
    cheapest honest volume estimate for sizing a publisher's shuffle
    bound (no extra Spark plan builds; deterministic for a fixture)."""
    total = 0
    for p in paths:
        if os.path.isdir(p):
            for root, _dirs, files in os.walk(p):
                total += sum(
                    os.path.getsize(os.path.join(root, f)) for f in files
                )
        elif os.path.exists(p):
            total += os.path.getsize(p)
    return total


def run_parallel(*thunks: Callable[[], object]) -> list[object]:
    """Run INDEPENDENT actions (sink writes, collects) concurrently;
    returns their results in argument order. Exceptions propagate
    after all thunks have settled."""
    if len(thunks) <= 1:
        return [t() for t in thunks]
    with ThreadPoolExecutor(max_workers=len(thunks)) as pool:
        futs = [pool.submit(_inheriting(t)) for t in thunks]
        return [f.result() for f in futs]
