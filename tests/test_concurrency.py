"""functions/concurrency: overlapped actions keep the caller's job group."""

from __future__ import annotations

from spotify_tags_etl_spark.functions.concurrency import checkpoint_parallel, run_parallel


def test_parallel_helpers_keep_callers_job_group(spark):
    """Jobs submitted from the helpers' pool threads must land in the
    job group set on the calling thread, so an event log or a group
    cancel attributes them to the caller."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    sc.setJobGroup("concurrency-run", "run_parallel group")
    try:
        run_parallel(lambda: spark.range(10).count(), lambda: spark.range(20).count())
        assert len(tracker.getJobIdsForGroup("concurrency-run")) >= 2
        sc.setJobGroup("concurrency-cp", "checkpoint_parallel group")
        checkpoint_parallel({"a": spark.range(5), "b": spark.range(6)})
        assert len(tracker.getJobIdsForGroup("concurrency-cp")) >= 2
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        sc.setLocalProperty("spark.job.interruptOnCancel", None)
