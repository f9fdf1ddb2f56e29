"""Traced-run instruments: spans, the streaming listener, held-state
probes, Catalyst phase times and the Spark event-log reader.

Nothing here runs in an untraced run. A traced run wraps each operation
of a pass in spans recorded from the benchmark's own code (the builder
call, planning, the action), gives each operation its own job group,
and afterwards reads Spark's event log (``spark.eventLog.enabled``,
set as a launch conf) with the stdlib ``json`` module. Spans are kept
in memory and written out when the run ends.
"""

from __future__ import annotations

import json
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

#: Python-exec plan nodes whose SQL metrics count Python-worker traffic.
_PYTHON_NODES = ("Python", "Arrow", "InPandas", "FlatMapGroupsInPandas")
_PY_METRICS = {
    "data sent to Python workers": "sent",
    "data returned from Python workers": "returned",
    "number of output rows": "rows",
}


@dataclass
class Span:
    name: str
    start: float  # epoch seconds
    end: float
    parent: int | None
    op: str
    pass_no: int


@dataclass
class Tracer:
    """Spans and per-op probes of one traced run, kept in memory."""

    spans: list[Span] = field(default_factory=list)
    state: list[dict] = field(default_factory=list)  # held state after each op
    phases: list[dict] = field(default_factory=list)  # Catalyst phases per op
    progress: list[dict] = field(default_factory=list)  # streaming progress events
    _lock: threading.Lock = field(default_factory=threading.Lock)

    @contextmanager
    def span(self, name: str, op: str, pass_no: int, parent: int | None = None):
        idx = len(self.spans)
        self.spans.append(Span(name, time.time(), 0.0, parent, op, pass_no))
        try:
            yield idx
        finally:
            self.spans[idx].end = time.time()

    def probe_state(self, spark, op: str, pass_no: int) -> None:
        """Record what the process holds after an operation."""
        sc = spark.sparkContext
        infos = sc._jsc.sc().getRDDStorageInfo()
        self.state.append(
            {
                "op": op,
                "pass": pass_no,
                "persisted_rdds": sc._jsc.getPersistentRDDs().size(),
                "persisted_bytes": sum(i.memSize() + i.diskSize() for i in infos),
                "active_streams": len(spark.streams.active),
                "jvm_threads": spark._jvm.java.lang.Thread.activeCount(),
            }
        )

    def plan(self, df, op: str, pass_no: int) -> None:
        """Force optimization and physical planning of ``df``; record the
        Catalyst phase times its QueryExecution tracked."""
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        phases = qe.tracker().phases()
        row = {"op": op, "pass": pass_no}
        for phase in ("analysis", "optimization", "planning"):
            opt = phases.get(phase)
            row[phase] = opt.get().durationMs() / 1000.0 if opt.isDefined() else 0.0
        self.phases.append(row)

    def on_progress(self, progress) -> None:
        d = progress.durationMs or {}
        with self._lock:
            self.progress.append(
                {
                    "t": _iso_epoch(progress.timestamp),
                    "trigger_s": d.get("triggerExecution", 0) / 1000.0,
                    "add_batch_s": d.get("addBatch", 0) / 1000.0,
                    "query_planning_s": d.get("queryPlanning", 0) / 1000.0,
                    "wal_commit_s": d.get("walCommit", 0) / 1000.0,
                    "input_rows": progress.numInputRows or 0,
                    "state_rows": sum(s.numRowsTotal for s in progress.stateOperators or ()),
                }
            )

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as fh:
            json.dump(
                {
                    "spans": [s.__dict__ for s in self.spans],
                    "state": self.state,
                    "phases": self.phases,
                    "progress": self.progress,
                    **extra,
                },
                fh,
                indent=1,
            )


def _iso_epoch(ts: str) -> float:
    from datetime import datetime

    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def add_progress_listener(spark, tracer: Tracer):
    """Register a StreamingQueryListener that feeds ``tracer``."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            tracer.on_progress(event.progress)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    listener = _Listener()
    spark.streams.addListener(listener)
    return listener


# --- event log ---------------------------------------------------------------


def _python_accums(plan: dict, out: dict) -> None:
    python_node = any(k in plan.get("nodeName", "") for k in _PYTHON_NODES)
    for m in plan.get("metrics", ()):
        if python_node and m.get("name") in _PY_METRICS:
            out[m["accumulatorId"]] = _PY_METRICS[m["name"]]
    for child in plan.get("children", ()):
        _python_accums(child, out)


def read_event_log(path: str) -> dict:
    """Jobs (submission time, stages) and per-stage task totals."""
    jobs: list[dict] = []
    stage_tot: dict[int, dict] = {}
    py_accums: dict[int, str] = {}
    with open(path) as fh:
        for line in fh:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                jobs.append({"t": e["Submission Time"] / 1000.0, "stages": e["Stage IDs"]})
            elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                "SparkListenerSQLAdaptiveExecutionUpdate"
            ):
                _python_accums(e.get("sparkPlanInfo", {}), py_accums)
            elif kind == "SparkListenerTaskEnd":
                tm = e.get("Task Metrics") or {}
                t = stage_tot.setdefault(e["Stage ID"], _zero_stage())
                t["tasks"] += 1
                t["task_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                t["gc_s"] += tm.get("JVM GC Time", 0) / 1000.0
                t["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
                t["shuffle_write_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                inp, outp = tm.get("Input Metrics") or {}, tm.get("Output Metrics") or {}
                t["input_rows"] += inp.get("Records Read", 0)
                t["input_bytes"] += inp.get("Bytes Read", 0)
                t["output_rows"] += outp.get("Records Written", 0)
                t["output_bytes"] += outp.get("Bytes Written", 0)
                for a in (e.get("Task Info") or {}).get("Accumulables", ()):
                    t["accums"].append((a.get("ID"), a.get("Update")))
    for t in stage_tot.values():
        for acc_id, update in t.pop("accums"):
            kind = py_accums.get(acc_id)
            if kind is not None and isinstance(update, (int, float, str)):
                t[f"python_{kind}"] += int(update)
    return {"jobs": jobs, "stages": stage_tot}


def _zero_stage() -> dict:
    return {
        "tasks": 0,
        "task_cpu_s": 0.0,
        "gc_s": 0.0,
        "spill_bytes": 0,
        "shuffle_write_bytes": 0,
        "input_rows": 0,
        "input_bytes": 0,
        "output_rows": 0,
        "output_bytes": 0,
        "python_sent": 0,
        "python_returned": 0,
        "python_rows": 0,
        "accums": [],
    }


# --- aggregation -------------------------------------------------------------


def _median(values) -> float:
    return float(statistics.median(values))


def _pct(values, q: float) -> float:
    values = sorted(values)
    if not values:
        return 0.0
    return float(values[min(len(values) - 1, int(q * len(values)))])


def layer_metrics(tracer: Tracer, log: dict, timed_passes: list[int], op_kinds: dict[str, str]) -> dict:
    """Per-layer metrics: per-pass totals over the timed passes, as medians.

    A job belongs to the op whose span contains its submission time. Ops
    run one at a time, and this rule also covers streaming micro-batches,
    which run under the stream's own job group rather than the op's.
    Tasks follow their stage's job. ``op_kinds`` maps op name → "etl" |
    "query" | "stream".
    """
    op_spans = [s for s in tracer.spans if s.parent is None and s.pass_no in timed_passes]
    build_spans = [s for s in tracer.spans if s.name == "build" and s.pass_no in timed_passes]
    stage_job: dict[int, dict] = {}
    for job in log["jobs"]:
        for sid in job["stages"]:
            stage_job[sid] = job

    def owner(t: float, spans: list[Span]) -> Span | None:
        for s in spans:
            if s.start <= t <= s.end:
                return s
        return None

    per_pass: dict[int, dict] = {p: {"eager_jobs": 0} for p in timed_passes}
    for job in log["jobs"]:
        span = owner(job["t"], build_spans)
        if span is not None:
            per_pass[span.pass_no]["eager_jobs"] += 1
    for sid, tot in log["stages"].items():
        job = stage_job.get(sid)
        span = owner(job["t"], op_spans) if job else None
        if span is None:
            continue
        acc = per_pass[span.pass_no]
        for k, v in tot.items():
            key = f"etl_{k}" if op_kinds.get(span.op) == "etl" and k.startswith("output_") else k
            acc[key] = acc.get(key, 0) + v

    def per(key: str) -> float:
        return _median(per_pass[p].get(key, 0) for p in timed_passes)

    def span_total(name: str) -> float:
        return _median(
            sum(s.end - s.start for s in tracer.spans if s.pass_no == p and s.name == name) for p in timed_passes
        )

    def state_peak(key: str) -> float:
        return _median(
            max((r[key] for r in tracer.state if r["pass"] == p), default=0) for p in timed_passes
        )

    def phase_total(key: str) -> float:
        return _median(sum(r[key] for r in tracer.phases if r["pass"] == p) for p in timed_passes)

    pass_windows = {
        p: (min(s.start for s in op_spans if s.pass_no == p), max(s.end for s in op_spans if s.pass_no == p))
        for p in timed_passes
    }
    prog_by_pass = {p: [r for r in tracer.progress if w[0] <= r["t"] <= w[1]] for p, w in pass_windows.items()}
    triggers = [r["trigger_s"] for p in timed_passes for r in prog_by_pass[p]]

    def prog(key: str, agg=sum) -> float:
        return _median(agg([r[key] for r in prog_by_pass[p]] or [0]) for p in timed_passes)

    def stream_share(p: int) -> float:
        wall = pass_windows[p][1] - pass_windows[p][0]
        busy = sum(s.end - s.start for s in op_spans if s.pass_no == p and op_kinds.get(s.op) == "stream")
        return busy / wall if wall > 0 else 0.0

    return {
        "operators.build_s": span_total("build"),
        "operators.exec_s": span_total("action"),
        "operators.eager_jobs": per("eager_jobs"),
        "operators.tasks": per("tasks"),
        "operators.task_cpu_s": per("task_cpu_s"),
        "operators.shuffle_write_bytes": per("shuffle_write_bytes"),
        "operators.spill_bytes": per("spill_bytes"),
        "operators.gc_s": per("gc_s"),
        "session.persisted_rdds": state_peak("persisted_rdds"),
        "session.persisted_bytes": state_peak("persisted_bytes"),
        "session.active_streams": state_peak("active_streams"),
        "session.jvm_threads": state_peak("jvm_threads"),
        "functions.python_bytes_sent": per("python_sent"),
        "functions.python_bytes_returned": per("python_returned"),
        "functions.python_rows_returned": per("python_rows"),
        "streaming.triggers": _median(len(prog_by_pass[p]) for p in timed_passes),
        "streaming.trigger_p50_s": _pct(triggers, 0.5),
        "streaming.trigger_p90_s": _pct(triggers, 0.9),
        "streaming.add_batch_s": prog("add_batch_s"),
        "streaming.query_planning_s": prog("query_planning_s"),
        "streaming.wal_commit_s": prog("wal_commit_s"),
        "streaming.input_rows": prog("input_rows"),
        "streaming.state_rows": prog("state_rows", max),
        "streaming.op_share": _median(stream_share(p) for p in timed_passes),
        "plans.analysis_s": phase_total("analysis"),
        "plans.optimization_s": phase_total("optimization"),
        "plans.planning_s": phase_total("planning"),
        "sources.input_rows": per("input_rows"),
        "sources.input_bytes": per("input_bytes"),
        "etl.output_rows": per("etl_output_rows"),
        "etl.output_bytes": per("etl_output_bytes"),
    }
