"""Benchmark entry point.

    python3 perfbench/run.py --workload media_etl --seed 1 --seconds 6 --trace 0

Run from the root of a checkout of the repository. One run:

1. sets up five times and reports the median as ``setup_s``. One
   set-up is a fresh SparkSession on ``local[nproc]`` and the workload's
   ops resolved. Before each, untimed, the seeded inputs are generated
   into a fresh directory. The first set-up is timed from interpreter
   start, so it also covers imports, the first inputs and the JVM launch
   (reported as ``run.launch_s`` in a traced run). The input directories
   must hash the same, or the run is not correct;
2. runs the workload's untimed warm-up passes (three or four); the
   first, cold one is reported as ``run.cold_pass_s`` in a traced run;
3. runs timed passes for ``--seconds``, and at least the workload's
   minimum count (three or eight), with Python and JVM garbage
   collection between passes, outside the timed region;
4. checks the last timed pass's outputs, outside the timed region;
5. prints one JSON line: ``correct``, ``attempted``/``failed`` (ops run in
   timed passes, and those that raised or whose output was wrong), and
   the end-to-end metrics, or with ``--trace 1`` the per-layer metrics.

Everything the run writes goes under ``.perfbench_out/`` in the
checkout; the work directory is removed at exit and a traced run keeps
its span file in ``.perfbench_out/traces/``.
"""

from __future__ import annotations

import time

_T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import gc  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from inputs import MediaTruth, digest  # noqa: E402

ENGINE = "spotify_tags_etl_spark"
OUT_DIR = ".perfbench_out"
SETUP_ROUNDS = 5

#: End-to-end metrics (``--trace 0``) and their units.
END_TO_END = {"setup_s": "s", "pass_s": "s"}

#: Per-layer metrics (``--trace 1``) and their units.
PER_LAYER = {
    "operators.build_s": "s",
    "operators.exec_s": "s",
    "operators.eager_jobs": "count",
    "operators.tasks": "count",
    "operators.task_cpu_s": "s",
    "operators.shuffle_write_bytes": "bytes",
    "operators.spill_bytes": "bytes",
    "operators.gc_s": "s",
    "session.persisted_rdds": "count",
    "session.persisted_bytes": "bytes",
    "session.active_streams": "count",
    "session.jvm_threads": "count",
    "functions.python_bytes_sent": "bytes",
    "functions.python_bytes_returned": "bytes",
    "functions.python_rows_returned": "count",
    "streaming.triggers": "count",
    "streaming.trigger_p50_s": "s",
    "streaming.trigger_p90_s": "s",
    "streaming.add_batch_s": "s",
    "streaming.query_planning_s": "s",
    "streaming.wal_commit_s": "s",
    "streaming.input_rows": "count",
    "streaming.state_rows": "count",
    "streaming.op_share": "ratio",
    "plans.analysis_s": "s",
    "plans.optimization_s": "s",
    "plans.planning_s": "s",
    "sources.input_rows": "count",
    "sources.input_bytes": "bytes",
    "etl.load_s": "s",
    "etl.load_rows_per_s": "1/s",
    "etl.output_rows": "count",
    "etl.output_bytes": "bytes",
    "etl.quarantine_rows": "count",
    "run.pass_s": "s",
    "run.query_p50_s": "s",
    "run.query_p90_s": "s",
    "run.ops_failed_frac": "ratio",
    "run.launch_s": "s",
    "run.cold_pass_s": "s",
    "run.timed_passes": "count",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true", help="tiny sf0.001 inputs, for the benchmark's own tests")
    return p.parse_args(argv)


def isolate(work: str, trace: bool) -> dict:
    """Point every scratch location of Python, the JVM and Spark at
    ``work``; returns the directories made. Must run before pyspark
    starts its JVM: the confs are launch confs."""
    dirs = {k: os.path.join(work, k) for k in ("tmp", "local", "eventlog", "warehouse", "out", "inputs")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    for key in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[key]  # the engine runs with its defaults
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["TMPDIR"] = dirs["tmp"]
    tempfile.tempdir = dirs["tmp"]
    os.environ["SPARK_LOCAL_DIRS"] = dirs["local"]
    os.environ["SPARK_GRAFT_WAREHOUSE"] = dirs["warehouse"]
    java_opts = f"-Djava.io.tmpdir={dirs['tmp']} -Dderby.system.home={dirs['tmp']} -XX:-UsePerfData"
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": dirs["local"],
        "spark.sql.warehouse.dir": os.path.join(dirs["tmp"], "spark-warehouse"),
        "spark.driver.extraJavaOptions": java_opts,
        "spark.eventLog.enabled": "true" if trace else "false",
        "spark.eventLog.dir": dirs["eventlog"],
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }
    args = []
    for k, v in confs.items():
        args += ["--conf", f"{k}={v}"]
    import shlex

    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])
    return dirs


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def median(values) -> float:
    return float(statistics.median(values))


class Run:
    def __init__(self, args, workload, dirs: dict):
        self.args = args
        self.workload = workload
        self.dirs = dirs
        self.mode = "smoke" if args.smoke else "full"
        self.spark = None
        self.tracer = None
        self.input_dirs: list[str] = []
        self.attempted = 0
        self.failed = 0

    # -- set-up ---------------------------------------------------------------

    def setup(self) -> list[float]:
        """Set up SETUP_ROUNDS times; returns the seconds of each round."""
        from spotify_tags_etl_spark.session import get_spark

        times, digests = [], []
        ncpu = len(os.sched_getaffinity(0))
        for k in range(SETUP_ROUNDS):
            if self.spark is not None:
                self.spark.stop()
            # the load generator is the benchmark's own work, not the
            # program's, so it runs outside the timed set-up
            input_dir = os.path.join(self.dirs["inputs"], f"round{k}")
            os.makedirs(input_dir)
            self.truth = self.workload.generate(input_dir, self.args.seed, self.mode)
            self.input_dirs.append(input_dir)
            digests.append(digest(input_dir))
            t0 = _T_PROCESS if k == 0 else time.perf_counter()
            self.spark = get_spark(master=f"local[{ncpu}]")
            self.spark.sparkContext.setLogLevel("ERROR")
            self.ops = self.workload.ops(self.spark, input_dir, self.dirs["out"], self.args.seed)
            times.append(time.perf_counter() - t0)
        self.input_dir = self.input_dirs[-1]
        self.inputs_identical = len(set(digests)) == 1
        log(f"setup rounds {_fmt(times)}, inputs identical={self.inputs_identical}")
        return times

    # -- passes ---------------------------------------------------------------

    def run_pass(self, pass_no: int, timed: bool) -> tuple[float, dict, dict]:
        """One pass over the ops. Returns (seconds, op seconds, op results)."""
        from workloads import run_action

        tr = self.tracer if timed else None
        sc = self.spark.sparkContext
        op_s, results = {}, {}
        t_pass = time.perf_counter()
        for op in self.ops:
            t0 = time.perf_counter()
            df = None
            try:
                if tr is None:
                    df = op.build()
                    if df is not None:
                        run_action(df)
                else:
                    sc.setJobGroup(f"perfbench:{pass_no}:{op.name}", f"{self.workload.name} {op.name}")
                    with tr.span(op.name, op.name, pass_no) as root:
                        with tr.span("build", op.name, pass_no, root):
                            df = op.build()
                        if df is not None:
                            with tr.span("plan", op.name, pass_no, root):
                                tr.plan(df, op.name, pass_no)
                            with tr.span("action", op.name, pass_no, root):
                                run_action(df)
            except Exception:  # an op that raises counts as failed; the pass goes on
                log(f"op {op.name} failed:\n{traceback.format_exc()}")
                df = None
                if timed:
                    self.failed += 1
            op_s[op.name] = time.perf_counter() - t0
            results[op.name] = df
            if timed:
                self.attempted += 1
            if tr is not None:
                tr.probe_state(self.spark, op.name, pass_no)
        return time.perf_counter() - t_pass, op_s, results

    def collect_garbage(self) -> None:
        gc.collect()
        self.spark._jvm.System.gc()

    def warm_up(self) -> list[float]:
        times = []
        for k in range(self.workload.warmup_passes):
            self.collect_garbage()
            times.append(self.run_pass(-1 - k, timed=False)[0])
        log(f"warm-up passes {_fmt(times)}")
        return times

    def timed(self, seconds: float) -> tuple[list[float], list[dict], dict]:
        if self.tracer is not None:
            from tracing import add_progress_listener

            add_progress_listener(self.spark, self.tracer)
        passes, op_times, last = [], [], {}
        w0 = time.perf_counter()
        while len(passes) < self.workload.min_passes or time.perf_counter() - w0 < seconds:
            self.collect_garbage()
            t, op_s, last = self.run_pass(len(passes), timed=True)
            passes.append(t)
            op_times.append(op_s)
        if self.tracer is not None:
            self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        log(f"timed passes {_fmt(passes)}")
        log("op seconds (median) " + " ".join(f"{k}={median(t[k] for t in op_times):.2f}" for k in op_times[0]))
        return passes, op_times, last

    # -- the whole run ----------------------------------------------------------

    def execute(self) -> dict:
        trace = bool(self.args.trace)
        if trace:
            from tracing import Tracer

            self.tracer = Tracer()
        setup_times = self.setup()
        warm_times = self.warm_up()
        passes, op_times, last = self.timed(self.args.seconds)
        t_check = time.perf_counter()
        errors = self.workload.check(self.spark, self.input_dir, self.dirs["out"], self.truth, last)
        log(f"checks took {time.perf_counter() - t_check:.2f}s")
        for e in errors:
            log(f"check failed: {e}")
        failed_ops = {e.split(":")[0] for e in errors}
        self.failed += len(failed_ops & {op.name for op in self.ops})
        correct = not errors and self.failed == 0 and self.inputs_identical
        if trace:
            metrics = self.layer_metrics(passes, op_times, setup_times, warm_times)
        else:
            metrics = {"setup_s": median(setup_times), "pass_s": median(passes)}
        units = PER_LAYER if trace else END_TO_END
        return {
            "correct": bool(correct),
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
        }

    def layer_metrics(self, passes, op_times, setup_times, warm_times) -> dict:
        from tracing import layer_metrics, read_event_log

        app_id = self.spark.sparkContext.applicationId
        self.stop()  # closes the event log
        timed_passes = list(range(len(passes)))
        kinds = {op.name: op.kind for op in self.ops}
        path = os.path.join(self.dirs["eventlog"], app_id)
        m = layer_metrics(self.tracer, read_event_log(path), timed_passes, kinds)
        load_s = median(t.get("load", 0.0) for t in op_times)
        media = self.truth if isinstance(self.truth, MediaTruth) else MediaTruth()
        query_s = sorted(t[name] for t in op_times for name in t if kinds[name] != "etl")
        m.update(
            {
                "etl.load_s": load_s,
                "etl.load_rows_per_s": media.media_rows / load_s if load_s else 0.0,
                "etl.quarantine_rows": media.quarantine_rows,
                "run.pass_s": median(passes),
                "run.query_p50_s": median(query_s),
                "run.query_p90_s": query_s[int(0.9 * (len(query_s) - 1))],
                "run.ops_failed_frac": self.failed / max(self.attempted, 1),
                "run.launch_s": setup_times[0],
                "run.cold_pass_s": warm_times[0],
                "run.timed_passes": len(passes),
            }
        )
        traces = os.path.join(os.getcwd(), OUT_DIR, "traces")
        os.makedirs(traces, exist_ok=True)
        name = f"{self.workload.name}-seed{self.args.seed}.json"
        self.tracer.write(os.path.join(traces, name), {"workload": self.workload.name, "metrics": m})
        log(f"trace written to {os.path.join(OUT_DIR, 'traces', name)}")
        return m

    def stop(self) -> None:
        """Stop Spark and the JVM it launched, and wait for the JVM to end."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None


def _fmt(values) -> str:
    return "[" + " ".join(f"{v:.2f}" for v in values) + "]"


def _stream_staging_dirs(input_dirs: list[str]) -> list[str]:
    """The engine's streaming sources stage a symlink per input directory
    under a fixed /tmp root (streaming/ops.py read_table_stream); these
    are the entries this run's input directories caused."""
    return [
        os.path.join("/tmp/spark_graft_stream", hashlib.md5(d.encode()).hexdigest()[:12]) for d in input_dirs
    ]


def main(argv=None) -> int:
    args = parse_args(argv)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; expected one of {sorted(WORKLOADS)}")
        return 2
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, ENGINE)):
        log(f"no {ENGINE}/ package in {root}: run from the root of a checkout")
        return 2
    work = os.path.join(root, OUT_DIR, f"{args.workload}-seed{args.seed}-pid{os.getpid()}")
    dirs = isolate(work, bool(args.trace))
    sys.path.insert(0, root)
    run = Run(args, WORKLOADS[args.workload], dirs)
    try:
        result = run.execute()
    finally:
        run.stop()
        for d in _stream_staging_dirs(run.input_dirs):
            shutil.rmtree(d, ignore_errors=True)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
