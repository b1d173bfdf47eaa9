"""The repo benchmark: one command, one workload per run.

    python3 perfbench/run.py --workload binlog_catchup --seed 1 \
        --seconds 12 --trace 0

Run from the repository root. Builds its inputs from --seed under
`.perfbench_work/` in that root, measures for about --seconds,
checks every result, and prints as its last stdout line one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are the end-to-end ones; with --trace 1 Spark's event log
is on and the metrics are the per-layer ones. The line before it is a
JSON object with the workload's own figures and input properties.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from measure import Failures, PeakPss  # noqa: E402
from spans import EventLog, Tracer, self_times  # noqa: E402

WORKLOADS = ("binlog_catchup", "binlog_tail", "corpus_pipeline")
PACKAGE = "mysql_syncer_clickhouse_spark"
# Driver heap cap. The program defaults to 8g; the benchmark's inputs
# are fixture-sized (no query spills at 2g), and a smaller cap keeps a
# run's footprint small. Fixed, so no caller's environment changes it.
DRIVER_HEAP = "2g"


class Run:
    """State of one benchmark run: arguments, tracer, failure counts
    and the metrics the workload fills in."""

    def __init__(self, args, root: str):
        self.workload, self.seed = args.workload, args.seed
        self.seconds, self.traced = args.seconds, bool(args.trace)
        self.root = root
        self.work = os.path.join(root, ".perfbench_work",
                                 f"{args.workload}-{args.seed}-{args.trace}")
        self.cores = len(os.sched_getaffinity(0))
        self.tracer = Tracer(f"{args.workload}-{args.seed}", self.traced)
        self.span = self.tracer.span
        self.fail = Failures()
        self.e2e: dict[str, float] = {}
        self.layer: dict[str, float] = {}
        self.detail: dict = {"workload": args.workload, "seed": args.seed}
        self.spark = None
        self.t_setup = 0.0
        self.files = 0      # binlog files the timed region applied

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def setup_done(self) -> None:
        self.e2e["setup_s"] = time.perf_counter() - T_START
        self.t_setup = time.time()


def _launch_env(run: Run) -> None:
    """Launch configuration for the driver JVM and its Python
    workers: everything it writes stays under the run's work dir, the
    workers can import the package, and the traced run turns on
    Spark's event log."""
    tmp = run.path("tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (run.root, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = run.path("spark-local")
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_HEAP
    conf = {
        "spark.ui.showConsoleProgress": "false",
        # the heap starts at its cap, or the full GC the benchmark runs
        # between query entries shrinks it and the next entry regrows
        # it; not pre-touched, so resident size follows the program
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -Xms{DRIVER_HEAP}",
        "spark.sql.warehouse.dir": run.path("warehouse"),
    }
    if run.traced:
        log_dir = run.path("eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": f"file://{log_dir}",
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items()
    ) + " pyspark-shell"


def _trace_metrics(run: Run, root_span) -> None:
    spans = run.tracer.spans
    st = self_times(spans)
    run.layer["trace.covered_frac"] = (
        1.0 - st[root_span.id] / root_span.dur if root_span.dur else 0.0)
    run.layer["trace.spans"] = len(spans)
    run.layer["trace.setup_s"] = run.e2e.get("setup_s", 0.0)
    run.layer["trace.result_s"] = run.e2e.get("result_s", 0.0)
    by_name: dict[str, float] = {}
    for s in spans:
        by_name[s.name] = by_name.get(s.name, 0.0) + st[s.id]
    run.detail["self_time_s"] = {k: round(v, 4) for k, v in
                                 sorted(by_name.items())}
    run.tracer.write(os.path.join(os.path.dirname(run.work),
                                  f"{os.path.basename(run.work)}.spans.json"))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, PACKAGE)):
        print(f"perfbench: no {PACKAGE}/ in {root}; run from the "
              f"repository root", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    run = Run(args, root)
    shutil.rmtree(run.work, ignore_errors=True)
    _launch_env(run)
    memory = PeakPss(os.getpid()).start()

    import workloads
    with run.span("run") as root_span:
        try:
            getattr(workloads, args.workload)(run)
        finally:
            memory.stop()
            with run.span("session.stop"):
                workloads.stop_spark(run)
    run.e2e["peak_rss_mb"] = memory.peak_mb
    run.detail["peak_rss_mb_by_process"] = {
        k: round(v, 1) for k, v in memory.peak_by_process.items()}
    run.detail["memory_samples"] = memory.samples
    run.detail["memory_sample_s"] = memory.sample_s

    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if run.traced:
        log = EventLog(run.path("eventlog"))
        log.attribute(run.tracer.spans)
        workloads.layer_metrics(run, log)
        _trace_metrics(run, root_span)
        # a layer the workload does not exercise reads 0
        metrics = {m["name"]: (run.layer.get(m["name"], 0.0), m["unit"])
                   for m in spec["per_layer"]}
        undeclared = run.layer.keys() - metrics.keys()
        if undeclared:
            raise ValueError(f"per-layer metrics missing from "
                             f"BENCHMARK.json: {sorted(undeclared)}")
    else:
        metrics = {m["name"]: (run.e2e[m["name"]], m["unit"])
                   for m in spec["end_to_end"]}
    run.detail["failed_frac"] = run.fail.frac
    run.detail["failures"] = run.fail.notes[:20]
    print(json.dumps(run.detail, default=float))
    print(json.dumps({
        "correct": run.fail.failed == 0 and run.fail.attempted > 0,
        "attempted": run.fail.attempted,
        "failed": run.fail.failed,
        "metrics": {n: {"value": float(v), "unit": u}
                    for n, (v, u) in metrics.items()},
    }))
    shutil.rmtree(run.work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
