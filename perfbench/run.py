"""Repository benchmark: one workload per invocation, one JSON result.

    python3 perfbench/run.py --workload tools-api --seed 1 --seconds 10 --trace 0

Run from the root of a source checkout. Workloads:

- ``curation-sf0.01``: the entity-resolution (er3) and incremental
  semantic-dedup (inc3) lanes over the sf0.01 test data. Plan build,
  job and stage count and persist lifecycle dominate.
- ``tools-api``: one closed-loop API client over the reference's CRUD
  routes and its CSV-upload ETL (see tools_api.py).

Spark runs as ``local[N]`` with ``SPARK_GRAFT_CPUS`` = the cores this
process may use. ``setup_s`` is the time from process start until the
run is ready (session up, warm-up done, inputs opened), input
generation excluded (it is recorded apart). A run sets up twice and
reports the median: once for its own work, then, after its own Spark
JVM is stopped, in a fresh process (``--setup-only``) that starts its
own JVM, sets up on the same inputs and exits. Outputs are checked
outside the timed region.

``--seconds`` sets how much work a run times: as many whole passes
(each query once, or one 10-op block for tools-api) as take that long
at the workload's nominal pass time on 4 cores, at least one. The count
does not depend on how fast a run goes, so every run does the same work.
``wall_s`` is the median pass time.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` reports the
per-layer metrics, from a run in which every sample is traced;
``trace.overhead_s`` is what tracing adds to one pass (the time traced
samples spend collecting counts, which untraced samples skip). Spans
are written to ``.perfbench/traces/`` at the end.

The last stdout line is ``{"correct", "attempted", "failed",
"metrics"}``; the line before it is the full record (every metric with
its unit and sample count). The exit code is non-zero when any output
check failed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
import traceback

from layers import Tracer, cpu_steal, peak_rss_mb, process_age_s, process_tree
from stats import check_metric_name, failed_ratio, median, percentile, samples_needed

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
SETUP_CYCLES = 2

END_TO_END = {"setup_s": "s", "wall_s": "s"}
PER_LAYER = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "spark_sql.analysis_ms": "ms",
    "spark_sql.optimization_ms": "ms",
    "spark_sql.planning_ms": "ms",
    "spark_exec.s": "s",
    "spark_exec.jobs": "count",
    "spark_exec.stages": "count",
    "spark_exec.stages_skipped": "count",
    "spark_exec.tasks": "count",
    "spark_exec.task_s": "s",
    "spark_exec.core_busy": "ratio",
    "spark_exec.shuffle_read_mb": "MB",
    "spark_exec.shuffle_write_mb": "MB",
    "spark_exec.spill_mb": "MB",
    "functions.persisted_rdds": "count",
    "functions.cached_mb": "MB",
    "functions.leaked_rdds": "count",
    "engine.read_s": "s",
    "engine.dashboard_s": "s",
    "engine.mutate_s": "s",
    "engine.jobs_per_op": "count",
    "snapshot_store.read_s": "s",
    "snapshot_store.commit_s": "s",
    "snapshot_store.mb_written": "MB",
    "snapshot_store.retries": "count",
    "csv_source.read_clean_s": "s",
    "csv_source.rows_per_s": "rows/s",
    "tmp.dirs_leaked": "count",
    "trace.overhead_s": "s",
}
WORKLOADS = ("curation-sf0.01", "tools-api")


class Run:
    """Per-invocation state handed to a workload."""

    def __init__(self, workload: str, seed: int, trace: bool, inputs_from: str | None) -> None:
        self.root, self.work, self.seed = ROOT, WORK, seed
        self.inputs_from = inputs_from  # a parent run's directory, for --setup-only
        self.cores = len(os.sched_getaffinity(0))
        self.tracer = Tracer(trace)
        self.run_dir = os.path.join(WORK, f"run-{workload}-{seed}-{os.getpid()}")
        self.tmp = os.path.join(self.run_dir, "tmp")


def configure_env(run: Run) -> None:
    """Spark and Python scratch space stays inside the run directory."""
    os.makedirs(run.tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(run.cores)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run.run_dir, "spark-local")
    os.environ["TMPDIR"] = run.tmp
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={run.tmp} -XX:-UsePerfData"
    import tempfile

    tempfile.tempdir = run.tmp
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def make_workload(name: str, run: Run):
    if name == "tools-api":
        from tools_api import ToolsApiWorkload

        return ToolsApiWorkload(run)
    from queries import QueryWorkload

    return QueryWorkload(run)


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def setup_cycle(wl, run: Run, t_start: float) -> tuple[object, dict]:
    """Set up from process start (``t_start``, on the perf_counter
    clock) until ready. Inputs are generated after the warm-up, so the
    warm-up starts as cold as in a ``--setup-only`` process, and their
    generation is timed apart."""
    from aws_csp_datapipeline_spark.session import get_spark

    with run.tracer.span("session.start"):
        spark = get_spark(app_name="perfbench")
    t1 = time.perf_counter()
    with run.tracer.span("session.warmup"):
        wl.warm_up(spark)
    t2 = time.perf_counter()
    wl.generate(spark)
    t3 = time.perf_counter()
    with run.tracer.span("inputs.open"):
        wl.open_inputs(spark)
    t4 = time.perf_counter()
    start = t1 - t_start
    return spark, {
        "setup_s": start + (t2 - t1) + (t4 - t3),
        "start_s": start,
        "warmup_s": t2 - t1,
        "open_s": t4 - t3,
        "gen_s": t3 - t2,
    }


def fresh_setups(args, run: Run, env: dict) -> list[dict]:
    """Set-up cycles in new processes, one after the other, each on
    this run's inputs. Each starts and stops its own Spark JVM, so
    every cycle pays the process and JVM start."""
    out = []
    for _ in range(SETUP_CYCLES - 1):
        p = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
             "--seed", str(args.seed), "--setup-only", run.run_dir],
            env=env, stdout=subprocess.PIPE, text=True, timeout=150,
        )
        if p.returncode != 0:
            raise RuntimeError(f"--setup-only exited with {p.returncode}")
        out.append(json.loads(p.stdout.splitlines()[-1]))
    return out


def main(argv: list[str] | None = None) -> int:
    t_start = time.perf_counter() - process_age_s()
    ap = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--setup-only", metavar="RUN_DIR",
        help="set up once on the inputs in RUN_DIR, print the set-up times as JSON, exit",
    )
    args = ap.parse_args(argv)

    import selftest

    selftest.run_all()
    env = dict(os.environ)
    run = Run(args.workload, args.seed, bool(args.trace), args.setup_only)
    configure_env(run)
    wl = make_workload(args.workload, run)

    spark = None
    try:
        spark, cycle = setup_cycle(wl, run, t_start)
        if args.setup_only:
            print(json.dumps(cycle), flush=True)
            return 0
        t0 = time.perf_counter()
        wl.check(spark)
        check_s = time.perf_counter() - t0
        tmp_before = set(os.listdir(run.tmp))
        steal0 = cpu_steal()
        t0 = time.perf_counter()
        wl.measure(spark, args.seconds)
        measured_s = time.perf_counter() - t0
        steal1 = cpu_steal()
        tmp_leaked = len(set(os.listdir(run.tmp)) - tmp_before)
        wl.finish(spark)
        rss = peak_rss_mb(process_tree())
        stop_spark(spark)
        spark = None
        cycles = [cycle, *fresh_setups(args, run, env)]
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(run.run_dir, ignore_errors=True)

    setup = {k: median([c[k] for c in cycles]) for k in ("setup_s", "start_s", "warmup_s")}
    lat = wl.latencies()
    ok = wl.failed == 0
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "cores": run.cores,
        "seconds": args.seconds,
        "measured_s": measured_s,
        "cpu_steal_share": (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1]),
        "passes_s": wl.passes,
        "pass_cpu_s": wl.pass_cpu,
        "inputs.gen_s": cycles[0]["gen_s"],
        "check_s": check_s,
        "setup_cycles": cycles,
        "unit_samples_s": wl.samples,
        "metrics": {
            "setup_s": {"value": setup["setup_s"], "unit": "s", "n": len(cycles)},
            "wall_s": {"value": median(wl.passes), "unit": "s", "n": len(wl.passes)},
            "peak_rss_mb": {"value": rss, "unit": "MB", "n": 1},
            "failed_ratio": {
                "value": failed_ratio(wl.attempted, wl.failed),
                "unit": "ratio",
                "n": wl.attempted,
            },
        },
    }
    for kind, xs in lat.items():
        for q, tag in ((0.5, "p50"), (0.9, "p90")):
            record["metrics"][f"{kind}_{tag}_s"] = {
                "value": percentile(xs, q),
                "unit": "s",
                "n": len(xs),
                "needs": samples_needed(q),
            }
    if args.trace:
        layer = {k: 0.0 for k in PER_LAYER}
        layer.update(wl.layer_metrics())
        layer["session.start_s"] = setup["start_s"]
        layer["session.warmup_s"] = setup["warmup_s"]
        layer["tmp.dirs_leaked"] = float(tmp_leaked)
        record["layers"] = layer
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        run.tracer.dump(
            os.path.join(WORK, "traces", f"{args.workload}-seed{args.seed}.json")
        )
        metrics = {k: {"value": layer[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = {
            k: {"value": record["metrics"][k]["value"], "unit": u}
            for k, u in END_TO_END.items()
        }
    for k in metrics:
        check_metric_name(k)
    print(json.dumps(record), flush=True)
    print(
        json.dumps(
            {"correct": ok, "attempted": wl.attempted, "failed": wl.failed, "metrics": metrics}
        ),
        flush=True,
    )
    return 0 if ok else 1


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:
        traceback.print_exc()
        sys.exit(2)
