"""Repository benchmark: one workload per run, one JSON line as the result.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the repository root. It starts its own SparkSession on
``local[2]``, keeps every file it writes under ``.perfbench_work/``
in the checkout, and stops the session and its JVM before it prints.
``--trace 0`` reports the end-to-end metrics; ``--trace 1`` reports the
per-layer metrics from a run where alternate units of work are traced.
BENCHMARK.json names both sets; BASELINE.md in this directory maps each
layer metric to the end-to-end metrics it should move.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
DRIVER_MEMORY = "1g"
# Spark task slots. Fewer than the host's cores, so the JVM's own threads
# (GC, JIT, shuffle, heartbeats) and the Python driver are not queued
# behind the tasks; the same on every host, so the work per run is too.
SPARK_CORES = 2
JVM_OPTS = "-XX:ParallelGCThreads=2 -XX:ConcGCThreads=1 -XX:CICompilerCount=2"

SPARK_GROUPS = ["merge", "compact", "resolve", "point_read", "feed"]


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of VmHWM (peak resident set) over the given processes."""
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024.0


def start_session(cpus: int, trace: bool):
    from cityofphiladelphia_databridge_etl_tools_spark.session import get_spark

    from tracing import event_log_conf

    conf = {
        "spark.local.dir": os.path.join(WORK, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Xms{DRIVER_MEMORY} {JVM_OPTS} -Djava.io.tmpdir={os.path.join(WORK, 'tmp')}"
        ),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        os.makedirs(os.path.join(WORK, "eventlog"))
        conf.update(event_log_conf(os.path.join(WORK, "eventlog")))
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_LOCAL_DIRS"] = conf["spark.local.dir"]  # the env var wins over the conf
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    spark = get_spark("perfbench", cores=cpus, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop the SparkContext, then the JVM it ran in, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits at end of input
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def end_to_end(run, session_s: float, rss_mb: float) -> dict:
    return {
        "setup_s": (session_s + sum(run.setup.values()), "s"),
        "cpu_ms_per_op": (run.cpu_ms_per_op(), "ms"),
        "peak_rss_mb": (rss_mb, "MB"),
    }


def per_layer(run, tracer, spark_groups: dict) -> dict:
    from tracing import SPARK_FIELDS

    from workloads import FS_METHODS, QUERIES

    g = tracer.get
    out = {
        # whole-clock figures, traced units included
        "throughput_per_s": (run.work / run.timed_s, "1/s"),
        "cpu_ms_per_unit": (run.cpu_s * 1000.0 / run.work, "ms"),
        "op_ms": (run.op_ms(), "ms"),
        "runner.run_until_s": (g("runner.run_until").total_s, "s"),
        "runner.windows": (g("runner.source").calls, "count"),
        "table.merge_batch.calls": (g("table.merge_batch").calls, "count"),
        "table.merge_batch.busy_s": (g("table.merge_batch").busy_s, "s"),
        "table.merge_batch.p50_s": (g("table.merge_batch").p50(), "s"),
        "table.merge_batch.replays_skipped": (g("table.merge_batch").nones, "count"),
        "table.compact.calls": (g("table.compact").calls, "count"),
        "table.compact.busy_s": (g("table.compact").busy_s, "s"),
        "table.compact.buckets": (g("table.compact").extra["buckets"], "count"),
    }
    for action in ("read", "read_key", "changes_since"):
        out[f"table.{action}.calls"] = (g(f"table.{action}").calls, "count")
        out[f"table.{action}.busy_s"] = (g(f"table.{action}").busy_s, "s")
    commit = g("manifest.commit_delta")
    out.update({
        "table.commit_races_lost": (run.layer.get("table.commit_races_lost", 0), "count"),
        "table.files_written": (commit.extra["files"], "count"),
        "table.max_delta_files_per_bucket": (
            run.layer.get("table.max_delta_files_per_bucket", 0), "count"),
        "table.stored_bytes_per_event": (run.layer.get("table.stored_bytes_per_event", 0), "B"),
        "manifest.commit_delta.calls": (commit.calls, "count"),
        "manifest.commit_delta.conflicts": (commit.errors, "count"),
        "manifest.commit_delta.busy_s": (commit.busy_s, "s"),
        "manifest.commit_delta.success_ratio": (
            (commit.calls - commit.errors) / commit.calls if commit.calls else 0.0, "ratio"),
        "manifest.read_current.calls": (g("manifest.read_current").calls, "count"),
        "manifest.read_current.busy_s": (g("manifest.read_current").busy_s, "s"),
        "manifest.meta_bytes": (run.layer.get("manifest.meta_bytes", 0), "B"),
    })
    for m in FS_METHODS:
        out[f"fs.{m}.calls"] = (g(f"fs.{m}").calls, "count")
        out[f"fs.{m}.busy_s"] = (g(f"fs.{m}").busy_s, "s")
    for grp in SPARK_GROUPS:
        for field, unit in SPARK_FIELDS.items():
            out[f"spark.{grp}.{field}"] = (spark_groups.get(grp, {}).get(field, 0), unit)
    for q in QUERIES:
        span = g(f"query.{q}")
        task_s = spark_groups.get(f"query.{q}", {}).get("task_run_s", 0)
        out[f"query.{q}.s"] = (span.p50(), "s")
        out[f"query.{q}.task_run_s"] = (task_s / span.calls if span.calls else 0.0, "s")
    overhead = 100.0 * (run.op_ms(traced=True) / run.op_ms() - 1.0)
    out["trace.overhead_pct"] = (overhead, "%")
    return out


def pipelining_holds(tracer, depth: int) -> bool:
    """Self times must not double-count: merge self time plus the inline
    (nested) compaction self time fit in depth x the runner's wall time."""
    merge = tracer.get("table.merge_batch").busy_s
    inline = tracer.get("table.compact").nested_busy_s
    return merge + inline <= depth * tracer.get("runner.run_until").total_s + 1e-6


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    sys.path[:0] = [ROOT, HERE]
    try:
        import cityofphiladelphia_databridge_etl_tools_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine package is not in {ROOT}: {e}", file=sys.stderr)
        return 2
    import workloads
    from tracing import Tracer, rollup_event_log

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(os.path.join(WORK, "tmp"))
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    tempfile.tempdir = None
    trace = bool(args.trace)
    cpus = min(SPARK_CORES, len(os.sched_getaffinity(0)))

    t0 = time.perf_counter()
    spark = start_session(cpus, trace)
    session_s = time.perf_counter() - t0
    workloads.log(f"session started in {session_s:.1f} s")
    try:
        from pyspark import SparkContext

        tracer = Tracer(spark.sparkContext if trace else None)
        ctx = workloads.Ctx(spark, tracer, WORK, args.seed, args.seconds, trace)
        workloads.WORKLOADS[args.workload](ctx)
        rss = peak_rss_mb([os.getpid(), SparkContext._gateway.proc.pid])
    finally:
        stop_session(spark)
    workloads.log("session stopped")

    run = ctx.run
    if trace:
        metrics = per_layer(run, tracer, rollup_event_log(os.path.join(WORK, "eventlog")))
        if args.workload == "trickle_lifecycle" and not pipelining_holds(
            tracer, workloads.TRICKLE["depth"]
        ):
            run.fail(1, "merge + inline compact self time exceeds depth x run_until time")
    else:
        metrics = end_to_end(run, session_s, rss)
    shutil.rmtree(WORK, ignore_errors=True)
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
