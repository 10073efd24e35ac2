"""Round-7 optimization measurement harness (bench.py is FROZEN for
measurement — this file holds the extra instrumentation the round's
work cites: per-query noop-sink isolation, explain dumps, and
merge-phase timings). Methodology matches bench.py where it overlaps:
same session config, same SF dir/core env contract, min-of-reps after
a warm rep.

Usage:
  python bench_extra.py queries [name ...]   # time + explain the bench queries
  python bench_extra.py plans [name ...]     # write plans/r07/<q>_{when}.txt
  python bench_extra.py merge                # phase-timed MOR merge_batch
  python bench_extra.py window [n] [warm]    # per-window CPU split, 1k-event windows
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bench import CPUS, SF_DIR, make_session  # noqa: E402

BENCH_QUERIES = [
    "cdc_upsert_state",
    "q1_pricing_summary",
    "q5_nation_revenue",
    "sessionize_events",
    "dedup_minhash_lsh",
    "ann_cosine_topk",
    "text_quality_score",
    "stream_hourly_counts",
]


def _noop(df):
    df.write.format("noop").mode("overwrite").save()


def time_queries(names: list[str], reps: int = 3, sink: str = "count") -> dict:
    from cityofphiladelphia_databridge_etl_tools_spark.queries import REGISTRY

    spark = make_session(CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    out = {}
    for name in names:
        fn, _ = REGISTRY[name]
        spark.sparkContext.setJobDescription(f"{name} (warm)")
        fn(spark, SF_DIR).count()  # warm: JIT/codegen/IO cache
        samples = []
        for r in range(reps):
            spark.sparkContext.setJobDescription(f"{name} rep{r}")
            t0 = time.time()
            if sink == "noop":
                _noop(fn(spark, SF_DIR))
            else:
                fn(spark, SF_DIR).count()  # bench.py's methodology
            samples.append(round(time.time() - t0, 3))
        out[name] = {"min": min(samples), "samples": samples}
        print(json.dumps({name: out[name]}), flush=True)
    print(json.dumps({"queries_min": {k: v["min"] for k, v in out.items()}}))
    return out


def dump_plans(names: list[str], when: str = "before") -> None:
    from cityofphiladelphia_databridge_etl_tools_spark.queries import REGISTRY

    spark = make_session(CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    os.makedirs("plans/r07", exist_ok=True)
    for name in names:
        fn, _ = REGISTRY[name]
        df = fn(spark, SF_DIR)
        p = f"plans/r07/{name}_{when}.txt"
        with open(p, "w") as f:
            f.write(df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"))
        print(p, flush=True)


def merge_phases(n_events: int = 1_000_000) -> None:
    """One MOR merge_batch, phase-timed: stage off-clock, then time the
    full merge and the read-resolve, mirroring run_ingest's unit."""
    import tempfile

    from cityofphiladelphia_databridge_etl_tools_spark import changegen
    from cityofphiladelphia_databridge_etl_tools_spark.changegen import TRANSCRIPT_SCHEMA
    from cityofphiladelphia_databridge_etl_tools_spark.lake import LakeTable

    spark = make_session(CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    root = tempfile.mkdtemp(prefix="bx_merge_", dir="/dev/shm")
    try:
        p = f"{root}/in"
        changegen.changes(
            spark, n_events, seed=42, n_convs=max(1000, n_events // 10),
            max_turns=50, hot_frac=0.2, n_hot=3,
        ).write.parquet(p)
        batch = spark.read.parquet(p)
        # warm merge
        t = LakeTable.create(
            spark, f"{root}/w", TRANSCRIPT_SCHEMA, ["conv_id", "turn_idx"],
            ["ts", "lsn"], n_buckets=32, bucket_columns=["conv_id"],
        )
        t.merge_batch(batch, "warm")
        for rep in range(3):
            t2 = LakeTable.create(
                spark, f"{root}/t{rep}", TRANSCRIPT_SCHEMA, ["conv_id", "turn_idx"],
                ["ts", "lsn"], n_buckets=32, bucket_columns=["conv_id"],
            )
            t0 = time.time()
            spark.sparkContext.setJobDescription(f"merge rep{rep}")
            t2.merge_batch(batch, f"b{rep}")
            t1 = time.time()
            t2.read().count()
            t2r = time.time()
            print(json.dumps({
                "rep": rep,
                "merge_sec": round(t1 - t0, 3),
                "read_resolve_sec": round(t2r - t1, 3),
            }), flush=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)


# JVM thread-name prefixes (Linux truncates names to 15 bytes) → group
JVM_THREAD_GROUPS = [
    ("jit", ("C1 CompilerThre", "C2 CompilerThre")),
    ("py4j", ("Thread-",)),  # the gateway's per-connection handler threads
    ("executor_tasks", ("Executor task l",)),
    ("dag_scheduler", ("dag-scheduler-e",)),
    ("aqe", ("QueryStageCreat", "ResultQueryStag")),
    ("gc", ("GC Thread", "G1 ")),
]


def _thread_group(name: str) -> str:
    for group, prefixes in JVM_THREAD_GROUPS:
        if name.startswith(prefixes):
            return group
    return "other"


def _jvm_cpu(pid: int) -> tuple[dict, float, float]:
    """(CPU seconds per live thread id → (group, s), process total s,
    reaped-children total s) of a JVM, from /proc. Thread CPU comes
    from schedstat (ns); the totals from stat (clock ticks)."""
    threads = {}
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/comm") as f:
                name = f.read().strip()
            with open(f"/proc/{pid}/task/{tid}/schedstat") as f:
                ns = int(f.read().split()[0])
        except (FileNotFoundError, ProcessLookupError):
            continue  # the thread exited while we read
        threads[tid] = (_thread_group(name), ns / 1e9)
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    tick = os.sysconf("SC_CLK_TCK")
    # fields after the comm: [11]=utime [12]=stime [13]=cutime [14]=cstime
    total = (int(fields[11]) + int(fields[12])) / tick
    children = (int(fields[13]) + int(fields[14])) / tick
    return threads, total, children


def _last_pid() -> int:
    with open("/proc/sys/kernel/ns_last_pid") as f:
        return int(f.read())


def window_split(n_windows: int = 20, warm: int = 5) -> None:
    """Run ``warm`` + ``n_windows`` sequential 1k-event MOR windows on
    local[2] and print, per measured window, where its CPU went: the
    Python driver, JVM threads grouped by name (JIT compilers, Py4J
    handlers, executor tasks, dag-scheduler, AQE, GC, other; threads
    that exited mid-window show as ``exited``), child processes the
    JVM reaped (e.g. Hadoop's forked ``chmod`` on a local FS without
    libhadoop), PIDs allocated in this PID namespace (forks plus new
    threads — run it alone), and Py4J round trips. The last line holds
    the medians. Inline compaction is off, so only the merge shows."""
    import statistics
    import tempfile

    from pyspark import SparkContext
    from pyspark.sql import functions as F

    from cityofphiladelphia_databridge_etl_tools_spark import changegen
    from cityofphiladelphia_databridge_etl_tools_spark.changegen import TRANSCRIPT_SCHEMA
    from cityofphiladelphia_databridge_etl_tools_spark.lake import LakeTable
    from cityofphiladelphia_databridge_etl_tools_spark.session import get_spark

    os.environ.setdefault("SPARK_DRIVER_MEMORY", "1g")
    spark = get_spark("bench-window", cores=2, extra_conf={
        "spark.driver.extraJavaOptions": (
            "-Xms1g -XX:ParallelGCThreads=2 -XX:ConcGCThreads=1 -XX:CICompilerCount=2"
        ),
    })
    spark.sparkContext.setLogLevel("ERROR")
    gateway = SparkContext._gateway
    jvm_pid = gateway.proc.pid
    client = gateway._gateway_client
    calls = [0]
    send = client.send_command

    def counted(*args, **kwargs):
        calls[0] += 1
        return send(*args, **kwargs)

    client.send_command = counted

    window = 1000
    total_windows = warm + n_windows
    root = tempfile.mkdtemp(prefix="bx_window_")
    try:
        staged = f"{root}/in"
        changegen.changes(spark, total_windows * window, seed=7, text_chars=256).withColumn(
            "w", (F.col("lsn") / window).cast("long")
        ).write.partitionBy("w").parquet(staged)
        schema = spark.read.parquet(staged).drop("w").schema
        t = LakeTable.create(
            spark, f"{root}/t", TRANSCRIPT_SCHEMA, ["conv_id", "turn_idx"], ["ts", "lsn"],
            n_buckets=8,
        )
        rows = []
        for k in range(total_windows):
            batch = spark.read.schema(schema).parquet(f"{staged}/w={k}")
            threads0, total0, children0 = _jvm_cpu(jvm_pid)
            py0, calls0, pid0, wall0 = time.process_time(), calls[0], _last_pid(), time.time()
            t.merge_batch(batch, f"w{k}", compact_threshold=10**9)
            wall1, pid1, calls1, py1 = time.time(), _last_pid(), calls[0], time.process_time()
            threads1, total1, children1 = _jvm_cpu(jvm_pid)
            if k < warm:
                continue
            groups: dict[str, float] = {}
            for tid, (group, s) in threads1.items():
                prev = threads0.get(tid, (group, 0.0))[1]
                groups[group] = groups.get(group, 0.0) + s - prev
            live = sum(groups.values())
            row = {
                "window": k,
                "wall_ms": (wall1 - wall0) * 1e3,
                "python_driver_ms": (py1 - py0) * 1e3,
                "jvm_total_ms": (total1 - total0) * 1e3,
                **{f"jvm_{g}_ms": v * 1e3 for g, v in sorted(groups.items())},
                "jvm_exited_ms": max(0.0, (total1 - total0) - live) * 1e3,
                "jvm_children_ms": (children1 - children0) * 1e3,
                "pids_allocated": pid1 - pid0,
                "py4j_round_trips": calls1 - calls0,
            }
            rows.append(row)
            print(json.dumps({k: round(v, 1) for k, v in row.items()}), flush=True)
        keys = sorted({k for r in rows for k in r} - {"window"})
        print(json.dumps({
            "median": {k: round(statistics.median(r.get(k, 0.0) for r in rows), 1) for k in keys},
            "windows": len(rows), "events_per_window": window,
        }))
    finally:
        client.send_command = send
        spark.stop()
        shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    cmd = sys.argv[1] if len(sys.argv) > 1 else "queries"
    rest = sys.argv[2:]
    if cmd == "queries":
        time_queries(rest or BENCH_QUERIES)
    elif cmd == "plans":
        when = os.environ.get("BX_WHEN", "before")
        dump_plans(rest or BENCH_QUERIES, when=when)
    elif cmd == "merge":
        merge_phases(int(rest[0]) if rest else 1_000_000)
    elif cmd == "window":
        window_split(*(int(a) for a in rest[:2]))
    else:
        raise SystemExit(f"unknown command {cmd}")
