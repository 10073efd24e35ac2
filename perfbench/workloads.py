"""The benchmark workloads.

Each is a closed loop with one client (the driver thread, plus the
runner's pipeline threads where a workload pipelines windows). Each
stages its seeded input before the clock, warms the session, then runs
a fixed amount of work sized from ``seconds`` (``--seconds 12`` times
about 10 s of windows or 17 s of queries on a 4-vCPU host). The engine only ever sees the staged
parquet files. Outputs are checked against independent oracles after
the clock stops.
"""

from __future__ import annotations

import bisect
import os
import random
import shutil
import statistics
import sys
import threading
import time
from contextlib import contextmanager

from pyspark.sql import Window
from pyspark.sql import functions as F

from cityofphiladelphia_databridge_etl_tools_spark import changegen
from cityofphiladelphia_databridge_etl_tools_spark.changegen import TRANSCRIPT_SCHEMA
from cityofphiladelphia_databridge_etl_tools_spark.lake import LakeTable
from cityofphiladelphia_databridge_etl_tools_spark.lake.table import DELTA
from cityofphiladelphia_databridge_etl_tools_spark.streaming.runner import LsnWindowRunner

import querydata

SETUP_REPS = 3  # set-up steps repeated per run; setup_s takes their median
TEXT_CHARS = 256
KEYS = ["conv_id", "turn_idx"]
ORDER = ["ts", "lsn"]
COLS = [f.name for f in TRANSCRIPT_SCHEMA.fields]
FS_METHODS = ["exists", "read_text", "write_text", "create_exclusive", "listdir", "makedirs"]

# the bench.py query set
QUERIES = [
    "cdc_upsert_state",
    "q1_pricing_summary",
    "q5_nation_revenue",
    "sessionize_events",
    "dedup_minhash_lsh",
    "ann_cosine_topk",
    "text_quality_score",
    "stream_hourly_counts",
]


class Run:
    """What one run measured, filled in by a workload."""

    def __init__(self):
        self.setup: dict[str, float] = {}  # set-up step -> seconds
        self.ops: list[tuple[float, bool, str]] = []  # latency samples: (seconds, traced, kind)
        self.work = 0  # units of work finished inside the clock
        self.timed_s = 0.0
        self.cpu_s = 0.0  # CPU time of this process tree inside the clock
        self.attempted = 0
        self.failed = 0
        self.layer: dict[str, float] = {}  # per-layer values a workload measures itself
        self.depth = 1  # operations in flight at once inside the clock
        self.op_cpu: list[tuple[float, str]] = []  # CPU samples: (seconds per op, kind)
        self._marks: list[tuple[float, str | None]] | None = None  # (tree CPU, kind) per completion
        self._lock = threading.Lock()

    def record_op(self, seconds: float, traced: bool, kind: str | None) -> None:
        """Count one operation; ops of a ``kind`` are also latency samples."""
        with self._lock:
            if kind:
                self.ops.append((seconds, traced, kind))
                if self._marks is not None:
                    self._marks.append((tree_cpu_s(), kind))
            self.attempted += 1

    def op_ms(self, traced: bool = False) -> float:
        """The median latency of each kind of operation, averaged over the
        kinds, in ms. Medians over the whole run: a burst of contention
        on a shared host moves a few samples, not the figure."""
        return 1000.0 * _mean_of_medians((s, kind) for s, t, kind in self.ops if t == traced)

    def cpu_ms_per_op(self) -> float:
        """Like :meth:`op_ms`, for the CPU time the process tree spends
        per operation."""
        return 1000.0 * _mean_of_medians(self.op_cpu)

    @contextmanager
    def clock(self):
        """Time the body. Each op that completes inside it also yields a
        CPU sample: the tree's CPU time from ``depth`` completions earlier
        (or the clock's start) to this one, divided by ``depth``, so that
        pipelined ops, whose CPU time cannot be told apart, are covered."""
        if not self.timed_s:
            log(f"set-up done: {', '.join(f'{k} {v:.1f} s' for k, v in self.setup.items())}")
        t0, c0 = time.perf_counter(), tree_cpu_s()
        self._marks = [(c0, None)]
        try:
            yield
        finally:
            self.timed_s += time.perf_counter() - t0
            self.cpu_s += tree_cpu_s() - c0
            with self._lock:
                m, d, self._marks = self._marks, self.depth, None
            self.op_cpu += [((m[i][0] - m[i - d][0]) / d, m[i][1]) for i in range(d, len(m))]

    def discard_ops(self) -> None:
        """Forget operations recorded during set-up."""
        self.ops.clear()
        self.op_cpu.clear()
        self.attempted = 0

    def fail(self, n: int, why: str) -> None:
        self.failed += n
        log(f"{n} failed operation(s): {why}")


class Ctx:
    def __init__(self, spark, tracer, work_dir: str, seed: int, seconds: float, trace: bool):
        self.spark = spark
        self.tracer = tracer
        self.work = work_dir
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.measuring = False
        self.run = Run()

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def set_traced(self, unit: int) -> bool:
        """In a traced run, trace odd units of work only, so traced and
        untraced units see the same drift and their difference is the
        tracing overhead. Callers number units so that every kind of
        operation lands on both sides. Applies to the calling thread.
        Nothing is traced before :meth:`start_loop`."""
        self.tracer.enabled = self.trace and self.measuring and unit % 2 == 1
        return self.tracer.enabled

    def start_loop(self) -> None:
        """Set-up is over; what follows is measured."""
        self.run.discard_ops()
        self.measuring = True

    def end_loop(self) -> None:
        """The clock has stopped: trace nothing more, log the loop."""
        self.measuring = False
        self.tracer.enabled = False
        r = self.run
        log(f"measured {r.attempted} operations in {r.timed_s:.1f} s "
            f"({r.cpu_s:.1f} CPU-s); latencies {' '.join(f'{s:.3f}' for s, _, _ in r.ops)}; "
            f"CPU per op {' '.join(f'{c:.3f}' for c, _ in r.op_cpu)}")

    def timed(self, obj, attr: str) -> None:
        """Record every call of ``obj.attr`` as one operation."""
        orig = getattr(obj, attr)
        run, tracer = self.run, self.tracer

        def op(*args, **kwargs):
            traced = tracer.enabled
            t0 = time.perf_counter()
            try:
                return orig(*args, **kwargs)
            finally:
                run.record_op(time.perf_counter() - t0, traced, kind=attr)

        setattr(obj, attr, op)


def tree_cpu_s() -> float:
    """User plus system CPU seconds of this process and all its
    descendants (the JVM and its Python workers), including children
    they have reaped. Time the hypervisor steals is not CPU time, so this
    holds still on a contended host where wall time does not."""
    children: dict[int, list[int]] = {}
    ticks: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:  # the process exited meanwhile
            continue
        fields = stat[stat.rindex(")") + 2 :].split()  # from field 3, state, on
        pid = int(entry)
        children.setdefault(int(fields[1]), []).append(pid)
        ticks[pid] = sum(map(int, fields[11:15]))  # utime stime cutime cstime
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo += children.get(pid, [])
    return total / os.sysconf("SC_CLK_TCK")


def _mean_of_medians(samples) -> float:
    """The median value of each kind, averaged over the kinds."""
    by_kind: dict[str, list[float]] = {}
    for value, kind in samples:
        by_kind.setdefault(kind, []).append(value)
    return statistics.mean(statistics.median(v) for v in by_kind.values())


def log(msg: str) -> None:
    print(f"perfbench {time.strftime('%H:%M:%S')} {msg}", file=sys.stderr, flush=True)


def _median_time(fn, reps: int = SETUP_REPS) -> float:
    times = []
    for rep in range(reps):
        t0 = time.perf_counter()
        fn(rep)
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


# -- CDC input and tables ----------------------------------------------------
class Staged:
    """Seeded change events staged as one parquet directory per window
    (``w=<k>`` holds lsn ``[k*window, (k+1)*window)``)."""

    def __init__(self, ctx: Ctx, name: str, n_windows: int, window: int):
        self.ctx, self.window = ctx, window
        self.events = n_windows * window
        self.path = None
        self.schema = None

        def stage(rep):
            path = ctx.path(f"{name}-in{rep}")
            df = changegen.changes(ctx.spark, self.events, seed=ctx.seed, text_chars=TEXT_CHARS)
            df.withColumn("w", F.floor(F.col("lsn") / window)).write.partitionBy("w").parquet(path)
            if self.path:
                shutil.rmtree(self.path)
            self.path, self.schema = path, df.schema

        ctx.run.setup["stage"] = _median_time(stage)

    def source(self, lo: int, hi: int):
        """The runner's ``source(lsn_lo, lsn_hi)`` callback. The runner
        calls it in the thread that then runs ``merge_batch``, so the
        tracing switch and the Spark layer tag set here cover that merge,
        inline compaction included. A traced run traces odd windows."""
        if lo % self.window or hi - lo != self.window:
            raise ValueError(f"window ({lo}, {hi}) is not one staged window of {self.window}")
        k = lo // self.window
        tracer = self.ctx.tracer
        self.ctx.set_traced(k)
        with tracer.span("runner.source"):
            tracer.set_layer("merge")
        return self.ctx.spark.read.schema(self.schema).parquet(f"{self.path}/w={k}")

    def all(self):
        """Every staged event, with its window number ``w``."""
        return self.ctx.spark.read.parquet(self.path)


def new_table(ctx: Ctx, name: str, n_buckets: int) -> LakeTable:
    t = LakeTable.create(ctx.spark, ctx.path(name), TRANSCRIPT_SCHEMA, KEYS, ORDER, n_buckets=n_buckets)
    tr = ctx.tracer
    store_read = t.store.read_current

    def compact_buckets(buckets=None, **_):
        if buckets is None:
            m = store_read()
            buckets = [b for b, e in m.bucket_files.items() if len(e) > 1 or e[0][2] == DELTA]
        return {"buckets": len(buckets)}

    def delta_files(parent, delta):
        return {
            "files": sum(len(v) for v in delta.bucket_appends.values())
            + sum(len(v) for v in delta.bucket_replaces.values())
        }

    tr.wrap(t, "merge_batch", "table.merge_batch")
    tr.wrap(t, "compact", "table.compact", layer="compact", extra_fn=compact_buckets)
    tr.wrap(t.store, "commit_delta", "manifest.commit_delta", extra_fn=delta_files)
    tr.wrap(t.store, "read_current", "manifest.read_current")
    for m in FS_METHODS:
        tr.wrap(t.store.fs, m, f"fs.{m}")
    ctx.timed(t, "merge_batch")  # outermost: one op per window, traced or not
    return t


def new_runner(ctx: Ctx, t: LakeTable, staged: Staged, **merge_kwargs) -> LsnWindowRunner:
    r = LsnWindowRunner(t, staged.source, staged.window, merge_kwargs=merge_kwargs)
    ctx.tracer.wrap(r, "run_until", "runner.run_until")
    return r


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


def table_state(ctx: Ctx, t: LakeTable, events: int) -> None:
    """State metrics of a finished table (manifest and files on disk)."""
    m = t.store.read_current()
    data = sum(
        os.path.getsize(os.path.join(t.store.root, e[0]))
        for entries in m.bucket_files.values()
        for e in entries
    )
    ctx.run.layer["table.stored_bytes_per_event"] = data / events
    ctx.run.layer["manifest.meta_bytes"] = _dir_bytes(t.store.meta_dir)


def max_delta_files(t: LakeTable) -> int:
    m = t.store.read_current()
    return max((sum(1 for e in es if e[2] == DELTA) for es in m.bucket_files.values()), default=0)


def snapshot_count(ctx: Ctx, t: LakeTable) -> int:
    with ctx.tracer.span("table.read", layer="resolve"):
        return t.read().count()


def check_final_state(ctx: Ctx, t: LakeTable, staged: Staged, n_ops: int) -> None:
    """Engine read() must equal changegen's replay oracle over the same
    input: exceptAll both ways returns no rows."""
    with ctx.tracer.layer("oracle"):
        oracle = changegen.expected_final_state(staged.all().drop("w"))
        got = t.read().select(*oracle.columns)
        extra, missing = got.exceptAll(oracle).count(), oracle.exceptAll(got).count()
    if extra or missing:
        ctx.run.fail(n_ops, f"final state differs from the oracle (+{extra} / -{missing} rows)")


# -- workloads ---------------------------------------------------------------
# Work per run is a fixed count derived from --seconds. The same count on
# every run keeps the work identical across runs and seeds.

TRICKLE = {
    "buckets": 8, "window": 1_000, "windows_per_s": 2.5, "depth": 2, "threshold": 16,
    "warm_windows": 12, "keys": 24, "point_reads": 6,
}


class Reads:
    """The seeded reads of the serve phase: point lookups (3 of them on
    hot conversations), one change feed from a cursor in the last eighth
    of the ingested LSN range, one full snapshot count. Each read is
    checked against an oracle over the events ingested before it."""

    def __init__(self, ctx: Ctx, n_keys: int, n_points: int, lsn_hi: int):
        rng = random.Random(ctx.seed)
        hot = [(f"conv-{i:06d}", rng.randrange(50)) for i in range(3)]
        keys = hot + [(f"conv-{rng.randrange(1000):06d}", rng.randrange(50)) for _ in range(n_keys - 3)]
        rng.shuffle(keys)
        cursor = rng.randrange(lsn_hi - lsn_hi // 8, lsn_hi)
        self.ctx, self.lsn_hi, self.keys = ctx, lsn_hi, keys
        self.plan = [("point", k) for k in keys[:n_points]] + [("feed", cursor), ("snapshot", None)]
        self.warm_plan = [("point", k) for k in keys[n_points : 2 * n_points]] + self.plan[-2:]
        self.results: list = []  # (kind, arg, result)

    def read(self, t: LakeTable, kind: str, arg):
        tracer = self.ctx.tracer
        if kind == "point":
            with tracer.span("table.read_key", layer="point_read"):
                return sorted(tuple(r) for r in t.read_key(arg).select(*COLS).collect())
        if kind == "feed":
            with tracer.span("table.changes_since", layer="feed"):
                return t.changes_since(arg).count()
        return snapshot_count(self.ctx, t)

    def serve(self, t: LakeTable) -> None:
        """Run the plan inside the clock. Reads are not latency samples,
        so a traced run traces all of them."""
        run = self.ctx.run
        traced = self.ctx.set_traced(1)
        for kind, arg in self.plan:
            t0 = time.perf_counter()
            with run.clock():
                out = self.read(t, kind, arg)
            run.record_op(time.perf_counter() - t0, traced, kind=None)
            self.results.append((kind, arg, out))
        self.ctx.set_traced(0)

    def check(self, staged: Staged) -> None:
        """Point rows must equal the replay oracle's rows for the key, the
        feed count an independent per-window LWW replay past the cursor,
        the snapshot count the oracle's row count."""
        ctx = self.ctx
        events = staged.all().filter(F.col("lsn") < self.lsn_hi)
        with ctx.tracer.layer("oracle"):
            state = changegen.expected_final_state(events.drop("w"))
            wanted = ctx.spark.createDataFrame(sorted(set(self.keys)), "conv_id string, turn_idx int")
            by_key: dict = {}
            for row in state.join(wanted, KEYS).select(*COLS).collect():
                by_key.setdefault((row["conv_id"], row["turn_idx"]), []).append(tuple(row))
            n_state = state.count()
            w = Window.partitionBy("w", *KEYS).orderBy(F.col("ts").desc(), F.col("lsn").desc())
            winners = sorted(
                row["lsn"]
                for row in events.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1)
                .select("lsn")
                .collect()
            )
        expect = {
            "point": lambda key: sorted(by_key.get(key, [])),
            "feed": lambda cur: len(winners) - bisect.bisect_right(winners, cur),
            "snapshot": lambda _: n_state,
        }
        for kind, arg, out in self.results:
            want = expect[kind](arg)
            if out != want:
                ctx.run.fail(1, f"{kind}({arg!r}) returned {out!r}, oracle {want!r}")


def trickle_lifecycle(ctx: Ctx) -> None:
    """The low-latency CDC lifecycle of one table, all inside the clock:
    small windows pipelined two deep until every bucket holds a
    ``threshold``-delta backlog; a serve phase of point reads, a change
    feed and a snapshot against that backlog; more windows, which trip
    inline auto-compaction at the default threshold; a terminal
    compact(). Per-window fixed costs (jobs, listing, manifest CAS, races,
    inline compaction) outweigh shuffle bytes here, and reads pay the MOR
    resolve over 16 delta files per bucket. Each window commit is one
    latency sample and one CPU sample (with two windows in flight, half
    the CPU time since the commit before the last one); throughput is
    events per second of the whole clock."""
    c, run, tracer = TRICKLE, ctx.run, ctx.tracer
    n_windows = max(c["threshold"] + 1, round(ctx.seconds * c["windows_per_s"]))
    staged = Staged(ctx, "trickle", n_windows, c["window"])
    backlog = c["threshold"] * c["window"]
    reads = Reads(ctx, c["keys"], c["point_reads"], backlog)

    t0 = time.perf_counter()
    warm = new_table(ctx, "trickle-warm", c["buckets"])
    new_runner(ctx, warm, staged, compact_threshold=2).run_until(
        c["warm_windows"] * c["window"], pipeline_depth=c["depth"]
    )
    for kind, arg in reads.warm_plan:
        reads.read(warm, kind, arg)
    warm.compact()
    run.setup["warmup"] = time.perf_counter() - t0
    shutil.rmtree(warm.store.root)

    t = new_table(ctx, "trickle", c["buckets"])
    runner = new_runner(ctx, t, staged, compact_threshold=c["threshold"])
    ctx.start_loop()
    run.depth = c["depth"]
    tracer.enabled = ctx.trace  # the runner span; windows switch their own threads
    with run.clock():
        runner.run_until(backlog, pipeline_depth=c["depth"])
    tracer.enabled = False
    run.layer["table.max_delta_files_per_bucket"] = max_delta_files(t)
    reads.serve(t)
    tracer.enabled = ctx.trace
    with run.clock():
        runner.run_until(staged.events, pipeline_depth=c["depth"])
        t.compact()
    run.work = staged.events
    run.layer["table.commit_races_lost"] = t.commit_races_lost
    ctx.end_loop()
    check_final_state(ctx, t, staged, run.attempted)
    reads.check(staged)
    table_state(ctx, t, staged.events)


QUERY_PASSES_PER_S = 0.4  # one warm pass over the eight queries takes about 3-4 s
QUERY_WARM_PASSES = 3  # per-query CPU time still falls about 15% from the second pass to the sixth


def query_suite(ctx: Ctx) -> None:
    """The eight bench.py queries, warm, over seeded TPC-H-style tables:
    queries, the similarity/dedup/textstats operators and the streaming
    pipeline, none of which the CDC workload runs. Each query, collected
    to pandas, is one latency sample and one CPU sample, and each result
    is checked."""
    import duckdb

    from cityofphiladelphia_databridge_etl_tools_spark.queries import REGISTRY

    run, tracer = ctx.run, ctx.tracer
    data = {}

    def generate(rep):
        d = ctx.path(f"tables{rep}")
        querydata.generate(d, ctx.seed)
        if data:
            shutil.rmtree(data["dir"])
        data["dir"] = d

    run.setup["stage"] = _median_time(generate)
    sf_dir = data["dir"]
    t0 = time.perf_counter()
    for _ in range(QUERY_WARM_PASSES):
        for q in QUERIES:
            REGISTRY[q][0](ctx.spark, sf_dir).toPandas()
    run.setup["warmup"] = time.perf_counter() - t0

    ctx.start_loop()
    results: dict[str, list] = {q: [] for q in QUERIES}
    for p in range(max(1, round(ctx.seconds * QUERY_PASSES_PER_S))):
        for i, q in enumerate(QUERIES):
            traced = ctx.set_traced(p + i)
            with run.clock():
                t0 = time.perf_counter()
                with tracer.span(f"query.{q}", layer=f"query.{q}"):
                    results[q].append(REGISTRY[q][0](ctx.spark, sf_dir).toPandas())
                run.record_op(time.perf_counter() - t0, traced, kind=q)
            run.work += 1
    ctx.end_loop()

    con = duckdb.connect()
    try:
        for name in querydata.table_sql(0):
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{sf_dir}/{name}.parquet'")
        for q in QUERIES:
            want = con.execute(REGISTRY[q][1]).fetchdf()
            bad = sum(1 for got in results[q] if not _same_result(got, want))
            if bad:
                run.fail(bad, f"{q} differs from its DuckDB oracle")
    finally:
        con.close()


def _same_result(got, want) -> bool:
    return sorted(got.columns) == sorted(want.columns) and _normalize(got).equals(_normalize(want))


def _normalize(df):
    """Order-insensitive comparable form of a result frame."""
    import pandas as pd

    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]")
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].round(6)
        elif df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


WORKLOADS = {
    "trickle_lifecycle": trickle_lifecycle,
    "query_suite": query_suite,
}
