"""Lifecycle soak: sustained pipelined ingest + every maintenance op,
in one run — the sandbox-scale stand-in for the 10^10-event claim.

20 LSN-window batches (1M events each) merge pipelined (depth 4) into
one table with default auto-compaction, then: change-feed consumption
with a registered cursor, tombstone GC behind the cursor, metadata log
expiry, orphan GC, rebucket, and a final full-state check against the
one-shot LWW replay oracle. Prints per-phase timings, per-batch commit
wall times (flatness = the metadata claim), and metadata footprint.

Usage: python scripts/soak.py [n_batches] [events_per_batch] [--offpath]
  --offpath: disable inline auto-compaction and run the background
  CompactionScheduler concurrently with ingest (lake/maintenance.py)
  — the deployment mode that keeps maintenance off the ingest budget.
"""

from __future__ import annotations

import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark.sql.functions as F

from cityofphiladelphia_databridge_etl_tools_spark import changegen
from cityofphiladelphia_databridge_etl_tools_spark.changegen import TRANSCRIPT_SCHEMA
from cityofphiladelphia_databridge_etl_tools_spark.lake import CompactionScheduler, LakeTable
from cityofphiladelphia_databridge_etl_tools_spark.session import get_spark
from cityofphiladelphia_databridge_etl_tools_spark.streaming.runner import LsnWindowRunner

ARGS = [a for a in sys.argv[1:] if a != "--offpath"]
OFFPATH = "--offpath" in sys.argv
sys.argv = [sys.argv[0]] + ARGS
N_BATCHES = int(sys.argv[1]) if len(sys.argv) > 1 else 20
BATCH = int(sys.argv[2]) if len(sys.argv) > 2 else 1_000_000
FAST = "/dev/shm" if os.path.isdir("/dev/shm") else None


def main():
    spark = get_spark("soak", cores=32, shuffle_partitions=64,
                      extra_conf={"spark.local.dir": f"{FAST}/spark-soak"} if FAST else {})
    spark.sparkContext.setLogLevel("ERROR")
    root = tempfile.mkdtemp(prefix="soak_", dir=FAST)
    n = N_BATCHES * BATCH

    t0 = time.time()
    for k in range(N_BATCHES):
        changegen.changes(
            spark, BATCH, seed=42, n_convs=n // 10, max_turns=50,
            hot_frac=0.2, n_hot=3, lsn_start=k * BATCH,
        ).write.parquet(f"{root}/in/b{k}")
    print(f"staged {n:,} events in {time.time()-t0:.1f}s")

    t = LakeTable.create(spark, f"{root}/t", TRANSCRIPT_SCHEMA,
                         ["conv_id", "turn_idx"], ["ts", "lsn"], n_buckets=32,
                         bucket_columns=["conv_id"])
    runner = LsnWindowRunner(
        t, lambda lo, hi: spark.read.parquet(f"{root}/in/b{lo // BATCH}"),
        events_per_batch=BATCH,
        merge_kwargs={"compact_threshold": 10**9} if OFFPATH else None,
    )
    sched = CompactionScheduler(t, threshold=16, interval_s=0.5) if OFFPATH else None
    t0 = time.time()
    if sched:
        sched.start()
    recs = runner.run_until(n, pipeline_depth=4)
    if sched:
        sched.stop(drain=True)  # counted: maintenance still inside the clock
    ingest_s = time.time() - t0
    mode_note = (
        f"background scheduler: {sched.cycles} cycles, "
        f"{sched.buckets_compacted} buckets folded, {sched.races_lost} races lost"
        if sched else "inline auto-compaction on"
    )
    print(f"ingested {n:,} events / {len(recs)} batches in {ingest_s:.1f}s "
          f"= {n/ingest_s:,.0f} ev/s (pipelined depth 4, {mode_note})")
    # staged input is fully consumed; free its tmpfs footprint before
    # rebucket temporarily doubles the table's (the final oracle
    # regenerates the stream from changegen, not from these files)
    import shutil
    shutil.rmtree(f"{root}/in", ignore_errors=True)
    times = sorted((c.committed_at, c.batch_id) for c in t.manifest.commits)
    gaps = [round(b[0] - a[0], 2) for a, b in zip(times, times[1:])]
    print(f"commit-to-commit gaps (flat = metadata cost not growing): {gaps}")

    m = t.manifest
    n_files = sum(len(v) for v in m.bucket_files.values())
    n_delta = sum(1 for v in m.bucket_files.values() for e in v if e[2] == "delta")
    meta_files = len(t.store.fs.listdir(t.store.log_dir)) + len(t.store.fs.listdir(t.store.snap_dir))
    print(f"table: version={m.version} files={n_files} (delta={n_delta}) "
          f"metadata records={meta_files}")

    # change feed with a registered consumer, then safe tombstone GC
    t.register_cursor("soak-consumer", n // 2)
    feed = t.changes_since(n // 2)
    print(f"changes_since({n//2:,}): {feed.count():,} row versions "
          f"({feed.filter(F.col('_deleted')).count():,} tombstones)")
    t0 = time.time()
    t.compact(gc_tombstones=True, gc_tombstones_below_lsn=n // 2)
    print(f"compact+GC below cursor in {time.time()-t0:.1f}s "
          f"(tombstone_gc_lsn={t.manifest.tombstone_gc_lsn:,})")

    removed = t.store.expire_log(keep_snapshots=2)
    orphans = t.gc_orphans(older_than_s=0)
    print(f"expire_log removed {len(removed)} metadata records; "
          f"gc_orphans removed {len(orphans)} data files")

    t0 = time.time()
    t.rebucket(64)
    print(f"rebucket 32→64 in {time.time()-t0:.1f}s "
          f"(buckets now {len(t.manifest.bucket_files)})")

    # final-state equality against the one-shot replay oracle
    full = changegen.changes(spark, n, seed=42, n_convs=n // 10, max_turns=50,
                             hot_frac=0.2, n_hot=3)
    expect = changegen.expected_final_state(full)
    got = t.read().select(*expect.columns)
    diff = got.exceptAll(expect).count() + expect.exceptAll(got).count()
    print(f"final state rows={got.count():,} diff-vs-oracle={diff}")
    assert diff == 0
    import shutil
    shutil.rmtree(root, ignore_errors=True)
    print("SOAK OK")


if __name__ == "__main__":
    main()
