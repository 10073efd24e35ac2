"""Multi-writer contention soak: TWO OS processes, each with its own
SparkSession and its own LakeTable handle, ingest disjoint LSN shards
of the SAME table concurrently — sustained optimistic-concurrency
contention on the commit log, not a toy race.

The reference serializes concurrent loaders with database locks
(ref: db2/db2.py:311-349 acquires an exclusive lock around the staging
promote); the engine's claim is that MOR commits COMMUTE, so an
os.link create-exclusive CAS on the next log position plus
rebase-and-retry replaces the lock. This soak demonstrates that under
sustained cross-process contention:

- each writer runs pipeline_depth=2, so up to 4 commits race at once
  across 2 JVMs through the shared filesystem;
- inline auto-compaction stays ON in both writers, so compaction
  commits race with ingest commits too (losers skip — next batch
  re-checks);
- afterwards the parent asserts ZERO lost batches (every lsn window
  committed exactly once) and final-state equality against the
  one-shot LWW replay oracle over the full stream.

Usage: python scripts/contention_soak.py [n_batches_per_writer] [events_per_batch]
Defaults 10 x 1M per writer = 20M events total (VERDICT r5 #6 asks
for >= 10M per writer).

Writer subprocess mode (internal): contention_soak.py --writer <id> <root> <from> <until> <batch>
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

FAST = "/dev/shm" if os.path.isdir("/dev/shm") else None
SEED = 42


def _gen(spark, lo, hi, n_total):
    from cityofphiladelphia_databridge_etl_tools_spark import changegen

    return changegen.changes(
        spark, hi - lo, seed=SEED, n_convs=n_total // 10, max_turns=50,
        hot_frac=0.2, n_hot=3, lsn_start=lo,
    )


def writer_main(writer_id: int, root: str, lsn_from: int, lsn_until: int, batch: int):
    """One writer process: own session, own table handle, own shard."""
    from cityofphiladelphia_databridge_etl_tools_spark.lake import LakeTable
    from cityofphiladelphia_databridge_etl_tools_spark.session import get_spark
    from cityofphiladelphia_databridge_etl_tools_spark.streaming.runner import LsnWindowRunner

    spark = get_spark(
        f"contention-w{writer_id}", cores=12, shuffle_partitions=24,
        extra_conf={"spark.local.dir": f"{FAST}/spark-w{writer_id}"} if FAST else {},
    )
    spark.sparkContext.setLogLevel("ERROR")
    t = LakeTable(spark, f"{root}/t")
    runner = LsnWindowRunner(
        t,
        lambda lo, hi: spark.read.parquet(f"{root}/in/b{lo // batch}"),
        events_per_batch=batch,
        # generous retry budget: 4 concurrent committers across 2 JVMs
        # can pile more than the default 5 consecutive losses onto one
        # unlucky batch
        merge_kwargs={"max_commit_retries": 50},
    )
    t0 = time.time()
    recs = runner.run_until(lsn_until, pipeline_depth=2, from_lsn=lsn_from)
    elapsed = time.time() - t0
    print(json.dumps({
        "writer": writer_id,
        "committed": len(recs),
        "skipped_as_duplicate": (lsn_until - lsn_from) // batch - len(recs),
        "races_lost_and_rebased": t.commit_races_lost,
        "elapsed_s": round(elapsed, 1),
        "events_per_sec": round((lsn_until - lsn_from) / elapsed, 1),
    }))
    spark.stop()


def main():
    n_batches = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    batch = int(sys.argv[2]) if len(sys.argv) > 2 else 1_000_000
    n_writers = 2
    n_total = n_writers * n_batches * batch

    from cityofphiladelphia_databridge_etl_tools_spark import changegen
    from cityofphiladelphia_databridge_etl_tools_spark.changegen import TRANSCRIPT_SCHEMA
    from cityofphiladelphia_databridge_etl_tools_spark.lake import LakeTable
    from cityofphiladelphia_databridge_etl_tools_spark.session import get_spark

    spark = get_spark("contention-parent", cores=32,
                      extra_conf={"spark.local.dir": f"{FAST}/spark-parent"} if FAST else {})
    spark.sparkContext.setLogLevel("ERROR")
    root = tempfile.mkdtemp(prefix="contention_", dir=FAST)

    t0 = time.time()
    for k in range(n_writers * n_batches):
        _gen(spark, k * batch, (k + 1) * batch, n_total).write.parquet(f"{root}/in/b{k}")
    print(f"staged {n_total:,} events in {time.time() - t0:.1f}s")

    LakeTable.create(spark, f"{root}/t", TRANSCRIPT_SCHEMA,
                     ["conv_id", "turn_idx"], ["ts", "lsn"], n_buckets=32,
                     bucket_columns=["conv_id"])

    # two writer processes over disjoint shards of the one table
    t0 = time.time()
    procs = []
    for w in range(n_writers):
        lo, hi = w * n_batches * batch, (w + 1) * n_batches * batch
        procs.append(subprocess.Popen(
            [sys.executable, os.path.abspath(__file__),
             "--writer", str(w), root, str(lo), str(hi), str(batch)],
            stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
        ))
    outs = [p.communicate()[0] for p in procs]
    wall = time.time() - t0
    for p in procs:
        assert p.returncode == 0, f"writer failed rc={p.returncode}"
    for o in outs:
        print(o.strip().splitlines()[-1])
    print(f"2-writer concurrent ingest of {n_total:,} events in {wall:.1f}s "
          f"= {n_total / wall:,.0f} ev/s aggregate")

    # ---- parent verification: zero lost batches, exactly-once ids
    t = LakeTable(spark, f"{root}/t")
    m = t.manifest
    lsn_ids = {
        f"lsn-{k * batch}-{(k + 1) * batch}" for k in range(n_writers * n_batches)
    }
    committed = {c.batch_id for c in m.commits if c.batch_id.startswith("lsn-")}
    missing = lsn_ids - committed
    dupes = [c for c in sorted(committed) if sum(
        1 for x in m.commits if x.batch_id == c) > 1]
    print(f"commit log: {len(committed)}/{len(lsn_ids)} windows committed, "
          f"missing={sorted(missing)}, duplicated={dupes}, "
          f"lsn_contig_hi={m.lsn_contig_hi:,}, version={m.version}")
    assert not missing and not dupes
    assert m.lsn_contig_hi == n_total

    # ---- final state vs the one-shot replay oracle over ALL events
    full = _gen(spark, 0, n_total, n_total)
    expect = changegen.expected_final_state(full)
    got = t.read().select(*expect.columns)
    diff = got.exceptAll(expect).count() + expect.exceptAll(got).count()
    print(f"final state rows={got.count():,} diff-vs-oracle={diff}")
    assert diff == 0

    import shutil
    shutil.rmtree(root, ignore_errors=True)
    print("CONTENTION SOAK OK")


if __name__ == "__main__":
    if len(sys.argv) > 1 and sys.argv[1] == "--writer":
        writer_main(int(sys.argv[2]), sys.argv[3], int(sys.argv[4]),
                    int(sys.argv[5]), int(sys.argv[6]))
    else:
        main()
