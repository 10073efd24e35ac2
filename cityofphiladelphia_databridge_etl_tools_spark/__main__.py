"""CLI entrypoint — the engine's analogue of the reference's click CLI
(databridge_etl_tools/cli.py): table DDL, batch/windowed ingest,
streaming tail, maintenance, and inspection, all runnable under plain
``python -m`` or ``spark-submit --py-files dist/<pkg>.zip run_cli.py``.

    create  --root R --keys conv_id,turn_idx [--order-cols ts,lsn] [--n-buckets 16]
            --schema 'conv_id string, turn_idx int, ...'
    ingest  --root R --changes PATH.parquet [--batch-id ID]
    run     --root R --generate N [--events-per-batch M]      (windowed demo feed)
    stream  --root R --changes-dir DIR --checkpoint DIR
    compact --root R [--buckets 1,2,3]
    show    --root R                                          (manifest + lineage)
"""

from __future__ import annotations

import argparse
import sys

from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import changegen
from .lake import LakeTable
from .session import get_spark
from .streaming.runner import LsnWindowRunner


def _schema_from_ddl(ddl: str) -> T.StructType:
    return T.StructType.fromDDL(ddl)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="databridge-spark", description=__doc__)
    p.add_argument("--cores", default=None, help="local[N] parallelism")
    sub = p.add_subparsers(dest="cmd", required=True)

    c = sub.add_parser("create", help="create a lake table")
    c.add_argument("--root", required=True)
    c.add_argument("--schema", help="DDL string; default = transcript schema")
    c.add_argument("--keys", default="conv_id,turn_idx")
    c.add_argument("--order-cols", default="ts,lsn")
    c.add_argument("--n-buckets", type=int, default=16)
    c.add_argument(
        "--stats-cols",
        help="comma list of columns to record per-file min/max for "
             "(manifest-level range pruning via read_range)",
    )
    c.add_argument(
        "--bucket-cols",
        help="comma list of key columns the bucket hash covers "
             "(default: all keys; narrow for entity locality)",
    )

    i = sub.add_parser("ingest", help="merge one change batch (parquet)")
    i.add_argument("--root", required=True)
    i.add_argument("--changes", required=True)
    i.add_argument("--batch-id", default=None)
    i.add_argument("--on-bad-rows", default="fail", choices=["fail", "dead_letter"])

    r = sub.add_parser("run", help="windowed ingest of a generated demo stream")
    r.add_argument("--root", required=True)
    r.add_argument("--generate", type=int, required=True, help="number of events")
    r.add_argument("--events-per-batch", type=int, default=1_000_000)
    r.add_argument("--seed", type=int, default=42)
    r.add_argument("--pipeline-depth", type=int, default=1,
                   help="merge N windows concurrently (~2x at 32 cores)")
    r.add_argument("--offpath-compaction", action="store_true",
                   help="disable inline folding; a background "
                        "CompactionScheduler maintains the table "
                        "concurrently (3-4x sustained throughput)")

    s = sub.add_parser("stream", help="tail a directory of change files")
    s.add_argument("--root", required=True)
    s.add_argument("--changes-dir", required=True)
    s.add_argument("--checkpoint", required=True)

    k = sub.add_parser("compact", help="fold deltas / GC tombstones")
    k.add_argument("--root", required=True)
    k.add_argument("--buckets", default=None, help="comma-separated; default all")
    k.add_argument("--gc-tombstones", action="store_true",
                   help="also purge tombstones (refuses to outrun registered cursors)")
    k.add_argument("--below-lsn", type=int, default=None,
                   help="only GC tombstones below this lsn (late-arrival horizon)")
    k.add_argument("--force", action="store_true")
    k.add_argument("--sort-by", default=None,
                   help="comma-separated columns to re-sort files by (range-scan layout)")
    k.add_argument("--zorder-by", default=None,
                   help="comma-separated columns for multi-dimensional "
                        "Morton-order layout clustering")

    mt = sub.add_parser("maintain", help="one-call housekeeping: compact + expire-log + gc")
    mt.add_argument("--root", required=True)
    mt.add_argument("--orphans-older-than", type=float, default=600.0)

    g = sub.add_parser("gc", help="remove orphaned data files (crash/race leftovers)")
    g.add_argument("--root", required=True)
    g.add_argument("--dry-run", action="store_true")
    g.add_argument("--older-than", type=float, default=600.0,
                   help="grace period in seconds (protects in-flight writers)")

    x = sub.add_parser("expire-log", help="drop metadata log history before a snapshot horizon")
    x.add_argument("--root", required=True)
    x.add_argument("--keep-snapshots", type=int, default=2)

    rb = sub.add_parser("rebucket", help="rewrite the table under a new bucket count")
    rb.add_argument("--root", required=True)
    rb.add_argument("--n-buckets", type=int, required=True,
                    help="the current count also rewrites the table, re-hashing "
                         "every row (the repair for rows outside their bucket)")

    u = sub.add_parser("cursor", help="register a change-feed consumer's progress")
    u.add_argument("--root", required=True)
    u.add_argument("--name", required=True)
    u.add_argument("--lsn", type=int, required=True)

    w = sub.add_parser("show", help="manifest summary + lineage")
    w.add_argument("--root", required=True)

    args = p.parse_args(argv)
    spark = get_spark("databridge-spark-cli", cores=args.cores)
    spark.sparkContext.setLogLevel("ERROR")

    if args.cmd == "create":
        schema = (
            _schema_from_ddl(args.schema) if args.schema else changegen.TRANSCRIPT_SCHEMA
        )
        LakeTable.create(
            spark, args.root, schema,
            key_columns=args.keys.split(","),
            order_columns=args.order_cols.split(","),
            n_buckets=args.n_buckets,
            bucket_columns=args.bucket_cols.split(",") if args.bucket_cols else None,
            stats_columns=args.stats_cols.split(",") if args.stats_cols else None,
        )
        print(f"created {args.root}")
    elif args.cmd == "ingest":
        t = LakeTable(spark, args.root)
        changes = spark.read.parquet(args.changes)
        # default batch id must be stable across PROCESSES for
        # exactly-once (Python hash() is salted per run) → md5 of path
        import hashlib

        bid = args.batch_id or f"cli-{hashlib.md5(args.changes.encode()).hexdigest()[:12]}"
        rec = t.merge_batch(changes, bid, on_bad_rows=args.on_bad_rows)
        if rec is None:
            print(f"batch {bid} already committed — no-op")
        else:
            print(
                f"committed {bid}: in={rec.rows_in} upserts={rec.rows_upserted} "
                f"deletes={rec.rows_deleted} lsn=({rec.lsn_lo},{rec.lsn_hi}]"
            )
    elif args.cmd == "run":
        from .lake import CompactionScheduler

        t = LakeTable(spark, args.root)
        runner = LsnWindowRunner(
            t,
            lambda lo, hi: changegen.changes(spark, hi - lo, seed=args.seed, lsn_start=lo),
            events_per_batch=args.events_per_batch,
            merge_kwargs=(
                {"compact_threshold": 10**9} if args.offpath_compaction else None
            ),
        )
        sched = CompactionScheduler(t).start() if args.offpath_compaction else None
        recs = runner.run_until(args.generate, pipeline_depth=args.pipeline_depth)
        if sched:
            sched.stop(drain=True)
            print(f"scheduler: {sched.cycles} cycles, "
                  f"{sched.buckets_compacted} buckets folded")
        print(f"applied {len(recs)} windows; resume_lsn={runner.resume_lsn()}; "
              f"rows={t.read().count()}")
    elif args.cmd == "stream":
        from .streaming.pipeline import stream_changes_into_table

        t = LakeTable(spark, args.root)
        q = stream_changes_into_table(spark, args.changes_dir, t, args.checkpoint)
        q.awaitTermination()
        print(f"stream drained; table rows={t.read().count()}")
    elif args.cmd == "maintain":
        t = LakeTable(spark, args.root)
        print(t.maintain(orphans_older_than_s=args.orphans_older_than))
    elif args.cmd == "compact":
        t = LakeTable(spark, args.root)
        buckets = [int(b) for b in args.buckets.split(",")] if args.buckets else None
        t.compact(
            buckets=buckets,
            gc_tombstones=args.gc_tombstones,
            gc_tombstones_below_lsn=args.below_lsn,
            force=args.force,
            sort_by=args.sort_by.split(",") if args.sort_by else None,
            zorder_by=args.zorder_by.split(",") if args.zorder_by else None,
        )
        print("compacted")
    elif args.cmd == "gc":
        t = LakeTable(spark, args.root)
        removed = t.gc_orphans(dry_run=args.dry_run, older_than_s=args.older_than)
        verb = "would remove" if args.dry_run else "removed"
        print(f"{verb} {len(removed)} orphaned files")
        for r in removed[:20]:
            print(" ", r)
    elif args.cmd == "expire-log":
        t = LakeTable(spark, args.root)
        removed = t.store.expire_log(keep_snapshots=args.keep_snapshots)
        print(f"expired {len(removed)} metadata records")
    elif args.cmd == "rebucket":
        t = LakeTable(spark, args.root)
        t.rebucket(args.n_buckets)
        print(f"rebucketed to {args.n_buckets}")
    elif args.cmd == "cursor":
        t = LakeTable(spark, args.root)
        t.register_cursor(args.name, args.lsn)
        print(f"cursor {args.name} -> {args.lsn}")
    elif args.cmd == "show":
        t = LakeTable(spark, args.root)
        m = t.manifest
        n_files = sum(len(v) for v in m.bucket_files.values())
        n_delta = sum(1 for v in m.bucket_files.values() for e in v if e[2] == "delta")
        print(
            f"version={m.version} buckets={m.n_buckets} keys={m.key_columns} "
            f"order={m.order_columns} schema_v={m.schema_versions[-1].version} "
            f"files={n_files} (delta={n_delta}) commits={len(m.commits)} "
            f"applied={len(m.applied_ids)} lsn_contig_hi={m.lsn_contig_hi} "
            f"bucket_cols={m.effective_bucket_columns} cursors={m.cursors} "
            f"tombstone_gc_lsn={m.tombstone_gc_lsn}"
        )
        t.lineage().orderBy("committed_at").show(50, truncate=False)
    return 0


if __name__ == "__main__":
    sys.exit(main())
