"""Structured Streaming pipelines.

Two entry points:

- :func:`stream_changes_into_table` — the binlog-tail path of the
  north star: ``readStream`` over a change-file directory →
  ``foreachBatch`` → :meth:`LakeTable.merge_batch` with the streaming
  epoch id as the batch id. Spark's checkpoint gives source-offset
  resume; the lake's batch-id commit log makes the sink side
  idempotent, so the pair is exactly-once end-to-end (a replayed epoch
  after crash hits the already-committed batch id and no-ops).

- :func:`run_windowed_counts` — watermarked event-time tumbling-window
  aggregation over the events table (the classic late-data pattern),
  driven to completion synchronously with processAllAvailable for
  deterministic results on a finite source.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import conf_bytes


def _stream_state_partitions(spark: SparkSession, df: DataFrame) -> int:
    """Scale-adaptive state-store partition count for a bounded-source
    streaming aggregation — the streaming analogue of AQE partition
    coalescing, which does NOT apply to streaming plans (the shuffle
    partition count is frozen into the state checkpoint at query
    start). Derived from the SOURCE size exactly the way a batch scan
    is split (size / maxPartitionBytes), floored at a quarter of the
    core count (merge-heavy state ops like session_window shuffle
    un-reduced rows, so a tiny source must still spread state work —
    measured at sf0.1: session windows 1.45 s on 1 partition vs
    0.87 s on cores/4, tumbling windows flat across 1..8), and capped
    at the session's shuffle partitions so a large source behaves as
    configured. Override with
    ``spark.databridge.streaming.statePartitions`` (set it on real
    clusters where state size, not source size, should govern)."""
    override = spark.conf.get("spark.databridge.streaming.statePartitions", None)
    if override:
        return max(1, int(override))
    session_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    max_bytes = conf_bytes(spark, "spark.sql.files.maxPartitionBytes", 128 * 1024 * 1024)
    size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    floor = max(1, spark.sparkContext.defaultParallelism // 4)
    return max(1, min(session_parts, max(floor, -(-size // max_bytes))))


@contextlib.contextmanager
def _stream_run_conf(spark: SparkSession, n_partitions: int):
    """Pin shuffle partitions (= streaming state partitions) for the
    duration of a query start, and hand out a checkpoint dir on the
    session's spark.local.dir (the fast/ephemeral volume — memory-sink
    complete-mode state is derived data, rebuilt from the source on
    restart, so checkpoint durability buys nothing here). Restores the
    session conf and removes the checkpoint afterwards."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    local_dir = spark.conf.get("spark.local.dir", None)
    base = local_dir.split(",")[0] if local_dir else None
    ckpt = tempfile.mkdtemp(
        prefix="stream_ckpt_", dir=base if base and os.path.isdir(base) else None
    )
    spark.conf.set("spark.sql.shuffle.partitions", str(n_partitions))
    try:
        yield ckpt
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
        shutil.rmtree(ckpt, ignore_errors=True)


def stream_changes_into_table(
    spark: SparkSession,
    changes_dir: str,
    table,  # LakeTable
    checkpoint_dir: str,
    max_files_per_trigger: int = 4,
    schema=None,
):
    """Tail a directory of parquet change files into a LakeTable.

    Returns the StreamingQuery; callers drive it (processAllAvailable
    for tests, awaitTermination for production).

    Schema evolution happens at RESTART boundaries (the standard
    file-stream pattern — a running query's source schema is fixed):
    when upstream adds a column, restarting with the same checkpoint
    picks up the union schema (inference merges all file footers) and
    processes only the not-yet-committed files; merge_batch then
    evolves the TABLE schema in place. For type WIDENING (parquet
    footer merge can't reconcile e.g. int vs long files), pass
    ``schema`` explicitly — production CDC feeds carry it in their
    registry. Old committed files are never re-read either way."""
    if schema is None:
        # mergeSchema: files written before an add-column evolution
        # must not win the inference race after a restart
        schema = spark.read.option("mergeSchema", "true").parquet(changes_dir).schema

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(changes_dir)
    )

    def apply_batch(df: DataFrame, epoch_id: int) -> None:
        # epoch_id is stable across restarts for a given checkpoint —
        # exactly the idempotence key merge_batch wants.
        table.merge_batch(df, batch_id=f"stream-epoch-{epoch_id}")

    return (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_dedup_changes(
    spark: SparkSession,
    changes_dir: str,
    table,  # LakeTable
    checkpoint_dir: str,
    watermark: str = "1 hour",
    max_files_per_trigger: int = 4,
):
    """Like stream_changes_into_table, but suppresses duplicate event
    DELIVERIES inside the stream itself with
    ``dropDuplicatesWithinWatermark`` on (lsn) before the merge — the
    at-least-once transport dedup running streaming-side (state-store
    backed), on top of the merge's own LWW idempotence. Use when the
    transport redelivers heavily and you want to shed duplicates
    before they cost shuffle work."""
    schema = spark.read.parquet(changes_dir).schema

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(changes_dir)
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(["lsn"])
    )

    def apply_batch(df: DataFrame, epoch_id: int) -> None:
        table.merge_batch(df, batch_id=f"dedup-epoch-{epoch_id}")

    return (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def run_session_windows(spark: SparkSession, sf_dir: str, gap: str = "30 minutes") -> DataFrame:
    """Streaming sessionization: ``session_window`` (dynamic-gap merge
    windows, state-store backed) per user over the events stream —
    the streaming twin of the batch lag+cumsum sessionize query.
    Complete mode to a memory sink → deterministic on a finite source.

    Boundary semantics: session_window closes a session when the next
    event is >= gap after the last one (the window end is exclusive),
    so an exactly-gap-sized silence starts a new session.
    """
    src = spark.read.parquet(f"{sf_dir}/events.parquet")
    name = f"sessions_{uuid.uuid4().hex[:8]}"
    stream = (
        spark.readStream.schema(src.schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    per_session = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    with _stream_run_conf(spark, _stream_state_partitions(spark, src)) as ckpt:
        q = (
            per_session.writeStream.outputMode("complete")
            .format("memory")
            .queryName(name)
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    return (
        spark.table(name)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.max("n_events").alias("max_session_events"),
            F.sum("n_events").alias("n_events"),
        )
    )


def run_windowed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly tumbling-window counts + sums per event_type over the
    events stream, with a 1-hour watermark for late data. Complete
    output mode to a memory sink → full deterministic result set."""
    src = spark.read.parquet(f"{sf_dir}/events.parquet")
    name = f"hourly_counts_{uuid.uuid4().hex[:8]}"
    stream = (
        spark.readStream.schema(src.schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
        # watermarks need TIMESTAMP (LTZ); session TZ is UTC so the
        # NTZ→LTZ cast is value-preserving
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("sum_value"),
        )
    )
    with _stream_run_conf(spark, _stream_state_partitions(spark, src)) as ckpt:
        q = (
            agg.writeStream.outputMode("complete")
            .format("memory")
            .queryName(name)
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    return spark.table(name).select(
        F.col("w.start").cast("timestamp_ntz").alias("hour_start"),
        "event_type", "n", "sum_value",
    )
