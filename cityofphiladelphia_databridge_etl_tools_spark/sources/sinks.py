"""Sinks (SURVEY §2.2): open-data publish, dead-letter capture, JDBC.

The reference's S3 object puts (K7) and AGO/Carto HTTP loads (K5/K6)
collapse to path-based writes and foreachPartition batching here; the
atomic-promote semantics live in the lake layer (LakeTable.overwrite_
full / merge_batch), not in the sink."""

from __future__ import annotations

import hashlib
import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def publish_csv_gzip(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """K8 (ref: opendata/opendata.py:78-263, gzip level 7 at :68-75):
    publish as gzipped CSV with header. Spark writes one .csv.gz per
    partition — coalesce upstream if a single artifact is required."""
    df.write.option("header", True).option("compression", "gzip").csv(path, mode=mode)


def dead_letter(
    failed: DataFrame, base_path: str, reason_col: str = "_error"
) -> str:
    """K9 (ref: ago/ago.py:319-344 timestamped -errors.txt in S3, the
    pipeline continues): persist failed rows with an error column to a
    timestamped path; returns the path for lineage."""
    if reason_col not in failed.columns:
        failed = failed.withColumn(reason_col, F.lit("unknown"))
    path = f"{base_path}/_errors/{time.strftime('%Y%m%dT%H%M%S')}"
    failed.write.parquet(path, mode="errorifexists")
    return path


def write_jdbc(
    df: DataFrame, url: str, table: str, mode: str = "append", batchsize: int = 500, **options
) -> None:
    """K1/K3 analogue (ref COPY postgres.py:230-275, appendoraclesde
    oracle.py:272-284): batched JDBC write; batchsize mirrors the
    reference's 500-row edit batches (ago.py:70)."""
    writer = (
        df.write.format("jdbc").option("url", url).option("dbtable", table)
        .option("batchsize", batchsize).mode(mode)
    )
    for k, v in options.items():
        writer = writer.option(k, v)
    writer.save()


def deliver_batched_reliable(
    df: DataFrame,
    send,
    batch_size: int = 500,
    max_retries: int = 5,
    backoff_s: float = 0.05,
    backoff_factor: float = 2.0,
    dead_letter_base: str | None = None,
) -> dict:
    """K6/K9 completed (ref: ago/ago.py:716-931 — the 5-try machine
    with doubled-up-count reconciliation): retrying, reconciling,
    dead-lettering delivery of ``df`` to a remote batch sink.

    Per batch of ``batch_size`` rows:

    - a DETERMINISTIC idempotency token — md5 of (partition id,
      in-partition batch ordinal, serialized batch content) —
      accompanies every attempt. Retries (wrapper-level AND Spark task
      retries) resend the same token, so a receiver that dedups on it
      gets exactly-once while the wire contract stays at-least-once
      (the reference reconciles doubled-up rows by count; a token is
      the set-wise version of that). The partition id + ordinal give
      the token a BATCH IDENTITY, not just content identity: two
      distinct batches whose serialized content happens to be equal
      (e.g. duplicate rows in a CDC feed filling two full batches)
      carry different tokens and are both delivered. Both components
      are deterministic across task retries because the wrapper
      re-batches arrow chunks to a fixed framing below;
    - ``send(rows, token)`` is attempted up to ``max_retries`` times
      with exponential backoff (``backoff_s * backoff_factor**k``);
    - a batch that exhausts retries goes to the dead-letter sink
      (rows + ``_error``/``_token`` columns) and the pipeline
      CONTINUES — the reference's -errors.txt semantics (ago.py:319).

    Returns reconciliation stats:
    ``{"sent_rows", "failed_rows", "batches", "retried_batches",
    "attempts", "dead_letter_path"}`` — ``sent_rows + failed_rows ==
    df.count()`` EXACTLY: ``failed_rows`` is counted from the
    materialized failed output (not an accumulator) and ``sent_rows``
    is input minus failed, so the ledger holds even when Spark retries
    or speculatively re-executes tasks. ``batches`` /
    ``retried_batches`` / ``attempts`` are accumulator-based
    diagnostics and may OVER-count under task retry/speculation
    (transformation-side accumulators are at-least-once); treat them
    as approximate. The input is scanned twice (one count-only job +
    the delivery job) — cache upstream if it is expensive to
    recompute, and note the exactness contract assumes a DETERMINISTIC
    input: a source whose rows differ between the two scans (rand(),
    sampling, a changing table) silently skews ``sent_rows``, and with
    a flaky sink a cache eviction between them can make the
    dead-letter contents disagree with ``failed_rows``. Persist the
    DataFrame itself (or stage it) when the input is not a pure
    function of stored data.

    Scale shape: delivery work and retry state are per-executor (one
    Python worker per partition, Arrow-batched in); the driver only
    aggregates metadata-sized counters and writes the (small) failed
    remainder. No ``collect()`` of payload rows."""
    out_schema = T.StructType(
        list(df.schema.fields)
        + [
            T.StructField("_error", T.StringType()),
            T.StructField("_token", T.StringType()),
        ]
    )
    counters = df.sparkSession.sparkContext
    batch_acc = counters.accumulator(0)
    retry_acc = counters.accumulator(0)
    attempt_acc = counters.accumulator(0)

    def run(pdf_iter):
        import pandas as pd
        from pyspark import TaskContext

        tc = TaskContext.get()
        partition_id = tc.partitionId() if tc is not None else -1
        ordinal = 0  # in-partition batch ordinal; deterministic given
        # the enforced re-batching below, so retried tasks re-derive
        # identical tokens

        def deliver(batch: "pd.DataFrame"):
            """One batch through the retry machine; returns the failed
            batch with error columns, or None on success."""
            nonlocal ordinal
            token = hashlib.md5(
                f"{partition_id}:{ordinal}:".encode()
                + batch.to_csv(index=False).encode("utf-8", "surrogatepass")
            ).hexdigest()[:20]
            ordinal += 1
            batch_acc.add(1)
            rows = batch.to_dict("records")
            delay = backoff_s
            last_err = None
            for attempt in range(max_retries):
                attempt_acc.add(1)
                if attempt == 1:
                    retry_acc.add(1)
                if attempt > 0:
                    time.sleep(delay)
                    delay *= backoff_factor
                try:
                    send(rows, token)
                    return None
                except Exception as e:  # noqa: BLE001 — remote sink
                    # failures are data, not control flow: classify at
                    # the END of the retry budget, never crash the job
                    last_err = e
            failed = batch.copy()
            failed["_error"] = repr(last_err)
            failed["_token"] = token
            return failed

        # re-batch arrow chunks to exactly batch_size (tail excepted):
        # the token is content-derived, so batch framing must be
        # deterministic across retries of the whole Spark task too
        pending = None
        for pdf in pdf_iter:
            pdf = pd.concat([pending, pdf], ignore_index=True) if pending is not None else pdf
            n_full = (len(pdf) // batch_size) * batch_size
            for lo in range(0, n_full, batch_size):
                out = deliver(pdf.iloc[lo : lo + batch_size].reset_index(drop=True))
                if out is not None:
                    yield out
            pending = pdf.iloc[n_full:].reset_index(drop=True) if n_full < len(pdf) else None
        if pending is not None and len(pending):
            out = deliver(pending)
            if out is not None:
                yield out

    total_rows = df.count()  # count-only job; no delivery side effects
    failed_df = df.mapInPandas(run, out_schema).persist()
    try:
        # materialize ONCE via the exact count — delivery happens HERE;
        # the dead-letter write below reuses the cached result (a cache
        # eviction would redeliver, which the idempotency tokens absorb)
        n_failed = failed_df.count()
        dead_letter_path = None
        if dead_letter_base is not None:
            dead_letter_path = dead_letter(failed_df, dead_letter_base)
    finally:
        failed_df.unpersist()
    return {
        "sent_rows": total_rows - n_failed,
        "failed_rows": n_failed,
        "batches": batch_acc.value,
        "retried_batches": retry_acc.value,
        "attempts": attempt_acc.value,
        "dead_letter_path": dead_letter_path,
    }
