"""Key-partitioned MERGE with last-writer-wins dedup — the engine core.

Re-expresses the reference's upsert family as Spark dataflow:

- ``INSERT … ON CONFLICT DO UPDATE`` (postgres/postgres.py:551-565)
  → union + window row_number keep-1 over the merge keys.
- per-row AGO lookup-then-route upsert (ago/ago.py:1011-1313, 2+ HTTP
  round-trips per row) → one shuffle join over the whole batch.
- duplicate-PK repair "keep first, delete second" (ago/ago.py:1070-1078)
  → the same window, ordered by the LWW columns.
- ``DELETE … USING (… EXCEPT …)`` delete-stale (postgres/postgres.py:450-495)
  → left_anti join.

Scale notes (the part that matters at 100 TB):
- The merge shuffles only *touched* buckets of the target plus the
  (already LWW-deduped, hence small) batch — cost is O(touched data),
  not O(table).
- Hot conversations are salted before the write repartition: tasks are
  keyed by (bucket, salt) so one hot conv_id spreads over ``n_salt``
  writers while the file layout stays strictly per-bucket.
- AQE skew-join splitting stays on as the backstop for the join/window
  shuffles themselves.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

DELETED_COL = "_deleted"


def bucket_expr(key_cols: str | Column | list, n_buckets: int) -> Column:
    """Deterministic key→bucket assignment: pmod(xxhash64(*keys), n).

    Accepts one column or a LIST of columns — composite bucket keys
    hash every column, so a low-cardinality leading key (e.g. dept)
    still spreads across all buckets instead of collapsing into a few.
    xxhash64 is JVM-side and seed-stable, so bucket assignment is
    reproducible across sessions/clusters — a requirement for the
    manifest's bucket→files index to stay valid — and is re-computable
    driver-side (lake/keyhash.py) for job-free point lookups.
    """
    if isinstance(key_cols, (str, Column)):
        key_cols = [key_cols]
    cols = [F.col(c) if isinstance(c, str) else c for c in key_cols]
    return F.pmod(F.xxhash64(*cols), F.lit(n_buckets)).cast("int")


def salt_expr(n_salt: int, *cols: str | Column) -> Column:
    """Salt within a bucket to spread a hot key over n_salt write tasks."""
    return F.pmod(
        F.xxhash64(*[F.col(c) if isinstance(c, str) else c for c in cols]), F.lit(n_salt)
    ).cast("int")


def payload_tiebreak(df: DataFrame | list[str]) -> Column:
    """Deterministic final sort key: xxhash64 over every column of
    ``df`` (or over the named columns, in order). Rows with equal keys
    AND equal order columns but different payloads would otherwise get
    a nondeterministic winner (row_number over a non-total order),
    making replays/retries diverge. Identical rows hash identically, so
    duplicate delivery still collapses to the same row; distinct
    payloads get a stable, if arbitrary, winner.

    Every LWW path of a lake table must hash the same columns in the
    same order — the stored columns (payload + ``_deleted``), as
    ``read()`` sees them — or merge, compaction and read could pick
    different winners on an order-column tie."""
    cols = df.columns if isinstance(df, DataFrame) else df
    return F.xxhash64(*[F.col(c) for c in cols])


def lww_rank(keys: list[str], order_cols: list[str], tiebreak: Column | None = None) -> Column:
    """row_number() over keys, newest-writer-first on order_cols, then
    ``tiebreak`` (pass payload_tiebreak(df) for a total order) — rank 1
    is the surviving row."""
    order = [F.col(c).desc_nulls_last() for c in order_cols]
    if tiebreak is not None:
        order.append(tiebreak.desc())
    w = Window.partitionBy(*keys).orderBy(*order)
    return F.row_number().over(w)


def dedup_last_writer(df: DataFrame, keys: list[str], order_cols: list[str]) -> DataFrame:
    """Keep exactly one row per key: the last writer by order_cols,
    ties broken by payload hash (total order → deterministic replay).

    Reference semantics: AGO dup-PK repair (ago/ago.py:1070-1078) and
    the "doubled up" retry reconciliation (ago/ago.py:786-822), done
    set-wise in one shuffle.
    """
    return (
        df.withColumn("_rn", lww_rank(keys, order_cols, payload_tiebreak(df)))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def colocated_lww(
    keys: list[str],
    order_cols: list[str],
    part_cols: list[str],
    tiebreak_cols: list[str],
) -> tuple[list[Column], Column]:
    """The window expressions of the colocated LWW dedup: ``prev`` lags
    each key over the (part_cols)-partitioned sort on (keys asc, order
    desc, payload hash of ``tiebreak_cols`` desc); ``first`` is true on
    the first — winning — row of each key run. Apply them as
    ``df.select("*", *prev).filter(first)``. Built once, the Columns can
    be reused on any frame carrying those columns (lake/table.py caches
    them per table shape)."""
    w = Window.partitionBy(*part_cols).orderBy(
        *[F.col(k).asc() for k in keys],
        *[F.col(c).desc_nulls_last() for c in order_cols],
        payload_tiebreak(tiebreak_cols).desc(),
    )
    prev = [F.lag(F.col(k)).over(w).alias(f"_prev_{k}") for k in keys]
    first = F.lit(False)
    for k in keys:
        first = first | F.col(f"_prev_{k}").isNull() | (F.col(f"_prev_{k}") != F.col(k))
    return prev, first


def dedup_last_writer_colocated(
    df: DataFrame,
    keys: list[str],
    order_cols: list[str],
    part_cols: list[str],
    tiebreak_cols: list[str],
) -> DataFrame:
    """LWW dedup when ``part_cols`` is a pure function of ``keys``
    (e.g. (bucket, salt) derived from the key hash): exchange once by
    part_cols, sort (part_cols, keys, order desc), keep the first row
    of each key run via lag — no second shuffle for a downstream
    bucket-partitioned write, and the sort prefix satisfies the
    dynamic-partition writer's required ordering. This halves the
    shuffles of the merge hot path. The payload-hash tail makes the
    sort a total order (deterministic winner on order-column ties);
    it hashes ``tiebreak_cols`` (see payload_tiebreak).
    """
    prev, first = colocated_lww(keys, order_cols, part_cols, tiebreak_cols)
    return df.select("*", *prev).filter(first).drop(*[f"_prev_{k}" for k in keys])


def merge_lww(
    target: DataFrame,
    batch: DataFrame,
    keys: list[str],
    order_cols: list[str],
) -> DataFrame:
    """Merge a change batch into target rows; both sides carry
    ``_deleted`` and the order columns. Returns the merged rows
    (tombstones included — caller filters/GCs).

    union + keep-last-writer is correct for every case the reference
    handles plus the ones it can't:
    - plain upsert: newer batch row wins over target row
    - out-of-order update: older-ts batch row LOSES to existing row
    - delete-then-late-update: tombstone retains (ts, lsn) so a late
      lower-ts update still loses (impossible to get right without
      tombstones; the reference's DELETE is destructive and silently
      resurrects — we keep the stronger semantics)
    - replayed duplicate events: identical key+order rows collapse to 1
    """
    cols = target.columns
    return dedup_last_writer(
        target.select(*cols).unionByName(batch.select(*cols)), keys, order_cols
    )


def upsert_only(
    target: DataFrame, batch: DataFrame, keys: list[str]
) -> DataFrame:
    """Blind upsert (batch always wins) — the exact ON CONFLICT DO
    UPDATE semantics of postgres/postgres.py:551-565 where staging
    unconditionally overwrites. anti-join + union: one shuffle, batch
    side broadcast when small (AQE decides)."""
    return target.join(batch, on=keys, how="left_anti").unionByName(batch)


def delete_stale(
    target: DataFrame, staging: DataFrame, keys: list[str]
) -> DataFrame:
    """Keep only target rows whose key still exists in staging —
    the reference's DELETE…USING(prod EXCEPT staging) post-upsert pass
    (postgres/postgres.py:450-495). left_semi join = one shuffle."""
    return target.join(staging.select(*keys), on=keys, how="left_semi")


def route_changes(batch: DataFrame, target_keys: DataFrame, keys: list[str]) -> DataFrame:
    """Classify each change as insert vs update against current target
    keys — the set-wise replacement for the AGO per-row point query
    (ago/ago.py:1064-1100). Adds an ``_action`` column."""
    # target side is the big one — no broadcast hint; AQE picks the
    # strategy (broadcasts the batch side when it is small).
    marked = target_keys.select(*keys).withColumn("_exists", F.lit(True))
    return batch.join(marked, on=keys, how="left").withColumn(
        "_action", F.when(F.col("_exists").isNotNull(), F.lit("update")).otherwise(F.lit("insert"))
    ).drop("_exists")
