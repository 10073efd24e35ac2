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
- A merge shuffles only the batch and appends its LWW winners as
  delta files — cost is O(batch), not O(table); compaction folds a
  bucket's deltas later, O(that bucket).
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


def dedup_last_writer(df: DataFrame, keys: list[str], order_cols: list[str]) -> DataFrame:
    """Keep exactly one row per key: the last writer by order_cols,
    ties broken by payload hash (total order → deterministic replay).
    The keyed LWW form, for reads and queries: ``row_number() == 1``
    over a key-partitioned window, which Spark plans with a partial
    ``WindowGroupLimit`` BEFORE the exchange. Lake writes use
    ``colocated_lww`` below instead, whose exchange is the write's.

    Reference semantics: AGO dup-PK repair (ago/ago.py:1070-1078) and
    the "doubled up" retry reconciliation (ago/ago.py:786-822), done
    set-wise in one shuffle.
    """
    w = Window.partitionBy(*keys).orderBy(
        *[F.col(c).desc_nulls_last() for c in order_cols], payload_tiebreak(df).desc()
    )
    return df.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")


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
    them per table shape).

    ``part_cols`` must be a pure function of ``keys`` (e.g. (bucket,
    salt) derived from the key hash): the window's one exchange by
    part_cols then also clusters a bucket-partitioned write, and its
    sort prefix satisfies the dynamic-partition writer's required
    ordering — no second shuffle. The payload-hash tail makes the sort
    a total order (deterministic winner on order-column ties)."""
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
