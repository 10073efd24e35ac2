"""SparkSession factory with scale-appropriate defaults.

Session timezone is pinned to UTC so results compare bit-for-bit with
DuckDB oracles (duckdb timestamps are UTC-naive). The reference instead
localized naive timestamps to US/Eastern at extract time
(ref: postgres/postgres.py:327-341, oracle/oracle.py:197-221); the
engine expresses that as an explicit column transform
(:func:`..operators.transforms.localize_naive_timestamps`) rather than
a session-wide setting, so the session TZ can stay deterministic.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "databridge-spark",
    cores: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``cores`` sets ``local[N]`` parallelism; default from
    ``$SPARK_GRAFT_CPUS`` or ``*``.  ``shuffle_partitions`` defaults to
    2x core count (good for local; on a real cluster AQE coalesces
    down from a larger initial number anyway).
    """
    if cores is None:
        cores = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = f"local[{cores}]"
    if shuffle_partitions is None:
        n = os.cpu_count() or 8 if cores == "*" else int(cores)
        shuffle_partitions = max(8, 2 * n)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # AQE: runtime coalescing of shuffle partitions + skew-join
        # splitting. At 100 TB this is what keeps reducers balanced;
        # locally it trims empty partitions.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Arrow for every pandas interchange (vectorized UDF transport).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Deterministic cross-engine comparison (see module docstring).
        .config("spark.sql.session.timeZone", "UTC")
        # Parquet scans: 128 MiB splits — the cluster-scale default;
        # small local files produce one task each regardless.
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # ANSI off: TPC-H-ish testdata has overflow-free arithmetic and
        # DuckDB-compatible null-on-bad-cast is what the oracles assume.
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def conf_bytes(spark: SparkSession, key: str, default: int) -> int:
    """A byte-size conf of the session as bytes, ``default`` when unset.
    Accepts what Spark accepts: plain bytes or a binary-unit suffix
    (``134217728``, ``134217728b``, ``128m``, ``64MB``, ``1g``)."""
    raw = spark.conf.get(key, None)
    if raw is None:
        return default
    m = re.fullmatch(r"\s*(\d+)\s*([kmgtp]?)b?\s*", raw.lower())
    if m is None:
        raise ValueError(f"{key}={raw!r} is not a byte size")
    return int(m[1]) << 10 * ("", "k", "m", "g", "t", "p").index(m[2])


def stop_spark() -> None:
    """Stop the active session (used by parallelism-sweep benchmarks)."""
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
