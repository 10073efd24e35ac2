"""Physical-plan inspection helpers: the engine's efficiency contracts
(pushdown happened, pruning happened, no stray shuffles) expressed as
assertable predicates over explain() output, so plan quality is tested
like behavior — not eyeballed."""

from __future__ import annotations

import io
from contextlib import redirect_stdout

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def count_exchanges(df: DataFrame) -> int:
    """Shuffle count in the physical plan: numbered operator entries
    only (formatted explain repeats each node in the detail section)."""
    import re

    return len(re.findall(r"^\(\d+\) Exchange", formatted_plan(df), re.MULTILINE))


def has_pushed_filters(df: DataFrame, fragment: str | None = None) -> bool:
    """True if the parquet scan carries PushedFilters (optionally one
    mentioning ``fragment``)."""
    plan = formatted_plan(df)
    for line in plan.splitlines():
        if "PushedFilters" in line and "PushedFilters: []" not in line:
            if fragment is None or fragment in line:
                return True
    return False


def scan_read_schema(df: DataFrame) -> list[str]:
    """Column names in the first parquet scan's ReadSchema — the
    column-pruning check."""
    plan = formatted_plan(df)
    for line in plan.splitlines():
        line = line.strip()
        if line.startswith("ReadSchema:"):
            inner = line.split("struct<", 1)[-1].rsplit(">", 1)[0]
            return [p.split(":")[0] for p in inner.split(",") if p]
    return []


def uses_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in formatted_plan(df)
