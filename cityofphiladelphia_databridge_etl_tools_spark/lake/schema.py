"""Schema evolution: add-column + numeric widening via metadata version
bump and vectorized coercion (no per-row Python).

Reference semantics: manual ``--column_mappings`` renames
(postgres/postgres.py:203-228), target-has-extra-column tolerance
(tests/test_postgres.py:33 ``newcol``), COPY-by-header-column-list
tolerating narrower inputs (postgres/postgres.py:260-271). The engine
generalizes those to: (1) incoming batches missing columns read as
null, (2) incoming batches with NEW columns evolve the table schema,
(3) numeric widening (int→long, float→double, int/long→double)
promotes the table column type; everything else is a hard error.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# (narrow, wide) pairs we auto-promote. Ordered by "width".
_WIDENING_RANK = {
    T.ByteType(): 0,
    T.ShortType(): 1,
    T.IntegerType(): 2,
    T.LongType(): 3,
    T.FloatType(): 4,
    T.DoubleType(): 5,
}


def is_widening(narrow: T.DataType, wide: T.DataType) -> bool:
    if narrow == wide:
        return False
    if narrow in _WIDENING_RANK and wide in _WIDENING_RANK:
        return _WIDENING_RANK[narrow] < _WIDENING_RANK[wide]
    return False


def widened(a: T.DataType, b: T.DataType) -> T.DataType | None:
    """The common wider type of a and b, or None if incompatible."""
    if a == b:
        return a
    if is_widening(a, b):
        return b
    if is_widening(b, a):
        return a
    return None


def evolve_schema(current: T.StructType, incoming: T.StructType) -> T.StructType:
    """Merge incoming batch schema into the table schema.

    - column in both: keep, widening promoted
    - column only in current: keep (batch will read as null)
    - column only in incoming: appended, nullable
    """
    out: list[T.StructField] = []
    incoming_by_name = {f.name: f for f in incoming.fields}
    for f in current.fields:
        inc = incoming_by_name.pop(f.name, None)
        if inc is None or inc.dataType == f.dataType:
            out.append(f)
            continue
        w = widened(f.dataType, inc.dataType)
        if w is None:
            raise TypeError(
                f"incompatible evolution for column {f.name!r}: "
                f"{f.dataType.simpleString()} vs {inc.dataType.simpleString()}"
            )
        out.append(T.StructField(f.name, w, nullable=True))
    for f in incoming_by_name.values():  # brand-new columns
        out.append(T.StructField(f.name, f.dataType, nullable=True))
    return T.StructType(out)


def coerce_expr(have: dict[str, T.StructField], f: T.StructField) -> Column:
    """Column ``f.name`` of a frame whose fields are ``have``, projected
    onto ``f``'s type: as is, cast, or a typed null when absent."""
    src = have.get(f.name)
    if src is None:
        return F.lit(None).cast(f.dataType).alias(f.name)
    if src.dataType == f.dataType:
        return F.col(f.name)
    return F.col(f.name).cast(f.dataType).alias(f.name)


def coerce_to(df: DataFrame, schema: T.StructType) -> DataFrame:
    """Project df onto schema: cast matching columns, fill missing with
    typed nulls, drop extras NOT in schema (caller evolves first if it
    wants them kept). Pure column expressions — whole-stage codegen."""
    have = {f.name: f for f in df.schema.fields}
    return df.select(*[coerce_expr(have, f) for f in schema.fields])
