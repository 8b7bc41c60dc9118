"""Schema evolution: additive columns + type widening.

The reference's own alembic history proves this is a real requirement
(SURVEY.md §1.3: add `fingerprints`/drop payload b13b7dbc4ddf:20-48, add
`origin` with default c723db9f0aae:20-27, add `direct_*` 43dc6621db1c,
ee84bfaad706).  Spark-side policy, mirroring Iceberg's safe evolutions:

- new column in the change stream  -> added to the table schema (nullable)
- widening promotions              -> int->long, float->double,
                                      int/long->double, date->timestamp
- anything else                    -> error (no silent narrowing/renames)

Old data files are never rewritten: the lake manifest tracks the schema each
file group was written with, and reads align every group to the current
schema with casts / null-fill (:func:`align_to_schema`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_WIDENING: dict[tuple[str, str], bool] = {
    ("integer", "long"): True,
    ("short", "integer"): True,
    ("short", "long"): True,
    ("byte", "short"): True,
    ("byte", "integer"): True,
    ("byte", "long"): True,
    ("float", "double"): True,
    ("integer", "double"): True,
    ("long", "double"): True,
    ("date", "timestamp"): True,
}


def _wider(a: T.DataType, b: T.DataType) -> T.DataType:
    """Widest of two primitive types under the promotion lattice; raises on
    incompatible pairs."""
    if a == b:
        return a
    an, bn = a.typeName(), b.typeName()
    if _WIDENING.get((an, bn)):
        return b
    if _WIDENING.get((bn, an)):
        return a
    raise TypeError(f"incompatible schema evolution: {an} vs {bn}")


def reconcile_schema(table: T.StructType, incoming: T.StructType) -> T.StructType:
    """Evolved table schema: table columns (possibly widened) + new incoming
    columns appended, all nullable-preserving."""
    by_name = {f.name: f for f in incoming.fields}
    out = []
    for f in table.fields:
        g = by_name.pop(f.name, None)
        if g is None:
            out.append(f)
        else:
            out.append(T.StructField(f.name, _wider(f.dataType, g.dataType), f.nullable or g.nullable))
    for f in incoming.fields:  # preserve incoming order for new columns
        if f.name in by_name:
            out.append(T.StructField(f.name, f.dataType, True))
    return T.StructType(out)


def align_to_schema(df: DataFrame, target: T.StructType) -> DataFrame:
    """Project df onto target schema: cast widened columns, null-fill missing.
    A frame already in the target's column names, order and types comes
    back unchanged: the identity projection would cost py4j calls and a
    re-analysis for nothing."""
    fields = df.schema.fields
    if [(f.name, f.dataType) for f in fields] == [(f.name, f.dataType) for f in target.fields]:
        return df
    have = {f.name: f for f in fields}
    cols = []
    for f in target.fields:
        if f.name in have:
            src = have[f.name]
            c = F.col(f.name)
            if src.dataType != f.dataType:
                c = c.cast(f.dataType)
            cols.append(c.alias(f.name))
        else:
            cols.append(F.lit(None).cast(f.dataType).alias(f.name))
    return df.select(*cols)
