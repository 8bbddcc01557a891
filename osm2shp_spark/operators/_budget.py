"""The one driver-memory budget for every broadcast side.

:func:`fits_broadcast` sums the payload bytes of exactly the projection
a selector collects or broadcasts, in one aggregate: the fixed width of
every numeric or boolean value (a NULL still holds its slot),
``octet_length`` of a string, ``size × element width`` of an array whose
elements are fixed-width values or structs of them (the PIP edge list).
Any other column type raises ``TypeError`` naming the column."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: payload bytes any one broadcast side may carry; read at call time
BROADCAST_BUDGET_BYTES = 256 << 20

_WIDTH = {"bigint": 8, "int": 4, "double": 8, "float": 4, "boolean": 1}


def _field_bytes(field: T.StructField) -> Column:
    t, c = field.dataType.simpleString(), F.col(field.name)
    if t in _WIDTH:
        return F.lit(_WIDTH[t])
    if t == "string":
        return F.coalesce(F.octet_length(c), F.lit(0))
    if isinstance(field.dataType, T.ArrayType):
        e = field.dataType.elementType
        parts = e.fields if isinstance(e, T.StructType) else [T.StructField("", e)]
        widths = [_WIDTH.get(f.dataType.simpleString()) for f in parts]
        if None not in widths:
            return F.when(c.isNotNull(), F.size(c) * sum(widths)).otherwise(0)
    raise TypeError(f"broadcast budget: column {field.name!r} has type {t}")


def payload_bytes_sum(df: DataFrame) -> Column:
    """Aggregate expression: total payload bytes of ``df`` (0 if empty)."""
    row = sum((_field_bytes(f) for f in df.schema.fields), F.lit(0))
    return F.coalesce(F.sum(row.cast("bigint")), F.lit(0))


def fits_broadcast(df: DataFrame) -> bool:
    """One aggregate job: does ``df``'s payload fit the budget?"""
    return df.agg(payload_bytes_sum(df)).collect()[0][0] <= BROADCAST_BUDGET_BYTES
