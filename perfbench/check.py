"""Output check: a content digest over every output column.

``digest`` hashes each row of a frame with ``xxhash64`` over all its
columns and sums the hashes, in one Spark job.  Hashing reads every
column, so Catalyst cannot prune any of them (a ``count()`` lets it
drop columns and even whole joins).  Floats are cast to 32-bit first:
a float sum whose partial order varies between runs then still lands
on the same value, except in the rare case where it straddles a 32-bit
rounding boundary.  The sum of hashes does not depend on row order.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _stable(col: Column, dtype: T.DataType) -> Column:
    """A hashable, run-to-run stable form of one column."""
    if isinstance(dtype, (T.DoubleType, T.FloatType)):
        # + 0.0 folds -0.0 into 0.0, which hash differently.
        return col.cast("float") + F.lit(0.0).cast("float")
    if isinstance(dtype, T.ArrayType):
        return F.transform(col, lambda x: _stable(x, dtype.elementType))
    if isinstance(dtype, T.MapType):
        # Maps are not hashable; their sorted entries are.
        entries = T.ArrayType(T.StructType([
            T.StructField("key", dtype.keyType), T.StructField("value", dtype.valueType)
        ]))
        return _stable(F.array_sort(F.map_entries(col)), entries)
    if isinstance(dtype, T.StructType):
        if not dtype.fields:
            return F.lit(0)
        return F.struct(*[
            _stable(col.getField(f.name), f.dataType).alias(f.name) for f in dtype.fields
        ])
    return col


def digest(df: DataFrame) -> tuple[int, str]:
    """(row count, order-independent content digest) of ``df``."""
    cols = [_stable(F.col(f"`{f.name}`"), f.dataType) for f in df.schema.fields]
    h = F.xxhash64(*cols) if cols else F.lit(0)
    row = df.select(h.cast("decimal(20,0)").alias("h")).agg(
        F.count(F.lit(1)).alias("n"), F.sum("h").alias("s")
    ).first()
    return int(row["n"]), str(row["s"] or 0)
