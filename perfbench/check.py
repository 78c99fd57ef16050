"""Output checks.

A batch op is checked by the row count and an order-insensitive
fingerprint of the rows it wrote. Both ride a ``df.observe()`` on the
frame the noop sink writes, so every timed op is checked without running
its plan a second time; the comparison with the stored values happens
after the op's clock has stopped.

Fingerprint rule, the benchmark's own copy of the oracle's
canonicalization: floats and doubles are cut to 9 significant digits
(NaN and -0.0 normalized), every other value is hashed as stored, nulls
are marked explicitly. The row hash is xxhash64 over the columns in name
order; the fingerprint is the exact DECIMAL sum of the row hashes, so it
ignores row order and partitioning but not multiplicity.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _canon(c: Column, dt: T.DataType) -> Column:
    if isinstance(dt, (T.DoubleType, T.FloatType)):
        d = c.cast("double")
        return F.when(F.isnan(d), F.lit("nan")).otherwise(
            F.format_string("%.8e", d + F.lit(0.0)))
    if isinstance(dt, T.ArrayType):
        return F.to_json(F.transform(c, lambda x: _canon(x, dt.elementType)))
    if isinstance(dt, T.MapType):
        return F.to_json(F.array_sort(F.transform(
            F.map_entries(c),
            lambda e: F.struct(_canon(e["key"], dt.keyType).alias("k"),
                               _canon(e["value"], dt.valueType).alias("v")))))
    if isinstance(dt, T.StructType):
        return F.to_json(F.struct(*[
            _canon(c[f.name], f.dataType).alias(f.name) for f in dt.fields]))
    if isinstance(dt, T.BinaryType):
        return F.hex(c)
    return c.cast("string")


def fingerprinted(df: DataFrame, obs: Observation) -> DataFrame:
    """``df`` with a (rows, fp) observation attached."""
    parts = []
    for f in sorted(df.schema.fields, key=lambda f: f.name):
        c = F.col(f"`{f.name}`")
        parts.append(F.coalesce(_canon(c, f.dataType), F.lit("\x00null")))
    row_hash = F.xxhash64(*parts) if parts else F.lit(0)
    return df.observe(
        obs, F.count(F.lit(1)).alias("rows"),
        F.coalesce(F.sum(row_hash.cast("decimal(20,0)")),
                   F.lit(0).cast("decimal(38,0)")).alias("fp"))


def stream_ok(processed: int, sum_id: int, dead: int, n: int,
              first_id: int = 1) -> bool:
    """A drain of records first_id..first_id+n-1 delivered each exactly
    once and dead-lettered none."""
    last = first_id + n - 1
    want_sum = (last * (last + 1) - (first_id - 1) * first_id) // 2
    return processed == n and sum_id == want_sum and dead == 0
