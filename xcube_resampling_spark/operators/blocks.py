"""The block-kernel harness of the fused operators.

Affine's gather, reproject's cogroup and rectify's scatter and densify
all run the same skeleton: route source rows to row blocks, shuffle once
per block key, and evaluate a numpy kernel on each block.  This module
is that skeleton's one copy:

* the pixel-key codec: a source pixel ``(j, i)`` travels as the int64
  ``sp = j * 2^31 + i`` (both non-negative 32-bit ints, so the packing
  is integer-exact; ``utils.check_pixel_key_bound`` guards it on the
  driver);
* the routing select that sends each row to a range of blocks;
* the pinned grouped launch and the cogrouped launch, both through
  ``applyInArrow``;
* the column reader and writer of the kernels.

Kernels see Arrow tables, not pandas frames.  Arrow keeps SQL NULL and
NaN apart in both directions, so a kernel reads presence straight from
a column's validity bitmap, and a NaN it emits stays NaN.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_type


def pack_ij(j: str = "j", i: str = "i") -> Column:
    """The int64 pixel key ``j * 2^31 + i`` of two int columns."""
    return F.col(j).cast("bigint") * F.lit(1 << 31).cast("bigint") + F.col(i)


def unpack_ij(sp: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """``(j, i)`` of packed int64 pixel keys."""
    return sp >> 31, sp & 0x7FFFFFFF


def route(df: DataFrame, lo: Column, hi: Column, *cols) -> DataFrame:
    """One ``(sp, *cols, blk)`` row per block ``lo..hi`` of each
    ``(j, i, ...)`` row, ``(j, i)`` packed into ``sp``."""
    return df.select(
        pack_ij().alias("sp"), *cols,
        F.explode(F.sequence(lo, hi)).alias("blk"),
    )


def route_long(src_df: DataFrame, num_t: int, lo: Column,
               hi: Column) -> DataFrame:
    """Long source rows ``(t, j, i, value)`` routed as ``(sp, t, value,
    blk)``.  NULL values and t outside ``0..num_t-1`` are dropped before
    the shuffle: the kernels read NULL and absent alike as fill."""
    return route(
        src_df.filter(
            F.col("value").isNotNull() & F.col("t").between(0, num_t - 1)
        ),
        lo, hi, "t", "value",
    )


def launch(df: DataFrame, n_blk: int, kernel, schema: T.StructType,
           key: str = "blk", sentinels: bool = False) -> DataFrame:
    """``kernel(key, table)`` once per block key, one partition per
    block.

    The explicit repartition pins the kernel stage at ``n_blk``
    partitions: its cost is per-group numpy compute, not shuffle bytes,
    so AQE's byte-based coalescing (measured folding 32 groups into 16
    tasks, half the cores idle) must not apply.  ``hashpartitioning(key,
    n_blk)`` satisfies the groupBy's distribution, so it replaces the
    implicit exchange rather than adding one.  Against the alternatives
    (measured at the 10x rectify shape, local[32]): 4x partitions paid
    empty-task and fetch overhead, ``repartitionByRange`` a sampling pass
    that re-ran the upstream.

    ``sentinels`` adds one row per block ``0..n_blk-1`` with every other
    column -1, so each block's kernel runs even if no row reached it; a
    kernel tells them by a negative value in its (non-negative) key
    column.
    """
    if sentinels:
        df = df.unionByName(df.sparkSession.range(n_blk).select(*[
            F.col("id").cast(f.dataType).alias(f.name) if f.name == key
            else F.lit(-1).cast(f.dataType).alias(f.name)
            for f in df.schema.fields
        ]))
    return df.repartition(n_blk, key).groupBy(key).applyInArrow(
        kernel, schema
    )


def launch_cogroup(left: DataFrame, right: DataFrame, kernel,
                   schema: T.StructType, key: str = "blk") -> DataFrame:
    """``kernel(left_table, right_table)`` once per key present on
    either side (an absent side is an empty table)."""
    return left.groupBy(key).cogroup(right.groupBy(key)).applyInArrow(
        kernel, schema
    )


def read(table: pa.Table, name: str) -> tuple[np.ndarray, np.ndarray]:
    """A column as ``(values, present)``: numpy values (a float column's
    NULLs read NaN) and the Arrow validity bitmap as a bool mask."""
    col = table.column(name)
    values = col.to_numpy()
    if col.null_count == 0:
        return values, np.ones(len(values), dtype=bool)
    return values, col.is_valid().to_numpy(zero_copy_only=False)


def emit(schema: T.StructType, cols: dict) -> pa.Table:
    """A kernel's output table of ``schema``.  Each column is a numpy
    array, or a ``(values, present)`` pair whose absent entries are
    NULL."""
    arrays = []
    for f in schema.fields:
        col, mask = cols[f.name], None
        if isinstance(col, tuple):
            col, present = col
            mask = ~present
        arrays.append(pa.array(col, type=to_arrow_type(f.dataType),
                               mask=mask))
    return pa.Table.from_arrays(arrays, names=schema.names)
