"""Warehouse layout primitives: partitioned writes and Z-order keys.

- **Partitioned writes** (``partitionBy``): date/tenant directories the
  scanner prunes entirely — a filter on the partition column reads only
  matching directories (PartitionFilters in the plan, zero I/O elsewhere).
  Plan-asserted in tests/test_warehouse_layout.py.
- **Z-order keys**: one locality key over two dimensions, for layouts that
  must prune on either column (q04).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_partitioned(df: DataFrame, path: str, *, partition_cols: list[str]) -> None:
    # repartition ON the partition columns first: a dynamic-partition
    # write otherwise opens (tasks x live partition values) parquet
    # writers — 32 tasks x 64 partition values = 2048 tiny files; after
    # the shuffle each task owns a few whole partition values and writes
    # one file per value. Same discipline Spark recommends before
    # INSERT ... PARTITION.
    df.repartition(*[df[c] for c in partition_cols]).write.mode("overwrite").partitionBy(
        *partition_cols
    ).parquet(path)


def zorder_key(x_col, y_col, *, bits: int = 10):
    """Morton (Z-order) interleave of two bounded ints -> one locality key.

    The physical-layout lever after partitioning: range-partitioning +
    sorting by the interleaved key clusters rows that are close in BOTH
    dimensions into the same files, so per-file min/max statistics prune
    scans on EITHER column (a sort on (x, y) only ever prunes the leading
    column). This is how multi-dimensional predicates
    (tenant x date, customer x time) stay I/O-proportional at 100 TB —
    the same layout Delta/Iceberg OPTIMIZE ZORDER produces.

    Inputs are masked to ``bits`` (caller buckets/ranks beforehand); the
    key is an exact integer Column — engine-portable bit arithmetic.
    """
    from pyspark.sql import functions as F

    x = x_col.cast("long").bitwiseAND(F.lit((1 << bits) - 1))
    y = y_col.cast("long").bitwiseAND(F.lit((1 << bits) - 1))
    z = F.lit(0).cast("long")
    for i in range(bits):
        z = z + F.shiftleft(F.shiftright(x, i).bitwiseAND(F.lit(1)), 2 * i)
        z = z + F.shiftleft(F.shiftright(y, i).bitwiseAND(F.lit(1)), 2 * i + 1)
    return z
