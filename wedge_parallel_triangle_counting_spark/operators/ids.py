"""Contiguous id assignment at scale (the url→vertex-id dictionary of
the north rule, and the degree-rank permutation both reduce to this).

A global `row_number()` window funnels every row through one task at
the sort boundary — the classic antipattern at 10^12 rows (SURVEY
§7.3). This is the two-pass zipWithIndex pattern instead:

1. range-partition by the order key into `loop_partitions` ranges
   (the session's one partition rule) and sort within partitions
   (distributed sort, like any shuffle sort);
2. count rows per physical partition (cheap agg) and prefix-sum the
   counts on the driver (one tiny array);
3. one JVM column expression: the partition's offset, a literal array
   indexed by `spark_partition_id()`, plus the row's index within its
   partition, the low 33 bits of `monotonically_increasing_id()`. No
   Python worker and no broadcast.

The partitioned+sorted frame is persisted so the partition ids seen by
pass 2 and pass 3 are identical.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .checkpointing import loop_partitions

# monotonically_increasing_id() = (partition id << 33) + row index
_ROW_BITS = 33


def _range_sorted(
    df: DataFrame,
    order_cols: list[str],
    per_partition,
    npartitions: int | None,
    caches: list | None,
) -> tuple[DataFrame, dict, list]:
    """Passes 1 and 2: the persisted range-partitioned, sorted frame
    (appended to `caches` if given), {partition id: `per_partition`
    aggregate} and offsets, where offsets[pid] is the aggregate over
    the partitions before pid (a pid missing from the totals holds no
    rows, so no row reads its offset)."""
    npart = npartitions or loop_partitions(df.sparkSession)
    parted = (
        df.repartitionByRange(npart, *order_cols)
        .sortWithinPartitions(*order_cols)
        .persist()
    )
    if caches is not None:
        caches.append(parted)
    totals = dict(
        parted.groupBy(F.spark_partition_id()).agg(per_partition).collect()
    )
    offsets = [0]
    for pid in range(max(totals, default=0)):
        offsets.append(offsets[-1] + totals.get(pid, 0))
    return parted, totals, offsets


def assign_contiguous_ids_with_count(
    df: DataFrame,
    order_cols: list[str],
    id_col: str = "id",
    npartitions: int | None = None,
    caches: list | None = None,
) -> tuple[DataFrame, int]:
    """Like `assign_contiguous_ids` but also returns the total row
    count, which pass 2 computes anyway — callers that need n (e.g.
    the rank pipeline) save a full count job. `caches` as in
    `attach_cumulative_weight`."""
    parted, counts, offsets = _range_sorted(
        df, order_cols, F.count(F.lit(1)), npartitions, caches
    )
    if counts and max(counts.values()) >= 1 << _ROW_BITS:
        raise ValueError(
            f"a partition holds >= 2^{_ROW_BITS} rows; raise npartitions"
        )
    pid = F.spark_partition_id().cast("long")
    row = F.monotonically_increasing_id() - F.shiftleft(pid, _ROW_BITS)
    base = F.element_at(F.array(*map(F.lit, offsets)), (pid + 1).cast("int"))
    return parted.withColumn(id_col, base + row), sum(counts.values())


def attach_cumulative_weight(
    df: DataFrame,
    order_cols: list[str],
    weight_col: str,
    out_col: str = "cum",
    npartitions: int | None = None,
    caches: list | None = None,
) -> tuple[DataFrame, int]:
    """Append the EXCLUSIVE prefix sum of `weight_col` following the
    total order of `order_cols`; returns (df+out_col, grand total).
    If `caches` is given, the persisted partitioned frame is appended
    to it so the caller can unpersist it after its terminal action.

    Same two-pass shape as `assign_contiguous_ids_with_count` but
    summing a weight instead of counting rows — this is the
    distributed analogue of the reference's global wedge cumsum
    (A3, tc.cu:348-361) that drives wedge-balanced partitioning. The
    running sum within a partition stays in `mapInPandas`: its only
    JVM form is a window, which re-shuffles."""
    parted, sums, offsets = _range_sorted(
        df, order_cols, F.coalesce(F.sum(weight_col), F.lit(0)), npartitions, caches
    )
    boff = df.sparkSession.sparkContext.broadcast(offsets)

    from pyspark.sql.types import LongType, StructField, StructType

    out_schema = StructType(
        list(parted.schema.fields) + [StructField(out_col, LongType())]
    )

    def add_cum(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext

        pid, seen = TaskContext.get().partitionId(), 0
        for pdf in it:  # an empty partition never reads its offset
            pdf = pdf.copy()
            w = pdf[weight_col].to_numpy()
            pdf[out_col] = boff.value[pid] + seen + w.cumsum() - w  # exclusive prefix
            seen += int(w.sum())
            yield pdf

    return parted.mapInPandas(add_cum, schema=out_schema), sum(sums.values())


def assign_contiguous_ids(
    df: DataFrame,
    order_cols: list[str],
    id_col: str = "id",
    npartitions: int | None = None,
) -> DataFrame:
    """Append a dense 0-based id column following the total order of
    `order_cols` (which must be a unique key of `df`)."""
    out, _ = assign_contiguous_ids_with_count(df, order_cols, id_col, npartitions)
    return out
