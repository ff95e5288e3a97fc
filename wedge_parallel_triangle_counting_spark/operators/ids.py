"""Contiguous id assignment at scale (the url→vertex-id dictionary of
the north rule, and the degree-rank permutation both reduce to this).

A global `row_number()` window funnels every row through one task at
the sort boundary — the classic antipattern at 10^12 rows (SURVEY
§7.3). This is the two-pass zipWithIndex pattern instead:

1. range-partition by the order key into `loop_partitions` ranges
   (the session's one partition rule) and sort within partitions
   (distributed sort, like any shuffle sort);
2. count rows per physical partition (cheap agg), prefix-sum the
   counts on the driver (one tiny array), broadcast the offsets;
3. per-partition local index + offset inside `mapInPandas`.

The partitioned+sorted frame is persisted so the partition ids seen by
pass 2 and pass 3 are identical.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .checkpointing import loop_partitions


def assign_contiguous_ids_with_count(
    df: DataFrame,
    order_cols: list[str],
    id_col: str = "id",
    npartitions: int | None = None,
) -> tuple[DataFrame, int]:
    """Like `assign_contiguous_ids` but also returns the total row
    count, which pass 2 computes anyway — callers that need n (e.g.
    the rank pipeline) save a full count job."""
    spark = df.sparkSession
    npart = npartitions or loop_partitions(spark)
    parted = (
        df.repartitionByRange(npart, *order_cols)
        .sortWithinPartitions(*order_cols)
        .persist()
    )
    counts = {
        r["pid"]: r["count"]
        for r in parted.groupBy(F.spark_partition_id().alias("pid")).count().collect()
    }
    offsets = {}
    acc = 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    boff = spark.sparkContext.broadcast(offsets)

    from pyspark.sql.types import LongType, StructField, StructType

    # df.schema is cached on the DataFrame and StructType.add mutates
    # in place — build a fresh StructType to avoid corrupting it.
    out_schema = StructType(
        list(parted.schema.fields) + [StructField(id_col, LongType())]
    )

    def add_ids(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext

        base = boff.value.get(TaskContext.get().partitionId(), 0)
        seen = 0
        for pdf in it:
            pdf = pdf.copy()
            pdf[id_col] = range(base + seen, base + seen + len(pdf))
            seen += len(pdf)
            yield pdf

    return parted.mapInPandas(add_ids, schema=out_schema), acc


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

    Same two-pass shape as `assign_contiguous_ids_with_count` but
    summing a weight instead of counting rows — this is the
    distributed analogue of the reference's global wedge cumsum
    (A3, tc.cu:348-361) that drives wedge-balanced partitioning."""
    spark = df.sparkSession
    npart = npartitions or loop_partitions(spark)
    parted = (
        df.repartitionByRange(npart, *order_cols)
        .sortWithinPartitions(*order_cols)
        .persist()
    )
    if caches is not None:
        caches.append(parted)
    sums = {
        r["pid"]: r["w"]
        for r in parted.groupBy(F.spark_partition_id().alias("pid"))
        .agg(F.coalesce(F.sum(weight_col), F.lit(0)).alias("w"))
        .collect()
    }
    offsets = {}
    acc = 0
    for pid in sorted(sums):
        offsets[pid] = acc
        acc += sums[pid]
    boff = spark.sparkContext.broadcast(offsets)

    from pyspark.sql.types import LongType, StructField, StructType

    out_schema = StructType(
        list(parted.schema.fields) + [StructField(out_col, LongType())]
    )

    def add_cum(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext

        base = boff.value.get(TaskContext.get().partitionId(), 0)
        for pdf in it:
            pdf = pdf.copy()
            w = pdf[weight_col].to_numpy()
            pdf[out_col] = base + w.cumsum() - w  # exclusive prefix
            base += int(w.sum())
            yield pdf

    return parted.mapInPandas(add_cum, schema=out_schema), acc


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
