"""Distributed global ranking — row_number over a total order WITHOUT the
single-partition window.

``row_number().over(Window.orderBy(...))`` with no partitionBy collapses the
whole dataset onto one task — the classic scale killer (Spark even warns).
The distributed construction here is the one a 1000-executor cluster needs:

1. ``repartitionByRange`` + ``sortWithinPartitions`` — Spark's own global-sort
   machinery (range-sampled bounds, partition i's keys all ≤ partition i+1's);
2. a per-partition local index added order-preservingly in Arrow batches
   (``mapInPandas`` with the TaskContext partition id — no shuffle, no sort);
3. per-partition row counts (a ≤num_partitions-row aggregate) turned into
   prefix-sum offsets on the driver and broadcast back;
4. global rank = offset[partition] + local index + 1.

The caller's order must be TOTAL (include a unique tie-break column):
rows with equal keys may straddle a range boundary, and only a total order
makes the resulting rank well-defined and engine-reproducible.

The sorted+indexed frame is stored with ``round_checkpoint`` so the counts
job and the caller's job see the same computation once (MEMORY_AND_DISK —
the frame is read twice); it is freed once the result is unreferenced.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ortholog_pipeline_spark.operators import iterate as IT


def global_rank(
    df: DataFrame,
    order_cols: list[str],
    rank_col: str = "rank",
    num_partitions: int | None = None,
) -> DataFrame:
    """Attach a 1-based dense global row number following ``order_cols``."""
    spark = df.sparkSession
    n = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    sorted_df = df.repartitionByRange(
        n, *[F.col(c) for c in order_cols]
    ).sortWithinPartitions(*order_cols)

    out_schema = T.StructType(
        list(sorted_df.schema.fields)
        + [
            T.StructField("_pid", T.IntegerType(), False),
            T.StructField("_local", T.LongType(), False),
        ]
    )

    def add_index(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        i = 0
        for pdf in batches:
            pdf = pdf.copy()
            pdf["_pid"] = np.int32(pid)
            pdf["_local"] = np.arange(i, i + len(pdf), dtype="int64")
            i += len(pdf)
            yield pdf

    indexed = IT.round_checkpoint(sorted_df.mapInPandas(add_index, out_schema))
    counts = {
        r["_pid"]: r["n"]
        for r in indexed.groupBy("_pid").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    offsets, acc = [], 0
    for pid in range(n):
        offsets.append((pid, acc))
        acc += counts.get(pid, 0)
    off_df = spark.createDataFrame(offsets, schema="_pid int, _offset long")
    return (
        indexed.join(F.broadcast(off_df), "_pid")
        .withColumn(rank_col, F.col("_offset") + F.col("_local") + F.lit(1))
        .drop("_pid", "_local", "_offset")
    )


def equidepth_histogram(
    df: DataFrame,
    value_col: str,
    order_cols: list[str],
    bins: int = 10,
    agg_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Equi-depth (equal-frequency) histogram via the distributed rank:
    bin i holds rows with (rank-1)*bins div n == i — exact integer binning,
    no floats near bin edges, no single-partition window. One extra count
    job supplies n (a scalar)."""
    n_total = df.count()
    ranked = global_rank(df, order_cols)
    binned = ranked.withColumn(
        "bin", F.expr(f"((rank - 1) * {bins}) div {n_total}")
    )
    return binned.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.min(value_col), 2).alias("lo"),
        F.round(F.max(value_col), 2).alias("hi"),
    )


def global_prefix_sum(
    df: DataFrame,
    order_cols: list[str],
    value_col: str,
    out_col: str = "running_sum",
    num_partitions: int | None = None,
) -> DataFrame:
    """Running sum over a TOTAL order, distributed — the same two-phase trick
    as `global_rank`: range-partition + local sort, per-partition LOCAL
    running sums in Arrow batches, then add the prefix-sum of the per-partition
    TOTALS (a ≤num_partitions-row driver aggregate, broadcast back). The value
    must be integral (BIGINT accumulation) so partial sums combine exactly in
    any order — the float version would be order-dependent, which is exactly
    what this operator exists to avoid."""
    spark = df.sparkSession
    n = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    sorted_df = df.repartitionByRange(
        n, *[F.col(c) for c in order_cols]
    ).sortWithinPartitions(*order_cols)

    out_schema = T.StructType(
        list(sorted_df.schema.fields)
        + [
            T.StructField("_pid", T.IntegerType(), False),
            T.StructField("_localsum", T.LongType(), False),
        ]
    )

    def add_local_sum(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        acc = 0
        for pdf in batches:
            pdf = pdf.copy()
            pdf["_pid"] = np.int32(pid)
            csum = pdf[value_col].to_numpy(dtype="int64").cumsum() + acc
            pdf["_localsum"] = csum
            acc = int(csum[-1]) if len(csum) else acc
            yield pdf

    local = IT.round_checkpoint(sorted_df.mapInPandas(add_local_sum, out_schema))
    # Partition total = sum of the values (order-independent integer sum) —
    # NOT max(_localsum), which is wrong as soon as values can be negative
    # (e.g. ±1 concurrency deltas make the running sum non-monotonic).
    totals = {
        r["_pid"]: r["t"]
        for r in local.groupBy("_pid")
        .agg(F.sum(F.col(value_col).cast("long")).alias("t"))
        .collect()
    }
    offsets, acc = [], 0
    for pid in range(n):
        offsets.append((pid, acc))
        acc += totals.get(pid, 0)
    off_df = spark.createDataFrame(offsets, schema="_pid int, _offset long")
    return (
        local.join(F.broadcast(off_df), "_pid")
        .withColumn(out_col, F.col("_offset") + F.col("_localsum"))
        .drop("_pid", "_localsum", "_offset")
    )
