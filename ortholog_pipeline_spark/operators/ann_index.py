"""Persisted ANN index: build once, query many, scan only the probed cells.

``ivf_topk`` recomputes cell assignments per query run — right for ad-hoc use,
wasteful when the corpus is stable and queries arrive continuously. This module
persists the IVF structure through the ``StateStore``:

  * ``build_ann_index`` — assign every corpus vector to its coarse cell (one
    Arrow-batched matmul) and publish TWO snapshot tables: ``<name>`` written
    ``partition_by=['cell']`` (so each cell is its own parquet directory) and
    ``<name>_seeds`` (the K centroid vectors, a few KB).
  * ``query_ann_index`` — recompute probe cells for the incoming queries from
    the PERSISTED seeds, then read the index with a literal
    ``cell IN (<probe set>)`` filter. Because ``cell`` is the partition column,
    Catalyst prunes at the DIRECTORY level: the scan touches n_probe·|queries|
    cells at most, not the corpus — ``PartitionFilters`` in the plan, pinned by
    the plan-audit test. At 100 TB this is the difference between reading ~12%
    of the index and reading all of it.

The probe-cell set is driver-collected before the scan; that is what makes the
pruning STATIC (literal) rather than relying on runtime dynamic partition
pruning. Query batches are small by contract (they are the broadcast side
everywhere in this engine); the collect is bounded by n_probe·|queries| ints.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ortholog_pipeline_spark.operators import iterate as IT
from ortholog_pipeline_spark.operators.similarity import (
    as_double,
    cosine,
    ivf_assign_udf,
)
from ortholog_pipeline_spark.sources.state import StateStore


def build_ann_index(
    store: StateStore,
    corpus: DataFrame,
    name: str = "ann_index",
    n_cells: int = 32,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> int:
    """Publish the IVF index snapshot (partitioned by cell) + its seed table.
    Returns the published index version."""
    seed_rows = (
        corpus.select(F.col(id_col), as_double(F.col(vec_col)).alias("_v"))
        .orderBy(F.col(id_col))
        .limit(n_cells)
        .collect()
    )
    seed_mat = np.array([r._v for r in seed_rows], dtype=np.float64)
    spark = corpus.sparkSession
    seeds_df = spark.createDataFrame(
        [(i, [float(x) for x in seed_mat[i]]) for i in range(len(seed_rows))],
        "cell int, seed array<double>",
    )
    store.write(f"{name}_seeds", seeds_df)

    indexed = corpus.select(
        F.col(id_col),
        as_double(F.col(vec_col)).alias("vec"),
    ).withColumn("cell", ivf_assign_udf(seed_mat, 1)(F.col("vec"))[0])
    return store.write(name, indexed, partition_by=["cell"])


def query_ann_index(
    store: StateStore,
    queries: DataFrame,
    name: str = "ann_index",
    k: int = 10,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k over the persisted index, scanning only the probed cell partitions."""
    seed_rows = store.read(f"{name}_seeds").orderBy("cell").collect()
    seed_mat = np.array([r.seed for r in seed_rows], dtype=np.float64)

    q = queries.select(
        F.col(id_col).alias("query_id"), as_double(F.col(vec_col)).alias("_qv")
    ).withColumn("cells", ivf_assign_udf(seed_mat, n_probe)(F.col("_qv")))
    q_cells = IT.round_checkpoint(q.select(
        "query_id", "_qv", F.explode("cells").alias("cell")
    ))

    # literal probe set → STATIC partition pruning on the index scan
    probe_cells = sorted({r.cell for r in q_cells.select("cell").distinct().collect()})
    index = store.read(name).filter(F.col("cell").isin(probe_cells))

    scored = (
        index.join(F.broadcast(q_cells), "cell")
        .filter(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            id_col,
            F.round(cosine(F.col("_qv"), F.col("vec")), 6).alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def append_ann_index(
    store: StateStore,
    new_vectors: DataFrame,
    name: str = "ann_index",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> int:
    """Incremental index growth: assign NEW vectors to the existing coarse
    cells (seeds are immutable — queries must probe the same geometry the
    corpus was assigned under) and append them as the next snapshot version:
    the store hardlinks the existing cell files and writes only the new
    vectors into their cell partitions, so query-side directory pruning is
    unchanged; readers on the previous version are untouched (snapshot
    isolation). Re-seed by rebuilding only when drift makes cell
    sizes pathological — that decision is a maintenance-window call, not a
    per-append one."""
    seed_rows = store.read(f"{name}_seeds").orderBy("cell").collect()
    seed_mat = np.array([r.seed for r in seed_rows], dtype=np.float64)

    assigned = new_vectors.select(
        F.col(id_col),
        as_double(F.col(vec_col)).alias("vec"),
    ).withColumn("cell", ivf_assign_udf(seed_mat, 1)(F.col("vec"))[0])
    return store.apply_changes(name, inserts=assigned)
