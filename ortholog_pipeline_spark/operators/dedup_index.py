"""Persisted MinHash dedup index: the corpus-side shingle and band tables as
StateStore snapshots, so per-batch ingest probes pay ONLY batch-proportional
cost — the 100 TB answer to "don't re-hash the corpus every ingest".

Two derived tables per index (both partitioned for the probe's access path):
  * ``<name>_shingles``: (doc_id, h31 array<int>) — the exact-Jaccard verify side;
  * ``<name>_bands``: (band, band_key, doc_id) — the LSH candidate generator,
    written partitioned by ``band`` so a probe's band-bucket join prunes to the
    band partitions it touches.

``probe_dedup_index`` is the stored-state twin of
``dedup.incremental_minhash_dedup`` (which recomputes the index side from raw
text): hash the batch, broadcast its band keys against the stored band table,
exact-verify candidates against the stored shingle table.

Cites: reference has no dedup surface; this extends the engine the way
SURVEY.md §7 "beyond the reference" prescribes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ortholog_pipeline_spark.operators.dedup import _hashed_and_banded
from ortholog_pipeline_spark.sources.state import StateStore


def build_dedup_index(
    store: StateStore,
    docs: DataFrame,
    name: str = "dedup_index",
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
) -> None:
    """Hash the corpus ONCE and persist the shingle + band tables."""
    hashed, banded = _hashed_and_banded(
        docs, text_col, id_col, k, num_hashes, bands
    )
    store.write(f"{name}_shingles", hashed.select(id_col, "h31"))
    store.write(
        f"{name}_bands",
        banded.select("band", "band_key", id_col),
        partition_by=["band"],
    )


def probe_dedup_index(
    store: StateStore,
    batch: DataFrame,
    name: str = "dedup_index",
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
) -> DataFrame:
    """Near-dup pairs (batch_id, index_id, jaccard >= threshold) of a new batch
    against the STORED index — only the batch is hashed here."""
    h_batch, b_batch = _hashed_and_banded(
        batch, text_col, id_col, k, num_hashes, bands
    )
    b_index = store.read(f"{name}_bands")
    h_index = store.read(f"{name}_shingles")
    cands = (
        b_index.withColumnRenamed(id_col, "index_id")
        .join(
            F.broadcast(b_batch.withColumnRenamed(id_col, "batch_id")),
            ["band", "band_key"],
        )
        .select("batch_id", "index_id")
        .dropDuplicates()
    )
    sz_b = h_batch.select(
        F.col(id_col).alias("batch_id"), F.size("h31").alias("sz_b")
    )
    sz_i = h_index.select(
        F.col(id_col).alias("index_id"), F.size("h31").alias("sz_i")
    )
    post_b = h_batch.select(
        F.col(id_col).alias("batch_id"), F.explode("h31").alias("hsh")
    )
    post_i = h_index.select(
        F.col(id_col).alias("index_id"), F.explode("h31").alias("hsh")
    )
    common = (
        cands.join(post_b, "batch_id")
        .join(post_i, ["index_id", "hsh"])
        .groupBy("batch_id", "index_id")
        .agg(F.count("*").alias("n_common"))
    )
    return (
        common.join(sz_b, "batch_id")
        .join(sz_i, "index_id")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_common")
                / (F.col("sz_b") + F.col("sz_i") - F.col("n_common")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("batch_id", "index_id", "jaccard")
    )
