"""Streaming ANN-index ingest: embeddings land as files, the index grows.

The batch path (``operators.ann_index``) builds an IVF index once and
``append_ann_index`` grows it under immutable coarse seeds. This module is the
streaming twin: a ``readStream`` over an embeddings landing directory feeds a
``foreachBatch`` sink that assigns each micro-batch to the existing cells and
publishes a new snapshot version — queries keep partition-pruned probing while
ingest runs, and readers pinned to an older version are untouched (the
StateStore's snapshot isolation is the stream/batch boundary).

Exactly-once: the checkpoint makes each landed file process once, and the sink
is additionally idempotent by construction — every batch is anti-joined against
the ids already in the index before appending, so a replayed micro-batch (or a
file landed twice) inserts nothing the second time. That guard is what makes
this safe at 100 TB where "the checkpoint never lies" is not an assumption to
build on.

Scale shape per micro-batch: one broadcast of the (tiny, immutable) seed matrix
for cell assignment, one anti-join shuffle on vec_id against the index ids, one
append of the batch into the cell partitions (the existing cell files are
hardlinked, not rewritten). No global state is held outside the store.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from ortholog_pipeline_spark.operators.ann_index import append_ann_index
from ortholog_pipeline_spark.sources.state import StateStore

#: Landed embedding files match the driver's embeddings.parquet shape.
EMBEDDINGS_LANDING_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
        T.StructField("label", T.IntegerType()),
    ]
)


def read_stream_embeddings(
    spark: SparkSession,
    landing_dir: str,
    max_files_per_trigger: int | None = 1,
) -> DataFrame:
    """Open an unbounded stream over an embeddings landing directory."""
    from ortholog_pipeline_spark.streaming.state_conf import ensure_state_store_conf

    ensure_state_store_conf(spark)
    reader = (
        spark.readStream.format("parquet")
        .schema(EMBEDDINGS_LANDING_SCHEMA)
        # each landed drop is a directory of part-files; pick them all up
        .option("recursiveFileLookup", "true")
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(landing_dir)


def ann_ingest_stream(
    store: StateStore,
    stream: DataFrame,
    checkpoint_dir: str,
    name: str = "ann_index",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    trigger_available_now: bool = True,
) -> StreamingQuery:
    """Grow the persisted ANN index from a stream of embedding batches."""

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        existing_ids = store.read(name).select(F.col(id_col))
        fresh = batch_df.dropDuplicates([id_col]).join(
            existing_ids, on=id_col, how="left_anti"
        )
        if fresh.limit(1).count() == 0:
            return
        append_ann_index(store, fresh, name=name, id_col=id_col, vec_col=vec_col)

    writer = stream.writeStream.foreachBatch(_process).option(
        "checkpointLocation", checkpoint_dir
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
