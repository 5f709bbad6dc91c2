"""Streaming source: ``readStream`` over an events landing directory.

Each newly landed file becomes a micro-batch. ``maxFilesPerTrigger`` bounds
per-batch work so one giant drop can't blow executor memory at scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ortholog_pipeline_spark.streaming.state_conf import ensure_state_store_conf

#: Event schema matching the driver's events.parquet (ts arrives as ISO string in
#: landed files and is cast to a real timestamp on read).
EVENTS_LANDING_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def read_stream_events(
    spark: SparkSession,
    landing_dir: str,
    fmt: str = "parquet",
    max_files_per_trigger: int | None = 1,
) -> DataFrame:
    """Open an unbounded stream over an events landing directory."""
    ensure_state_store_conf(spark)
    reader = spark.readStream.format(fmt).schema(EVENTS_LANDING_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(landing_dir)
