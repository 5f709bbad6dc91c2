"""Structured Streaming surface of the engine.

The reference is batch-only (SURVEY.md §2.9): its "streaming-like" semantics are a
staleness watermark on mutable state and an incremental sync. This package holds
what the bench's stream-state probe runs; the registry's windowed queries reuse
the same plans in batch mode:

* ``sources``     — ``readStream`` over an events landing directory.
* ``windows``     — event-time tumbling/sliding aggregations with watermarks.
* ``state_conf``  — the RocksDB state-store default every stateful stream gets.
"""

from ortholog_pipeline_spark.streaming.sources import read_stream_events
from ortholog_pipeline_spark.streaming.state_conf import ensure_state_store_conf
from ortholog_pipeline_spark.streaming.windows import sliding_counts, tumbling_agg

__all__ = [
    "ensure_state_store_conf",
    "read_stream_events",
    "tumbling_agg",
    "sliding_counts",
]
