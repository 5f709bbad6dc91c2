"""Structured Streaming surface: a file-source stream through the watermarked
tumbling window, checked against the same plan in batch mode.

The test runs an availableNow (bounded) trigger so it terminates; the plan is the
same one an unbounded run would execute.
"""

from __future__ import annotations

import datetime as dt

from ortholog_pipeline_spark.streaming import read_stream_events, tumbling_agg
from ortholog_pipeline_spark.streaming.sources import EVENTS_LANDING_SCHEMA

TS0 = dt.datetime(2024, 1, 1, 0, 0, 0)


def _mk_events(spark, rows):
    return spark.createDataFrame(
        [
            (i, TS0 + dt.timedelta(seconds=sec), uid, etype, float(v), "{}")
            for i, (sec, uid, etype, v) in enumerate(rows)
        ],
        EVENTS_LANDING_SCHEMA,
    )


def _land(df, path):
    df.write.mode("overwrite").parquet(path)


def test_tumbling_agg_stream_matches_batch(spark, tmp_path):
    landing = str(tmp_path / "landing")
    rows = [
        (0, 1, "view", 1.0),
        (3600, 1, "view", 2.0),
        (86400 + 60, 2, "click", 5.0),
    ]
    _land(_mk_events(spark, rows), landing)

    stream = read_stream_events(spark, landing)
    assert stream.isStreaming
    out = tumbling_agg(stream, window_size="1 day", watermark="1 hour")
    q = (
        out.writeStream.format("memory")
        .queryName("tumbling_out")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.window_start, r.event_type): (r.n_events, r.sum_value)
        for r in spark.sql("SELECT * FROM tumbling_out").collect()
    }
    assert got[(TS0, "view")] == (2, 3.0)
    assert got[(TS0 + dt.timedelta(days=1), "click")] == (1, 5.0)

    # identical plan in batch mode over the same files
    batch = tumbling_agg(spark.read.parquet(landing), window_size="1 day")
    bg = {
        (r.window_start, r.event_type): (r.n_events, r.sum_value)
        for r in batch.collect()
    }
    assert bg == got
