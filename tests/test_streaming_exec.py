"""TRUE streaming execution tests (VERDICT r2 item 4): the streaming plans are
driven through an actual StreamingQuery (file source → memory sink,
``.start()`` + ``processAllAvailable()``), not `F.window` over batch frames.

Pinned for the tumbling window:
  (a) dropped-late semantics — an event older than the watermark never mutates
      an already-finalized window;
  (b) bounded state — the state store row count tracks open windows/keys and
      SHRINKS when the watermark passes them, across real micro-batches.
"""

from __future__ import annotations

from datetime import datetime, timedelta

import pytest

from ortholog_pipeline_spark.streaming.windows import tumbling_agg

T0 = datetime(2024, 1, 1, 0, 0, 0)


def _write(spark, path: str, rows, schema: str) -> None:
    spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(path)


def _state_rows(q) -> int:
    p = q.lastProgress
    ops = (p or {}).get("stateOperators") or []
    return sum(op.get("numRowsTotal", 0) for op in ops)


@pytest.fixture()
def land(tmp_path):
    return tmp_path


def test_tumbling_window_drops_late_events(spark, land):
    schema = "ts timestamp, event_type string, value double"
    src_dir, ck = str(land / "src"), str(land / "ck")
    _write(spark, src_dir, [(T0, "a", 1.0), (T0 + timedelta(seconds=5), "a", 2.0),
                            (T0 + timedelta(seconds=12), "a", 3.0)], schema)
    stream = spark.readStream.schema(schema).parquet(src_dir)
    out = tumbling_agg(stream, window_size="10 seconds", watermark="5 seconds")
    q = (
        out.writeStream.format("memory").queryName("tumb")
        .outputMode("append").option("checkpointLocation", ck).start()
    )
    try:
        q.processAllAvailable()
        # advance the watermark past both early windows
        _write(spark, src_dir, [(T0 + timedelta(seconds=30), "a", 4.0)], schema)
        q.processAllAvailable()
        emitted = {
            r["window_start"].second: r["n_events"]
            for r in spark.table("tumb").collect()
        }
        assert emitted.get(0) == 2 and emitted.get(10) == 1
        state_open = _state_rows(q)

        # a LATE event for the already-finalized [0,10) window: watermark is
        # ~25s, so it must be dropped — the finalized window never re-emits
        _write(spark, src_dir, [(T0 + timedelta(seconds=2), "a", 99.0)], schema)
        # and an in-watermark event for the still-open [20,30) window
        _write(spark, src_dir, [(T0 + timedelta(seconds=22), "a", 5.0)], schema)
        q.processAllAvailable()
        # close everything
        _write(spark, src_dir, [(T0 + timedelta(seconds=60), "a", 6.0)], schema)
        q.processAllAvailable()
        rows = {
            r["window_start"].second: (r["n_events"], r["sum_value"])
            for r in spark.table("tumb").collect()
        }
        # [0,10) emitted ONCE with the on-time counts — the late 99.0 vanished
        assert rows[0] == (2, 3.0)
        # the 22s event was late-but-inside-watermark: its window kept it
        assert rows[20] == (1, 5.0)
        assert rows[30] == (1, 4.0)
        # (b) state bounded: after the watermark passed the early windows, the
        # state holds only the open tail, no monotone growth
        assert _state_rows(q) <= state_open + 1
    finally:
        q.stop()


def test_engine_default_state_store_is_rocksdb_changelog(spark, land):
    """VERDICT r8 ask 1: the 100 TB-state store config (RocksDB provider +
    changelog checkpointing) must be the ENGINE's streaming default, not a
    bench-probe-only setting — the r8 probe measured snapshot-mode commit
    cost growing 25-65% with state while changelog checkpointing stays flat.
    Pinned on a REAL StreamingQuery: the running query's state operator
    reports RocksDB custom metrics, and both confs read back as set."""
    from ortholog_pipeline_spark.session import ROCKSDB_PROVIDER
    from ortholog_pipeline_spark.streaming.state_conf import (
        CHANGELOG_KEY,
        CHOICE_KEY,
        HDFS_PROVIDER,
        PROVIDER_KEY,
        ensure_state_store_conf,
    )

    schema = "ts timestamp, event_type string, value double"
    src_dir, ck = str(land / "src"), str(land / "ck")
    _write(spark, src_dir, [(T0, "a", 1.0), (T0 + timedelta(seconds=12), "b", 2.0)],
           schema)
    stream = spark.readStream.schema(schema).parquet(src_dir)
    # the constructor itself must upgrade the session (get_spark already bakes
    # the confs in; this pins the runtime path for foreign sessions too)
    out = tumbling_agg(stream, window_size="10 seconds", watermark="5 seconds")
    assert spark.conf.get(PROVIDER_KEY) == ROCKSDB_PROVIDER
    assert spark.conf.get(CHANGELOG_KEY) == "true"
    q = (
        out.writeStream.format("memory").queryName("ssconf")
        .outputMode("append").option("checkpointLocation", ck).start()
    )
    try:
        q.processAllAvailable()
        ops = (q.lastProgress or {}).get("stateOperators") or []
        assert ops, "no state operator in progress"
        metrics = ops[0].get("customMetrics") or {}
        rocks_keys = [k for k in metrics if "rocksdb" in k.lower()]
        assert rocks_keys, f"state store is not RocksDB: {sorted(metrics)[:8]}"
    finally:
        q.stop()

    # overrides: the explicit escape hatch keeps the stock provider...
    s2 = spark.newSession()
    s2.conf.set(CHOICE_KEY, "hdfs")
    s2.conf.set(PROVIDER_KEY, HDFS_PROVIDER)
    assert ensure_state_store_conf(s2) is False
    assert s2.conf.get(PROVIDER_KEY) == HDFS_PROVIDER
    # ...and a deliberate third-party provider is never replaced
    s3 = spark.newSession()
    s3.conf.set(PROVIDER_KEY, "com.example.CustomStateStoreProvider")
    assert ensure_state_store_conf(s3) is False
    assert s3.conf.get(PROVIDER_KEY) == "com.example.CustomStateStoreProvider"
