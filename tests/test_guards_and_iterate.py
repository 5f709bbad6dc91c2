"""Round-3 hardening: brute-force size guards + bounded-storage iteration.

Pins VERDICT r2 items 5 and 6: (a) the declared O(n²) baselines refuse
corpus-scale inputs, (b) a chain of checkpointed rounds keeps at most one
generation stored once the superseded ones are unreferenced (no per-round
storage leak)."""

from __future__ import annotations

import contextlib
import gc
import os
import time

import pytest
from pyspark.sql import functions as F

from ortholog_pipeline_spark.operators import dedup as DD
from ortholog_pipeline_spark.operators import iterate as IT


def test_guard_brute_force_trips(spark):
    big = spark.range(0, DD.BRUTE_FORCE_MAX_ROWS + 1).select(
        F.col("id").alias("doc_id"), F.lit("x y z").alias("text")
    )
    with pytest.raises(RuntimeError, match="brute-force"):
        DD.guard_brute_force(big, "test_op")


def test_guard_brute_force_passes_small(spark):
    small = spark.range(0, 10).select(
        F.col("id").alias("doc_id"), F.lit("x y z").alias("text")
    )
    DD.guard_brute_force(small, "test_op")  # no raise


def test_ngram_jaccard_guarded(spark):
    big = spark.range(0, DD.BRUTE_FORCE_MAX_ROWS + 1).select(
        F.col("id").alias("doc_id"), F.lit("a b c d").alias("text")
    )
    with pytest.raises(RuntimeError, match="ngram_jaccard_pairs"):
        DD.ngram_jaccard_pairs(big)


def cached_rdds_after_gc(spark, first_id: int, keep: int = 0) -> list[int]:
    """Ids >= ``first_id`` of RDDs with cached partitions, after dropping
    Python's garbage and running JVM GC until at most ``keep`` remain (the
    ContextCleaner frees unreferenced blocks asynchronously; 20 s at most)."""
    sc = spark.sparkContext
    deadline = time.monotonic() + 20
    while True:
        gc.collect()
        sc._jvm.System.gc()
        left = [
            i.id()
            for i in sc._jsc.sc().getRDDStorageInfo()
            if i.isCached() and i.id() >= first_id
        ]
        if len(left) <= keep or time.monotonic() > deadline:
            return left
        time.sleep(0.5)


@contextlib.contextmanager
def reliable_checkpoints(spark, ckpt_dir: str | None):
    """Turn ``spark.ortholog.checkpoint.reliable`` on with ``ckpt_dir`` as the
    checkpoint dir (None: no dir); restore the session's conf and checkpoint
    dir afterwards."""
    jsc = spark.sparkContext._jsc.sc()
    set_dir = getattr(jsc, "checkpointDir_$eq")  # Scala var setter
    saved_dir = jsc.getCheckpointDir()
    saved_conf = spark.conf.get(IT.RELIABLE_CHECKPOINT_CONF, None)
    spark.conf.set(IT.RELIABLE_CHECKPOINT_CONF, "true")
    try:
        set_dir(spark._jvm.scala.Option.empty())
        if ckpt_dir is not None:
            spark.sparkContext.setCheckpointDir(ckpt_dir)
        yield
    finally:
        set_dir(saved_dir)
        if saved_conf is None:
            spark.conf.unset(IT.RELIABLE_CHECKPOINT_CONF)
        else:
            spark.conf.set(IT.RELIABLE_CHECKPOINT_CONF, saved_conf)


def test_round_checkpoint_chain_bounds_storage(spark):
    """Each round is checkpointed lazily; a superseded round is freed once the
    next one no longer needs it — no eager count(), no manual unpersist."""
    first = spark.sparkContext.parallelize([0]).id()
    df = spark.range(0, 100).select(F.col("id").alias("node"), F.lit(0).alias("d"))
    for _ in range(6):
        df = IT.round_checkpoint(df.groupBy("node").agg((F.max("d") + 1).alias("d")))
    assert df.agg(F.max("d")).collect()[0][0] == 6
    # after 6 rounds and a GC drain at most one generation remains cached
    assert len(cached_rdds_after_gc(spark, first, keep=1)) <= 1


def test_round_checkpoint_correct_chain(spark):
    """Freeing the parent generations must not change results: each round is
    materialized, the superseded ones are collected, then the chain is read."""
    first = spark.sparkContext.parallelize([0]).id()
    df = spark.range(0, 50).select(F.col("id").alias("node"), F.lit(0).alias("v"))
    for _ in range(4):
        df = IT.round_checkpoint(
            df.select("node", (F.col("v") + F.col("node")).alias("v"))
        )
        df.count()
    assert len(cached_rdds_after_gc(spark, first, keep=1)) <= 1
    rows = {r["node"]: r["v"] for r in df.collect()}
    assert rows[7] == 28 and rows[0] == 0


def test_connected_components_reliable_checkpoints(spark, tmp_path):
    """spark.ortholog.checkpoint.reliable=true switches every round boundary
    to a reliable checkpoint: the same components as the local-checkpoint
    default with a checkpoint dir, a ValueError without one. The session's
    conf and checkpoint dir are restored afterwards."""
    from ortholog_pipeline_spark.operators.components import connected_components

    # a path long enough to take several rounds, plus two small components
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(50, 58)] + [(2, 1), (2, 3), (10, 11)],
        ["id_1", "id_2"],
    )
    want = sorted(map(tuple, connected_components(edges).collect()))

    saved_conf = spark.conf.get(IT.RELIABLE_CHECKPOINT_CONF, None)
    with reliable_checkpoints(spark, None):
        with pytest.raises(ValueError, match="setCheckpointDir"):
            connected_components(edges)
    with reliable_checkpoints(spark, str(tmp_path / "ckpt")):
        # held while the dir is listed: unreferenced checkpoints are cleaned
        comps = connected_components(edges)
        got = sorted(map(tuple, comps.collect()))
        written = [d for _, ds, _ in os.walk(tmp_path / "ckpt") for d in ds]
        assert any(d.startswith("rdd-") for d in written), "nothing checkpointed"
    assert got == want
    assert spark.conf.get(IT.RELIABLE_CHECKPOINT_CONF, None) == saved_conf
