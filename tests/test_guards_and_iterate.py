"""Round-3 hardening: brute-force size guards + bounded-storage iteration.

Pins VERDICT r2 items 5 and 6: (a) the declared O(n²) baselines refuse
corpus-scale inputs, (b) iterative generation stepping keeps at most two
generations persisted (no per-round storage leak)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from ortholog_pipeline_spark.operators import dedup as DD
from ortholog_pipeline_spark.operators.iterate import step_generation


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


def _n_cached_rdds(spark) -> int:
    return len(
        [i for i in spark.sparkContext._jsc.sc().getRDDStorageInfo() if i.isCached()]
    )


def test_step_generation_bounds_storage(spark):
    spark.catalog.clearCache()
    base = _n_cached_rdds(spark)
    df = spark.range(0, 100).select(F.col("id").alias("node"), F.lit(0).alias("d"))
    prev = None
    for _ in range(6):
        new = df.groupBy("node").agg((F.max("d") + 1).alias("d"))
        df = prev = step_generation(new, prev)
        # inside the loop at most TWO generations may ever be live; after
        # step_generation returns, only the newest one is.
        assert _n_cached_rdds(spark) - base <= 2
    assert df.agg(F.max("d")).collect()[0][0] == 6
    # after 6 rounds exactly one generation remains persisted
    assert _n_cached_rdds(spark) - base == 1
    prev.unpersist()


def test_step_generation_correct_chain(spark):
    """Unpersisting the parent generation must not change results (the new
    generation is materialized before the parent's blocks are dropped)."""
    df = spark.range(0, 50).select(F.col("id").alias("node"), F.lit(0).alias("v"))
    prev = None
    for _ in range(4):
        df = prev = step_generation(
            df.select("node", (F.col("v") + F.col("node")).alias("v")), prev
        )
    rows = {r["node"]: r["v"] for r in df.collect()}
    assert rows[7] == 28 and rows[0] == 0
    prev.unpersist()


def test_connected_components_reliable_checkpoints(spark, tmp_path):
    """spark.ortholog.checkpoint.reliable=true switches every round boundary
    to a reliable checkpoint: the same components as the local-checkpoint
    default with a checkpoint dir, a ValueError without one. The session's
    conf and checkpoint dir are restored afterwards."""
    from ortholog_pipeline_spark.operators.components import connected_components
    from ortholog_pipeline_spark.operators.iterate import RELIABLE_CHECKPOINT_CONF

    # a path long enough to take several rounds, plus two small components
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(50, 58)] + [(2, 1), (2, 3), (10, 11)],
        ["id_1", "id_2"],
    )
    want = sorted(map(tuple, connected_components(edges).collect()))

    jsc = spark.sparkContext._jsc.sc()
    set_dir = getattr(jsc, "checkpointDir_$eq")  # Scala var setter
    saved_dir = jsc.getCheckpointDir()
    saved_conf = spark.conf.get(RELIABLE_CHECKPOINT_CONF, None)
    spark.conf.set(RELIABLE_CHECKPOINT_CONF, "true")
    try:
        set_dir(spark._jvm.scala.Option.empty())
        with pytest.raises(ValueError, match="setCheckpointDir"):
            connected_components(edges)
        spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
        got = sorted(map(tuple, connected_components(edges).collect()))
        written = [d for _, ds, _ in os.walk(tmp_path / "ckpt") for d in ds]
        assert any(d.startswith("rdd-") for d in written), "nothing checkpointed"
    finally:
        set_dir(saved_dir)
        if saved_conf is None:
            spark.conf.unset(RELIABLE_CHECKPOINT_CONF)
        else:
            spark.conf.set(RELIABLE_CHECKPOINT_CONF, saved_conf)
    assert got == want
    assert spark.conf.get(RELIABLE_CHECKPOINT_CONF, None) == saved_conf
