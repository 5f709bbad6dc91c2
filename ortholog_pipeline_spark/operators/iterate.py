"""The package's one way to store a DataFrame: stored until unreferenced.

Every frame with more than one reader — a flow junction, a query's shared
intermediate, one round of a fixpoint loop — goes through
:func:`round_checkpoint`. It truncates the frame's lineage lazily, and the
blocks it stores live exactly as long as some frame still references them:
once the last reference goes, Spark's ContextCleaner frees the blocks (and,
with ``spark.cleaner.referenceTracking.cleanCheckpoints``, the reliable
checkpoint files). Nothing needs an explicit release, so a long-lived session
does not accumulate storage, and a result frame stays readable for as long as
its holder keeps it.

``.persist()`` is not used: a CacheManager entry is held until someone calls
``unpersist``, and its cached plan pins every checkpoint below it.

Iterative loops (BFS, Bellman-Ford min-plus relaxation, label propagation,
the large/small-star rounds in ``operators/components.py``) checkpoint each
round; a superseded round is freed when the next round no longer needs it.

Reference parity: the reference has no iterative operator (its deepest loop
is the 4-tier cascade, OrthologRelationLoader.java:460-504, which is
unrolled); this is engine infrastructure for the graph/dedup extension tier.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


#: Session conf gating how :func:`round_checkpoint` truncates lineage.
RELIABLE_CHECKPOINT_CONF = "spark.ortholog.checkpoint.reliable"


def round_checkpoint(df: DataFrame) -> DataFrame:
    """Store ``df`` (lazily) until no frame references it.

    Default: ``localCheckpoint(eager=False)`` — blocks live on executors
    (MEMORY_AND_DISK) with NO reliable copy, and the first action that reads
    the frame writes them (lazy means no result job here; under AQE the
    shuffle stages of ``df``'s plan do run at the call). They are the
    frame's only copy, so they are never
    released by hand: the ContextCleaner frees them once the returned frame
    and every frame built on it are garbage.

    The fault-tolerance tradeoff (ADVICE r10): losing an executor (crash,
    OOM, or a dynamic-allocation decommission) makes a materialized local
    checkpoint unrecoverable and fails the job — local checkpointing is
    documented-unsafe with dynamic allocation. On the bench's single-JVM
    local mode the executor IS the driver, so the exposure is zero there; on
    a long-lived production cluster set

        spark.ortholog.checkpoint.reliable=true   (+ sc.setCheckpointDir)

    and every call switches to reliable ``checkpoint(eager=False)``: blocks go
    to the checkpoint dir (HDFS/object store), surviving executor loss, at the
    cost of a write+read per boundary. The session sets
    ``spark.cleaner.referenceTracking.cleanCheckpoints=true``, so those files
    follow the same rule and are removed once unreferenced."""
    spark = df.sparkSession
    reliable = (
        str(spark.conf.get(RELIABLE_CHECKPOINT_CONF, "false")).lower() == "true"
    )
    if reliable:
        if spark.sparkContext.getCheckpointDir() is None:
            raise ValueError(
                f"{RELIABLE_CHECKPOINT_CONF}=true requires "
                "spark.sparkContext.setCheckpointDir(...) first"
            )
        return df.checkpoint(eager=False)
    return df.localCheckpoint(eager=False)


def materialized(df: DataFrame) -> DataFrame:
    """``df`` stored with :func:`round_checkpoint` and written now, by one
    ``count`` job: the form a flow submits to run in the background, so its
    jobs finish there and not in the first consumer."""
    df = round_checkpoint(df)
    df.count()
    return df
