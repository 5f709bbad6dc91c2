"""SparkSession factory for the engine.

Defaults are chosen for correctness tests on local[N] but deliberately mirror what a
large cluster run needs: AQE on (runtime re-planning, skew-join splitting, dynamic
coalescing of shuffle partitions), auto-broadcast for dimension tables, and Arrow for
any Pandas-UDF exchange. On a real cluster only master/shuffle-partitions change.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Streaming state-store defaults — the 100 TB-state configuration the r8 bench
#: probe measured: the stock HDFS-backed provider's per-commit maintenance cost
#: grows 25-65% as total state grows (it re-snapshots), while RocksDB with
#: changelog checkpointing uploads only each batch's delta and stays flat
#: (BASELINE.md streaming section; same-code drift spread 0.93-1.08). Session
#: defaults here so EVERY stream an engine session starts — not just the bench
#: probe — inherits the scalable store. Inert for batch queries (only read at
#: StreamingQuery start); overridable via ``extra_conf`` / ``spark.conf.set``.
ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)
STREAMING_STATE_CONF: dict[str, str] = {
    "spark.sql.streaming.stateStore.providerClass": ROCKSDB_PROVIDER,
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled": "true",
}


#: Generated classes Spark's codegen cache keeps (static conf; the stock 100
#: is smaller than one species load). Measured on the perfbench seed-1 fixture
#: with an unbounded cache: a rat load compiles 394 distinct classes, an AGR
#: load 122 more and a mouse load 17 more — 533 for the three flows, and a
#: repeat of any of them compiles 0-2. With the stock size every warm species
#: load recompiles about 425 classes (and the JIT compiles them again).
CODEGEN_CACHE_ENTRIES = 2000


def cluster_profile_conf(shuffle_partitions: int = 2000) -> dict[str, str]:
    """Conf overrides for a real multi-executor cluster (``profile="cluster"``).

    The rules, and why they differ from local mode:

    - ``spark.sql.shuffle.partitions`` starts HIGH (default 2000, ~2-3× a
      1000-executor cluster's cores) and AQE coalesces DOWN per stage from
      runtime sizes. Local mode pins partitions == cores because one JVM's
      heap must hold every partition of a stage at once; on a cluster the
      constraint inverts — partitions must be small enough that one task's
      shuffle block fits an executor, and too FEW partitions (not too many)
      is the failure mode. This is also why the 100× AGR leg needs a 24 GiB
      heap under local[32] but not on a cluster: 32 partitions over one heap
      vs 2000 over a fleet.
    - ``autoBroadcastJoinThreshold`` stays at the engine's 64 MiB: executor
      containers are usually smaller per-core than the local test JVM, so the
      local threshold is already the cluster-safe one (it is a per-executor
      memory cost, replicated fleet-wide).
    - No ``local[]`` / driver-memory assumptions: master, deploy mode, and
      executor sizing belong to spark-submit on a cluster.

    Plans are invariant to this profile modulo partition counts — pinned by
    ``tests/test_session.py::test_cluster_profile_plan_invariance``.
    """
    return {
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum": str(
            shuffle_partitions
        ),
    }


def get_spark(
    app_name: str = "ortholog-pipeline-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    profile: str = "local",
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, falling back to all
    cores); on a cluster pass ``None`` master via spark-submit instead.

    ``profile="cluster"`` applies :func:`cluster_profile_conf` (high initial
    shuffle partitions + AQE coalescing, no local-mode sizing assumptions) and
    leaves master to spark-submit unless one is passed explicitly.
    """
    if profile not in ("local", "cluster"):
        raise ValueError(f"unknown profile {profile!r}: use 'local' or 'cluster'")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    if master is None and profile == "local":
        master = f"local[{cpus}]"
    explicit_partitions = shuffle_partitions is not None
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32

    builder = SparkSession.builder.appName(app_name)
    if master is not None:
        builder = builder.master(master)
    builder = (
        builder
        # AQE: runtime coalescing, skew-join splitting, dynamic join-strategy switch.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Dimension tables (species, xref resolution maps at test scale) broadcast.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Arrow for the few Pandas-UDF paths (multimodal stubs, minhash batches).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Timestamps behave like the reference's wall-clock stamps (no TZ shifting
        # between the Spark run and the DuckDB oracle).
        .config("spark.sql.session.timeZone", "UTC")
        # TIMESTAMP(NANOS) parquet (the events table) reads as long nanos; the
        # events loader converts with exact integer division (see queries._t).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        # stored frames (operators/iterate.round_checkpoint) are freed once
        # unreferenced; reliable checkpoint files follow the same rule
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
        # a warm load reuses the classes the previous load generated
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    # 100 TB-state streaming store (see STREAMING_STATE_CONF): inert for batch,
    # the measured-scalable default for any stream this session starts.
    for k, v in STREAMING_STATE_CONF.items():
        builder = builder.config(k, v)
    if profile == "cluster":
        # an EXPLICIT shuffle_partitions wins (a deliberate small-cluster
        # choice must not be silently raised); the local-mode cores default
        # is replaced by the profile's high-initial/AQE-coalesce rule
        for k, v in cluster_profile_conf(
            shuffle_partitions=shuffle_partitions if explicit_partitions else 2000
        ).items():
            builder = builder.config(k, v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
