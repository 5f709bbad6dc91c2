"""Engine default state-store configuration for streaming queries.

The r8 bench probe measured the stock HDFS-backed provider's per-commit cost
growing 25-65% with total state (snapshot-mode maintenance rewrites the world),
while RocksDB with changelog checkpointing uploads only each batch's delta and
stays flat (BASELINE.md streaming section; same-code drift spread 0.93-1.08
over 10 runs). That finding is the 100 TB-state configuration — so the engine's
own streaming path sets it, instead of leaving it to whoever reads the bench
artifact. ``session.get_spark`` bakes the same two confs into new sessions
(`STREAMING_STATE_CONF`); this module is the runtime twin for sessions the
engine didn't build: every streaming constructor calls
:func:`ensure_state_store_conf` so ANY engine stream inherits the scalable
store regardless of how its session was created.

Overrides, strongest first:

- a session conf ``spark.ortholog.streaming.stateStore=hdfs`` (or anything
  other than ``rocksdb``) disables the upgrade entirely — the explicit "I
  really want the stock provider" escape hatch (e.g. so a rocksdbjni-less
  host can still run streams);
- a providerClass already set to a CUSTOM provider (neither the stock HDFS
  class nor RocksDB) is respected untouched — a deliberate third-party store
  choice must not be silently replaced.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from ortholog_pipeline_spark.session import ROCKSDB_PROVIDER

#: Escape-hatch conf: set to anything but "rocksdb" to keep the session's
#: current provider (see module docstring).
CHOICE_KEY = "spark.ortholog.streaming.stateStore"
PROVIDER_KEY = "spark.sql.streaming.stateStore.providerClass"
CHANGELOG_KEY = (
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
)
HDFS_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"
)


def ensure_state_store_conf(spark: SparkSession) -> bool:
    """Upgrade ``spark``'s streaming state store to the engine default
    (RocksDB + changelog checkpointing) unless overridden. Returns True iff
    the RocksDB default is in effect after the call. Idempotent; called by
    every streaming constructor, so it must stay cheap (two conf reads on the
    already-upgraded path)."""
    if spark.conf.get(CHOICE_KEY, "rocksdb").lower() != "rocksdb":
        return False
    current = spark.conf.get(PROVIDER_KEY, HDFS_PROVIDER)
    if current == ROCKSDB_PROVIDER:
        # already the engine default (get_spark session, or a prior call) —
        # don't touch CHANGELOG_KEY again: a user's explicit "false" sticks
        return True
    if current not in ("", HDFS_PROVIDER):
        return False  # deliberate custom provider
    spark.conf.set(PROVIDER_KEY, ROCKSDB_PROVIDER)
    spark.conf.set(CHANGELOG_KEY, "true")
    return True
