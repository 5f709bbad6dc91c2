"""StateStore versioning semantics: atomic publish, time-travel by version dir,
merge algebra, partitioned layout; plus the sliding-window streaming op in batch
mode."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from ortholog_pipeline_spark.sources.state import StateStore
from ortholog_pipeline_spark.streaming import sliding_counts


def test_versioned_publish_and_time_travel(spark, tmp_path):
    store = StateStore(spark, str(tmp_path))
    assert store.current_version("t") == -1

    df1 = spark.createDataFrame([(1, "a")], "k int, v string")
    assert store.write("t", df1) == 0
    df2 = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    assert store.write("t", df2) == 1
    assert store.current_version("t") == 1
    assert store.read("t").count() == 2
    # prior version stays on disk — time travel by reading its directory
    old = spark.read.parquet(os.path.join(str(tmp_path), "t", "v=0"))
    assert old.count() == 1


def test_apply_changes_algebra(spark, tmp_path):
    store = StateStore(spark, str(tmp_path))
    store.write(
        "t", spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "k int, v string")
    )
    store.apply_changes(
        "t",
        inserts=spark.createDataFrame([(4, "d")], "k int, v string"),
        deletes=spark.createDataFrame([(1,)], "k int"),
        delete_key=["k"],
        updates=spark.createDataFrame([(2, "B")], "k int, v string"),
        update_key=["k"],
    )
    got = {r.k: r.v for r in store.read("t").collect()}
    assert got == {2: "B", 3: "c", 4: "d"}


def test_partitioned_snapshot_prunes(spark, tmp_path):
    store = StateStore(spark, str(tmp_path))
    df = spark.range(0, 100).select(
        F.col("id").alias("k"), (F.col("id") % 4).cast("int").alias("sp")
    )
    store.write("t", df, partition_by=["sp"])
    back = store.read("t")
    assert back.count() == 100
    plan = back.filter(F.col("sp") == 2)._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    # partition pruning: the scan reports a partition filter on sp
    assert "PartitionFilters" in plan and "sp" in plan.split("PartitionFilters")[1][:100]


def data_files(store, table, version=None) -> dict[str, int]:
    """{path under the version dir: inode} of a table version's data files."""
    v = store.current_version(table) if version is None else version
    vdir = os.path.join(store.root, table, f"v={v}")
    return {
        os.path.relpath(os.path.join(d, f), vdir): os.stat(os.path.join(d, f)).st_ino
        for d, _, files in os.walk(vdir)
        for f in files
        if not f.startswith(("_", "."))
    }


def is_partitioned_by(store, table, col) -> bool:
    """Every data file of the current version sits under a ``col=`` directory."""
    files = data_files(store, table)
    return bool(files) and all(p.startswith(f"{col}=") for p in files)


def test_partitioned_insert_only_append_keeps_layout(spark, tmp_path):
    """An insert-only change on a partitioned table takes the append path: the
    inserts land in their partitions, every previous file is hardlinked, and
    Spark reads every row back."""
    store = StateStore(spark, str(tmp_path))
    store.write(
        "t",
        spark.createDataFrame([(1, 1), (2, 2)], "k int, sp int"),
        partition_by=["sp"],
    )
    before = data_files(store, "t")
    store.apply_changes(
        "t", inserts=spark.createDataFrame([(3, 1)], "k int, sp int")
    )
    after = data_files(store, "t")
    assert sorted((r.k, r.sp) for r in store.read("t").collect()) == [
        (1, 1), (2, 2), (3, 1)
    ]
    assert is_partitioned_by(store, "t", "sp")
    assert before.items() <= after.items(), "previous files must be hardlinked"
    assert len(after) > len(before)


def test_write_declares_layout_once(spark, tmp_path):
    """``partition_by`` declares the first version's layout; later writes keep
    it, and a different one raises instead of silently relaying the table."""
    store = StateStore(spark, str(tmp_path))
    df = spark.createDataFrame([(1, 1), (2, 2)], "k int, sp int")
    store.write("t", df, partition_by=["sp"])
    store.write("t", df)
    store.write("t", df, partition_by=["sp"])
    assert is_partitioned_by(store, "t", "sp")
    for other in (["k"], [], ["sp", "k"]):
        with pytest.raises(ValueError, match="partition_by"):
            store.write("t", df, partition_by=other)
    store.write("flat", df)
    with pytest.raises(ValueError, match="partition_by"):
        store.write("flat", df, partition_by=["sp"])
    assert store.current_version("t") == 2
    assert store.current_version("flat") == 0


def test_emptied_partitioned_table_reads_and_keeps_layout(spark, tmp_path):
    """A rewrite that deletes every row of a partitioned table leaves no data
    file to infer the schema or the layout from: the version still reads as
    0 rows with the table's schema, and the next insert lands in ``sp=``."""
    store = StateStore(spark, str(tmp_path))
    store.write(
        "t", spark.createDataFrame([(1, 1)], "k int, sp int"), partition_by=["sp"]
    )
    schema = store.read("t").schema
    store.apply_changes(
        "t", deletes=spark.createDataFrame([(1,)], "k int"), delete_key=["k"]
    )
    emptied = store.read("t")
    assert emptied.schema == schema and emptied.count() == 0
    assert store._layout("t") == ["sp"]
    assert store.history("t")[-1]["bytes"] == 0
    store.apply_changes("t", inserts=spark.createDataFrame([(2, 3)], "k int, sp int"))
    assert [(r.k, r.sp) for r in store.read("t").collect()] == [(2, 3)]
    assert is_partitioned_by(store, "t", "sp")
    # a full rewrite from the empty version keeps the layout too
    store.apply_changes(
        "t", deletes=spark.createDataFrame([(2,)], "k int"), delete_key=["k"]
    )
    store.write("t", spark.createDataFrame([(4, 5)], "k int, sp int"))
    assert is_partitioned_by(store, "t", "sp")
    assert [(r.k, r.sp) for r in store.read("t").collect()] == [(4, 5)]


def test_maintenance_keeps_partition_layout(spark, tmp_path):
    """Keyed updates rewrite a partitioned table within its layout."""
    store = StateStore(spark, str(tmp_path))
    store.write(
        "t",
        spark.range(20).select(
            F.col("id").alias("k"), (F.col("id") % 3).cast("int").alias("sp")
        ),
        partition_by=["sp"],
    )
    store.apply_changes(
        "t",
        updates=spark.createDataFrame([(4, 2)], "k long, sp int"),
        update_key=["k"],
    )
    assert is_partitioned_by(store, "t", "sp")
    got = {r.k: r.sp for r in store.read("t").collect()}
    assert len(got) == 20 and got[4] == 2


def test_sliding_counts_batch(spark):
    import datetime as dt

    rows = [
        (dt.datetime(2024, 1, 1, 0, 5), 1),
        (dt.datetime(2024, 1, 1, 0, 20), 1),
        (dt.datetime(2024, 1, 1, 1, 40), 2),
    ]
    ev = spark.createDataFrame(rows, "ts timestamp, user_id long")
    out = sliding_counts(ev, window_size="1 hour", slide="30 minutes")
    got = {
        (r.window_start, r.user_id): r.n_events for r in out.collect()
    }
    # both user-1 events fall in the [23:30, 00:30) and [00:00, 01:00) windows
    assert got[(dt.datetime(2024, 1, 1, 0, 0), 1)] == 2
    assert got[(dt.datetime(2023, 12, 31, 23, 30), 1)] == 2
    assert got[(dt.datetime(2024, 1, 1, 1, 30), 2)] == 1


def test_vacuum_keeps_current_and_n_newest(spark, tmp_path):
    from ortholog_pipeline_spark.sources.state import StateStore

    store = StateStore(spark, str(tmp_path))
    df = spark.range(5).withColumnRenamed("id", "k")
    for _ in range(4):
        store.write("t", df)  # v=0..3
    removed = store.vacuum("t", keep=2)
    assert removed == [0, 1]
    assert store.current_version("t") == 3
    assert store.read("t").count() == 5  # current still readable
    import os
    left = sorted(d for d in os.listdir(tmp_path / "t") if d.startswith("v="))
    assert left == ["v=2", "v=3"]
    assert store.vacuum("t", keep=2) == []  # idempotent


def test_time_travel_read_and_history(spark, tmp_path):
    """Every retained version stays readable by number; history lists them
    oldest-first with the current flag; vacuumed versions raise."""
    import pytest
    from pyspark.sql import functions as F

    from ortholog_pipeline_spark.sources.state import StateStore

    store = StateStore(spark, str(tmp_path / "tt"))
    store.write("t", spark.range(3).select(F.col("id").alias("k")))
    store.apply_changes("t", inserts=spark.range(3, 5).select(F.col("id").alias("k")))
    store.apply_changes("t", inserts=spark.range(5, 6).select(F.col("id").alias("k")))

    assert store.read("t").count() == 6
    assert store.read("t", version=0).count() == 3
    assert store.read("t", version=1).count() == 5

    hist = store.history("t")
    assert [h["version"] for h in hist] == [0, 1, 2]
    assert [h["current"] for h in hist] == [False, False, True]
    assert all(h["bytes"] > 0 for h in hist)

    store.vacuum("t", keep=1)
    with pytest.raises(FileNotFoundError):
        store.read("t", version=0)
    assert store.read("t", version=2).count() == 6


def test_append_only_fast_path_links_old_files(spark, tmp_path):
    """An insert-only apply_changes must NOT rewrite existing data: the new
    version's pre-existing data files are hardlinks of the previous version's
    (same inode), only the insert files are new, and both versions read
    back exactly their own row sets (time travel unaffected)."""
    import os

    from pyspark.sql import Row

    from ortholog_pipeline_spark.sources.state import StateStore

    store = StateStore(spark, str(tmp_path / "state"))
    store.write(
        "t", spark.createDataFrame([Row(k=i, v=f"v{i}") for i in range(5)])
    )
    v0_dir = tmp_path / "state" / "t" / "v=0"
    v0_inodes = {
        f: os.stat(v0_dir / f).st_ino
        for f in os.listdir(v0_dir)
        if not f.startswith(("_", "."))
    }

    store.apply_changes(
        "t", inserts=spark.createDataFrame([Row(k=9, v="v9")])
    )
    v1_dir = tmp_path / "state" / "t" / "v=1"
    shared = {
        f
        for f in os.listdir(v1_dir)
        if f in v0_inodes and os.stat(v1_dir / f).st_ino == v0_inodes[f]
    }
    assert shared == set(v0_inodes), "old data files must be linked, not rewritten"

    assert {r.k for r in store.read("t").collect()} == {0, 1, 2, 3, 4, 9}
    assert {r.k for r in store.read("t", version=0).collect()} == {0, 1, 2, 3, 4}
    # vacuuming the old version must not corrupt the linked current one
    store.apply_changes("t", inserts=spark.createDataFrame([Row(k=10, v="va")]))
    store.vacuum("t", keep=1)
    assert {r.k for r in store.read("t").collect()} == {0, 1, 2, 3, 4, 9, 10}


def test_append_after_unpublished_append_is_not_wedged(spark, tmp_path):
    """An insert-only apply_changes that dies after writing v=n+1 but before
    publishing it leaves v=n+1 holding links to v=n's files. The next append
    must treat that directory as scratch and rebuild it, not link onto the
    same inodes (SameFileError) or keep the dead writer's rows."""
    from pyspark.sql import Row

    root = str(tmp_path / "state")
    store = StateStore(spark, root)
    store.write("t", spark.createDataFrame([Row(k=1)]))

    def crash(table, version):
        raise RuntimeError("writer died before publish")

    store._publish = crash
    with pytest.raises(RuntimeError, match="before publish"):
        store.apply_changes("t", inserts=spark.createDataFrame([Row(k=2)]))
    assert os.path.isdir(os.path.join(root, "t", "v=1"))

    fresh = StateStore(spark, root)
    assert fresh.current_version("t") == 0
    assert fresh.apply_changes("t", inserts=spark.createDataFrame([Row(k=3)])) == 1
    assert sorted(r.k for r in fresh.read("t").collect()) == [1, 3]


def test_next_surrogate_keys_is_lazy_and_dense(spark):
    """Keygen must not run Spark jobs at plan-CONSTRUCTION time — it used to
    collect bucket counts eagerly, which materialized the entire insert
    lineage once per keygen call before the real action ran (VERDICT r3 plan
    audit). The in-plan offsets must still mint exactly [start+1, start+n]."""
    from ortholog_pipeline_spark.sources.state import next_surrogate_keys

    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup())
    df = spark.range(1000).selectExpr("id AS a", "CAST(id % 7 AS INT) AS b")
    keyed = next_surrogate_keys(df, 100, "k")
    assert len(tracker.getJobIdsForGroup()) == before, (
        "next_surrogate_keys ran a Spark job at plan-construction time"
    )
    assert sorted(r.k for r in keyed.collect()) == list(range(101, 1101))
