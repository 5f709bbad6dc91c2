"""Run-grain two-phase publish (VERDICT r5 item 1): multi-table flow commits
must be all-or-nothing under crash. Each table's publish was already atomic
via its _CURRENT marker; these tests pin the RUN-level contract — a failure
anywhere between the two staged commits can never leave one table advanced
and the other not, in either order.

Crash simulation: we stop the in-process cleanup (no abort_run) exactly where
the injected failure fires, then open a FRESH StateStore on the same root —
the "restart" — and assert what a reader sees. Before the manifest flip the
run rolls back (before-state, staged dirs purged); after the flip it rolls
forward (complete after-state). Mirrors the verdict-then-commit ordering of
OrthologRelationLoader.java:599-672 at run grain (SURVEY §1.4).
"""

from __future__ import annotations

import json
import os
import threading
import time

import pytest
from pyspark.sql import functions as F

from ortholog_pipeline_spark.plans import run_agr_load, run_species_load
from ortholog_pipeline_spark.sources import state as state_mod
from ortholog_pipeline_spark.sources.state import StateStore

from test_plans import RAT, RUN_TS, _agr_lines, _relations, _seed_store


def _simulate_death():
    """A real crash clears the in-process live-run registry with the process;
    these tests stay in one process, so clear it explicitly before 'restart'."""
    state_mod._LIVE_RUNS.clear()


def _two_table_store(spark, tmp_path, name="txn"):
    store = StateStore(spark, str(tmp_path / name))
    store.write("t1", spark.createDataFrame([(1, "a")], "k int, v string"))
    store.write("t2", spark.createDataFrame([(1, "x")], "k int, v string"))
    return store


def _rows(store, table):
    return sorted(tuple(r) for r in store.read(table).collect())


def test_commit_run_publishes_both(spark, tmp_path):
    store = _two_table_store(spark, tmp_path)
    store.begin_run(["t1", "t2"])
    v1 = store.write("t1", spark.createDataFrame([(2, "b")], "k int, v string"),
                     publish=False)
    v2 = store.write("t2", spark.createDataFrame([(2, "y")], "k int, v string"),
                     publish=False)
    # staged, not visible
    assert _rows(store, "t1") == [(1, "a")]
    store.commit_run({"t1": v1, "t2": v2})
    assert _rows(store, "t1") == [(2, "b")]
    assert _rows(store, "t2") == [(2, "y")]
    assert not os.path.exists(store._pending_path)


def test_crash_during_staging_rolls_back(spark, tmp_path):
    store = _two_table_store(spark, tmp_path)
    store.begin_run(["t1", "t2"])
    v1 = store.write("t1", spark.createDataFrame([(2, "b")], "k int, v string"),
                     publish=False)
    staged_dir = os.path.join(store.root, "t1", f"v={v1}")
    assert os.path.isdir(staged_dir)
    # crash before commit point: manifest still PREPARED; restart
    _simulate_death()
    fresh = StateStore(spark, store.root)
    assert _rows(fresh, "t1") == [(1, "a")]
    assert _rows(fresh, "t2") == [(1, "x")]
    assert not os.path.isdir(staged_dir)  # staged residue purged
    assert not os.path.exists(fresh._pending_path)
    # the root is reusable: a new run can begin and commit normally
    fresh.begin_run(["t1"])
    v = fresh.write("t1", spark.createDataFrame([(3, "c")], "k int, v string"),
                    publish=False)
    fresh.commit_run({"t1": v})
    assert _rows(fresh, "t1") == [(3, "c")]


def test_crash_between_publishes_rolls_forward(spark, tmp_path):
    store = _two_table_store(spark, tmp_path)
    store.begin_run(["t1", "t2"])
    v1 = store.write("t1", spark.createDataFrame([(2, "b")], "k int, v string"),
                     publish=False)
    v2 = store.write("t2", spark.createDataFrame([(2, "y")], "k int, v string"),
                     publish=False)
    # simulate: manifest flipped to COMMITTED, first marker advanced, then death
    store._write_manifest(
        {"run_id": store._active_run, "state": "COMMITTED",
         "tables": {"t1": v1, "t2": v2}}
    )
    store._publish("t1", v1)
    _simulate_death()
    fresh = StateStore(spark, store.root)  # restart
    assert _rows(fresh, "t1") == [(2, "b")]
    assert _rows(fresh, "t2") == [(2, "y")]  # rolled forward
    assert not os.path.exists(fresh._pending_path)


def test_begin_run_refuses_concurrent_pending(spark, tmp_path):
    store = _two_table_store(spark, tmp_path)
    store.begin_run(["t1"])
    other = StateStore(spark, store.root)
    with pytest.raises(RuntimeError, match="already pending"):
        other.begin_run(["t2"])
    store.abort_run()
    other.begin_run(["t2"])  # now fine
    other.abort_run()


def test_abort_run_restores_before_state(spark, tmp_path):
    store = _two_table_store(spark, tmp_path)
    store.begin_run(["t1", "t2"])
    store.write("t1", spark.createDataFrame([(2, "b")], "k int, v string"),
                publish=False)
    store.abort_run()
    assert _rows(store, "t1") == [(1, "a")]
    assert store.current_version("t1") == 0
    assert not os.path.exists(store._pending_path)


def test_run_scope_stages_only_its_own_tables(spark, tmp_path):
    """`run.stage` refuses a table outside the run's manifest (recovery could
    never roll it back) or one staged twice; the raise aborts the whole run,
    so the table already staged reads its before-state."""
    store = _two_table_store(spark, tmp_path)
    df = spark.createDataFrame([(2, "b")], "k int, v string")
    for second in ("t2", "t1"):
        with pytest.raises(ValueError, match=f"'{second}' is not an unstaged"):
            with store.run(["t1"]) as run:
                run.stage("t1", inserts=df)
                run.stage(second, inserts=df)
        assert _rows(store, "t1") == [(1, "a")]
        assert store.current_version("t1") == 0
        assert not os.path.exists(store._pending_path)


def test_species_load_publish_crash_is_all_or_nothing(
    spark, tmp_path, monkeypatch
):
    """The verdict's prescribed injection: the SECOND _publish of the species
    flow's twin commit raises (process dies — abort_run never runs). On
    restart the store must read as all-or-nothing; since the manifest flipped
    before any marker moved, that means BOTH tables advanced, equal to an
    uninjected twin run."""
    crash_store = _seed_store(spark, tmp_path / "crash")
    twin_store = _seed_store(spark, tmp_path / "twin")

    real_publish = StateStore._publish
    calls = {"n": 0}

    def exploding_publish(self, table, version):
        calls["n"] += 1
        if calls["n"] == 2:
            raise OSError("injected crash between the twin publishes")
        return real_publish(self, table, version)

    monkeypatch.setattr(StateStore, "_publish", exploding_publish)
    monkeypatch.setattr(StateStore, "abort_run", lambda self: None)  # dead proc
    with pytest.raises(OSError, match="injected crash"):
        run_species_load(
            crash_store, _relations(spark), RUN_TS, RAT, delete_threshold_pct=100.0
        )
    # the manifest survives the "crash" in COMMITTED state
    with open(os.path.join(crash_store.root, "_RUN_PENDING")) as f:
        assert json.load(f)["state"] == "COMMITTED"
    monkeypatch.undo()
    _simulate_death()

    run_species_load(
        twin_store, _relations(spark), RUN_TS, RAT, delete_threshold_pct=100.0
    )

    fresh = StateStore(spark, crash_store.root)  # restart → roll forward
    for table in ("orthologs", "associations"):
        assert _rows(fresh, table) == _rows(twin_store, table), table
        assert fresh.current_version(table) == twin_store.current_version(table)
    assert not os.path.exists(fresh._pending_path)


def test_species_load_staging_crash_rolls_back_both(spark, tmp_path, monkeypatch):
    """Failure while STAGING (before the manifest flip): restart must read the
    exact before-state for both tables — no torn half-run, no staged residue."""
    store = _seed_store(spark, tmp_path / "stagecrash")
    before = {t: _rows(store, t) for t in ("orthologs", "associations")}
    before_v = {t: store.current_version(t) for t in ("orthologs", "associations")}

    real_write = StateStore.write

    def exploding_write(self, table, df, partition_by=None, publish=True):
        if not publish and table == "associations":
            raise OSError("injected crash while staging")
        return real_write(self, table, df, partition_by=partition_by,
                          publish=publish)

    monkeypatch.setattr(StateStore, "write", exploding_write)
    monkeypatch.setattr(StateStore, "abort_run", lambda self: None)  # dead proc
    with pytest.raises(OSError, match="injected crash"):
        run_species_load(
            store, _relations(spark), RUN_TS, RAT, delete_threshold_pct=100.0
        )
    monkeypatch.undo()
    _simulate_death()

    fresh = StateStore(spark, store.root)  # restart → roll back
    for table in ("orthologs", "associations"):
        assert _rows(fresh, table) == before[table], table
        assert fresh.current_version(table) == before_v[table]
    assert not os.path.exists(fresh._pending_path)


def test_fix_xref_staging_crash_keeps_orthologs(spark, tmp_path, monkeypatch):
    """Fix-xref rewrites two tables: a failure while associations is being
    staged must leave orthologs at its before-version and rows — no torn
    publish of one table without the other."""
    from ortholog_pipeline_spark.plans import run_fix_xref_data_set

    store = _seed_store(spark, tmp_path / "fixxref")
    dirty = store.read("orthologs").withColumn(
        "xref_data_set",
        F.when(
            F.col("genetogene_key") == 2, F.lit("OrthoDB,Ensembl,OrthoDB")
        ).otherwise(F.col("xref_data_set")),
    )
    store.write("orthologs", dirty)  # a row the fix would change
    before, before_v = _rows(store, "orthologs"), store.current_version("orthologs")

    real_write = StateStore.write

    def exploding_write(self, table, df, partition_by=None, publish=True):
        if table == "associations":
            raise OSError("injected crash while staging associations")
        return real_write(self, table, df, partition_by=partition_by,
                          publish=publish)

    monkeypatch.setattr(StateStore, "write", exploding_write)
    with pytest.raises(OSError, match="injected crash"):
        run_fix_xref_data_set(store)
    monkeypatch.undo()

    assert store.current_version("orthologs") == before_v
    assert _rows(store, "orthologs") == before
    assert not os.path.exists(store._pending_path)


def test_agr_load_crash_rolls_back_mints(spark, tmp_path, monkeypatch):
    """The AGR flow mints genes/rgd_ids/xrefs BEFORE its final agr_orthologs
    upsert. Under the run txn a failure in the final commit must also unwind
    the mints — no phantom genes without the ortholog rows that motivated
    them (the pre-r6 concurrent form published mints immediately)."""
    store = _seed_store(spark, tmp_path / "agrcrash")
    before = {
        t: _rows(store, t) for t in ("genes", "rgd_ids", "xrefs", "agr_orthologs")
    }

    real_ac = StateStore.apply_changes

    def exploding_apply(self, table, *args, **kwargs):
        if table == "agr_orthologs" and not kwargs.get("publish", True):
            raise OSError("injected crash in final AGR commit")
        return real_ac(self, table, *args, **kwargs)

    monkeypatch.setattr(StateStore, "apply_changes", exploding_apply)
    with pytest.raises(OSError, match="injected crash"):
        run_agr_load(store, _agr_lines(spark), RUN_TS, delete_threshold_pct=100.0)
    monkeypatch.undo()

    # in-process abort_run DID run here (no simulated death): before-state holds
    for table, rows in before.items():
        assert _rows(store, table) == rows, table
    assert not os.path.exists(store._pending_path)
    # minted FB:F1 xref must NOT be visible
    assert store.read("xrefs").filter(F.col("acc_id") == "FB:F1").count() == 0

    # and the same store can run the flow to completion afterwards
    res = run_agr_load(store, _agr_lines(spark), RUN_TS, delete_threshold_pct=100.0)
    assert res.unresolved.count() == 0
    assert store.read("xrefs").filter(F.col("acc_id") == "FB:F1").count() == 1


def test_agr_load_abort_waits_for_mint_writers(spark, tmp_path, monkeypatch):
    """VERDICT r11 #4: the mint tables stage in the background while the AGR
    flow builds its verdicts. A failure in that window (here the verdict sync
    raises) must abort only after every staging writer has finished: no
    apply_changes may still run when abort_run starts, no staged v= dir may
    outlive the abort, and all four tables read their before-state."""
    from ortholog_pipeline_spark.operators import sync

    tables = ("genes", "rgd_ids", "xrefs", "agr_orthologs")
    store = _seed_store(spark, tmp_path / "agrwindow")
    before = {t: _rows(store, t) for t in tables}
    before_v = {t: store.current_version(t) for t in tables}

    lock = threading.Lock()
    running = {"n": 0}
    running_at_abort = []
    real_ac, real_abort = StateStore.apply_changes, StateStore.abort_run

    def slow_apply(self, table, *args, **kwargs):
        with lock:
            running["n"] += 1
        try:
            if table in ("genes", "rgd_ids", "xrefs"):
                time.sleep(2.0)  # keep the mint writers busy past the failure
            return real_ac(self, table, *args, **kwargs)
        finally:
            with lock:
                running["n"] -= 1

    def recording_abort(self):
        with lock:
            running_at_abort.append(running["n"])
        return real_abort(self)

    def failing_sync(*args, **kwargs):
        raise RuntimeError("injected failure inside the mint window")

    monkeypatch.setattr(StateStore, "apply_changes", slow_apply)
    monkeypatch.setattr(StateStore, "abort_run", recording_abort)
    monkeypatch.setattr(sync, "sync_full_outer", failing_sync)
    with pytest.raises(RuntimeError, match="injected failure"):
        run_agr_load(store, _agr_lines(spark), RUN_TS, delete_threshold_pct=100.0)
    monkeypatch.undo()

    assert running_at_abort == [0], (
        f"abort_run started while {running_at_abort} staging writers ran"
    )
    for t in tables:
        cur = store.current_version(t)
        staged = [
            d for d in os.listdir(os.path.join(store.root, t))
            if d.startswith("v=") and int(d.split("=", 1)[1]) > cur
        ]
        assert staged == [], (t, staged)
        assert cur == before_v[t], t
        assert _rows(store, t) == before[t], t
    assert not os.path.exists(store._pending_path)


def test_run_submit_jobs_join_the_callers_group(spark, tmp_path):
    """Work submitted to the run scope runs with the caller's Spark local
    properties: a job it runs on a scope worker lands in the job group the
    caller set, so the flows' job-budget pins count every job."""
    store = _two_table_store(spark, tmp_path)
    sc = spark.sparkContext
    sc.setJobGroup("run_submit_group", "submitted work inherits the group")
    try:
        with store.run(["t1"]) as run:
            worker = run.submit(lambda: (
                threading.current_thread().name, spark.range(10).count()
            ))
            name, n = worker.result()
    finally:
        sc.setJobGroup(None, None)
    assert name.startswith("state-store-run") and n == 10
    assert sc.statusTracker().getJobIdsForGroup("run_submit_group")


def _fail_first_background_checkpoint(monkeypatch):
    """Make the first `round_checkpoint` called on a run-scope worker raise."""
    from ortholog_pipeline_spark.operators import iterate as IT

    real = IT.round_checkpoint

    def failing(df):
        if threading.current_thread().name.startswith("state-store-run"):
            raise RuntimeError("injected failure in a background job")
        return real(df)

    monkeypatch.setattr(IT, "round_checkpoint", failing)


def _assert_run_left_nothing(store, before_v, before_rows):
    """Every table reads its before-version and rows, no staged ``v=`` dir is
    left, no manifest is pending and no run-scope worker is alive."""
    for t, v in before_v.items():
        cur = store.current_version(t)
        staged = [
            d for d in os.listdir(os.path.join(store.root, t))
            if d.startswith("v=") and int(d.split("=", 1)[1]) > cur
        ]
        assert staged == [], (t, staged)
        assert cur == v, t
        assert _rows(store, t) == before_rows[t], t
    assert not os.path.exists(store._pending_path)
    assert [
        t.name for t in threading.enumerate()
        if t.name.startswith("state-store-run")
    ] == []


SPECIES_TABLES = ("orthologs", "associations")
AGR_TABLES = ("genes", "rgd_ids", "xrefs", "agr_orthologs")


def test_species_snapshot_side_failure_rolls_back(spark, tmp_path, monkeypatch):
    """The species load materializes its snapshot side (symbol dim, manual +
    Alliance tiers, W4 ranking) on a run-scope worker while the caller builds
    ``closed``. A failure in that job aborts the whole run."""
    store = _seed_store(spark, tmp_path / "snapside")
    before_v = {t: store.current_version(t) for t in SPECIES_TABLES}
    before_rows = {t: _rows(store, t) for t in SPECIES_TABLES}
    _fail_first_background_checkpoint(monkeypatch)
    with pytest.raises(RuntimeError, match="injected failure"):
        run_species_load(
            store, _relations(spark), RUN_TS, RAT, delete_threshold_pct=100.0
        )
    monkeypatch.undo()
    _assert_run_left_nothing(store, before_v, before_rows)


def test_species_guard_abort_waits_for_inserts_job(spark, tmp_path, monkeypatch):
    """The surrogate-keyed inserts build on a run-scope worker while the caller
    runs the churn guard. A guard abort in that window must wait for the
    inserts job before it rolls back, and leave the run's tables untouched."""
    from ortholog_pipeline_spark.operators import sync
    from ortholog_pipeline_spark.plans import species_load

    store = _seed_store(spark, tmp_path / "guardwindow")
    before_v = {t: store.current_version(t) for t in SPECIES_TABLES}
    before_rows = {t: _rows(store, t) for t in SPECIES_TABLES}

    lock = threading.Lock()
    started = threading.Event()
    running = {"n": 0}
    at_guard, at_abort = [], []
    real_keys = species_load.next_surrogate_keys
    real_guard, real_abort = sync.guard_delete_threshold, StateStore.abort_run

    def slow_keys(*args, **kwargs):
        with lock:
            running["n"] += 1
        started.set()
        try:
            time.sleep(2.0)  # keep the inserts job busy past the guard
            return real_keys(*args, **kwargs)
        finally:
            with lock:
                running["n"] -= 1

    def watched_guard(*args, **kwargs):
        assert started.wait(60)
        with lock:
            at_guard.append(running["n"])
        return real_guard(*args, **kwargs)

    def recording_abort(self):
        with lock:
            at_abort.append(running["n"])
        return real_abort(self)

    monkeypatch.setattr(species_load, "next_surrogate_keys", slow_keys)
    monkeypatch.setattr(sync, "guard_delete_threshold", watched_guard)
    monkeypatch.setattr(StateStore, "abort_run", recording_abort)
    with pytest.raises(RuntimeError, match="threshold"):
        # default 10% cap: the stale + replaced deletes exceed it on this fixture
        run_species_load(store, _relations(spark), RUN_TS, RAT)
    monkeypatch.undo()

    assert at_guard == [1], "the guard should fire while the inserts job runs"
    assert at_abort == [0], f"abort_run started while {at_abort} keygen jobs ran"
    _assert_run_left_nothing(store, before_v, before_rows)


def test_agr_dims_failure_rolls_back(spark, tmp_path, monkeypatch):
    """The AGR load materializes its curie and symbol dims on a run-scope
    worker while the caller stores the parsed lines. A failure in that job
    aborts the whole run: no table moves, nothing is minted."""
    store = _seed_store(spark, tmp_path / "agrdims")
    before_v = {t: store.current_version(t) for t in AGR_TABLES}
    before_rows = {t: _rows(store, t) for t in AGR_TABLES}
    _fail_first_background_checkpoint(monkeypatch)
    with pytest.raises(RuntimeError, match="injected failure"):
        run_agr_load(store, _agr_lines(spark), RUN_TS, delete_threshold_pct=100.0)
    monkeypatch.undo()
    _assert_run_left_nothing(store, before_v, before_rows)


# ---------------------------------------------------------------------------
# Cross-process liveness (VERDICT r6 item 2): a reader process must coexist
# with a LIVE writer process's pending run — recovery fires only once the
# owner is provably dead (pid + start-time check) or via explicit repair().
# ---------------------------------------------------------------------------

_CHILD_WRITER = """\
import os, sys, time
sys.path.insert(0, {repo!r})
from ortholog_pipeline_spark.sources.state import StateStore

store = StateStore(None, {root!r})  # spark unused by the manifest protocol
store.begin_run(["t1"])
os.makedirs(os.path.join({root!r}, "t1", "v=1"), exist_ok=True)
with open(os.path.join({root!r}, "t1", "v=1", "part-0.parquet"), "w") as f:
    f.write("staged")
print("READY", flush=True)
time.sleep(120)  # hold the PREPARED manifest until the parent kills us
"""


def test_reader_coexists_with_live_cross_process_writer(spark, tmp_path):
    """A second process reading the store root while another process's run is
    mid-stage must NOT roll the live run back; once the writer is dead, the
    same read path recovers it."""
    import signal
    import subprocess
    import sys as _sys

    root = str(tmp_path / "xproc")
    store = StateStore(spark, root)
    store.write("t1", spark.createDataFrame([(1, "a")], "k int, v string"))

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    child = subprocess.Popen(
        [_sys.executable, "-c", _CHILD_WRITER.format(repo=repo, root=root)],
        stdout=subprocess.PIPE,
        text=True,
    )
    try:
        assert child.stdout.readline().strip() == "READY"
        staged = os.path.join(root, "t1", "v=1")
        reader = StateStore(spark, root)  # fresh store, knows nothing in-process
        # reads trigger lazy recovery — which must now LEAVE the live run alone
        assert sorted(tuple(r) for r in reader.read("t1").collect()) == [(1, "a")]
        assert os.path.exists(reader._pending_path), "live manifest was destroyed"
        assert os.path.isdir(staged), "live run's staged dir was rolled back"
        # and single-writer still holds against the live cross-process run
        with pytest.raises(RuntimeError, match="already pending"):
            reader.begin_run(["t1"])
    finally:
        child.send_signal(signal.SIGKILL)
        child.wait()

    # owner provably dead (pid gone): the same read path now rolls back
    reader2 = StateStore(spark, root)
    assert sorted(tuple(r) for r in reader2.read("t1").collect()) == [(1, "a")]
    assert not os.path.exists(reader2._pending_path)
    assert not os.path.isdir(os.path.join(root, "t1", "v=1"))
    # the root is writable again
    reader2.begin_run(["t1"])
    reader2.abort_run()


def test_cross_host_manifest_needs_explicit_repair(spark, tmp_path):
    """A pending manifest owned by another HOST is unverifiable: reads leave
    it alone (and begin_run refuses); only repair(force=True) — the operator's
    verified-dead override — resolves it."""
    root = str(tmp_path / "xhost")
    store = StateStore(spark, root)
    store.write("t1", spark.createDataFrame([(1, "a")], "k int, v string"))
    os.makedirs(os.path.join(root, "t1", "v=1"))
    with open(os.path.join(root, "t1", "v=1", "part-0.parquet"), "w") as f:
        f.write("staged")
    with open(store._pending_path, "w") as f:
        json.dump(
            {
                "run_id": "deadbeef",
                "state": "PREPARED",
                "tables": {"t1": None},
                "owner": {"pid": 1, "pid_start": "42", "host": "some-other-host"},
            },
            f,
        )
    reader = StateStore(spark, root)
    assert sorted(tuple(r) for r in reader.read("t1").collect()) == [(1, "a")]
    assert os.path.exists(reader._pending_path)  # read did not destroy it
    assert reader.repair() is False  # non-forced repair respects liveness
    assert os.path.exists(reader._pending_path)
    with pytest.raises(RuntimeError, match="already pending"):
        reader.begin_run(["t1"])
    assert reader.repair(force=True) is True
    assert not os.path.exists(reader._pending_path)
    assert not os.path.isdir(os.path.join(root, "t1", "v=1"))


# ---------------------------------------------------------------------------
# Vacuum under the txn layer (VERDICT r6 item 8): retention run between
# begin_run and commit_run must never delete staged v= dirs it doesn't own.
# ---------------------------------------------------------------------------

def test_vacuum_between_begin_and_commit_spares_staged_dirs(spark, tmp_path):
    store = StateStore(spark, str(tmp_path / "vactxn"))
    for i in range(3):  # published history v0..v2
        store.write("t", spark.createDataFrame([(i, "r")], "k int, v string"))
    store.begin_run(["t"])
    v = store.write(
        "t", spark.createDataFrame([(9, "staged")], "k int, v string"),
        publish=False,
    )
    staged = os.path.join(store.root, "t", f"v={v}")
    assert v == 3 and os.path.isdir(staged)
    removed = store.vacuum("t", keep=1)
    # retention reaches BACKWARD only: superseded v0/v1 go, published v2 and
    # the in-flight staged v3 stay; the pending manifest is untouched
    assert removed == [0, 1]
    assert os.path.isdir(staged)
    assert os.path.exists(store._pending_path)
    store.commit_run({"t": v})
    assert sorted(tuple(r) for r in store.read("t").collect()) == [(9, "staged")]


def test_vacuum_on_committed_unrolled_manifest_rolls_forward_first(spark, tmp_path):
    """Crash after the COMMITTED flip but before the marker advance, owner
    dead: a later vacuum's snapshot read rolls the run forward, then applies
    retention to the now-published history — never to the committed version."""
    store = _two_table_store(spark, tmp_path, name="vaccommit")
    store.begin_run(["t1", "t2"])
    v1 = store.write("t1", spark.createDataFrame([(2, "b")], "k int, v string"),
                     publish=False)
    v2 = store.write("t2", spark.createDataFrame([(2, "y")], "k int, v string"),
                     publish=False)
    store._write_manifest(
        {"run_id": store._active_run, "state": "COMMITTED",
         "tables": {"t1": v1, "t2": v2}}
    )
    _simulate_death()
    fresh = StateStore(spark, store.root)
    removed = fresh.vacuum("t1", keep=1)
    assert removed == [0]  # pre-run snapshot vacuumed, committed v1 kept
    assert sorted(tuple(r) for r in fresh.read("t1").collect()) == [(2, "b")]
    assert sorted(tuple(r) for r in fresh.read("t2").collect()) == [(2, "y")]
    assert not os.path.exists(fresh._pending_path)


# ---------------------------------------------------------------------------
# Liveness edge cases (VERDICT r7 ask 6 + ADVICE r7): fork, exec-same-pid,
# unknowable /proc start times, duplicate-hostname boot ids, remove races.
# ---------------------------------------------------------------------------

_FORK_WRITER = """\
import os, sys
sys.path.insert(0, {repo!r})
from ortholog_pipeline_spark.sources.state import StateStore

root = {root!r}
store = StateStore(None, root)  # spark unused by the manifest protocol
store.begin_run(["t1"])
staged = os.path.join(root, "t1", "v=1")
os.makedirs(staged, exist_ok=True)
with open(os.path.join(staged, "part-0.parquet"), "w") as f:
    f.write("staged")

pid = os.fork()
if pid == 0:
    # forked child: DIFFERENT pid, but it inherits the parent's _LIVE_RUNS
    # copy AND the parent (the manifest's owner) is genuinely alive — a read
    # here must leave the parent's in-flight run untouched
    child = StateStore(None, root)
    child._recover()
    ok = os.path.exists(child._pending_path) and os.path.isdir(staged)
    os._exit(0 if ok else 17)
_, status = os.waitpid(pid, 0)
print("CHILD_OK" if os.waitstatus_to_exitcode(status) == 0 else "CHILD_FAIL",
      flush=True)
store.abort_run()
print("ABORTED" if not os.path.exists(store._pending_path) else "LEAK",
      flush=True)
"""


def test_forked_child_does_not_recover_parents_live_run(tmp_path):
    """A store opened in a forked child (same registry dict copied, different
    pid) must classify the parent's in-flight run as alive and leave it be."""
    import subprocess
    import sys as _sys

    root = str(tmp_path / "forked")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [_sys.executable, "-c", _FORK_WRITER.format(repo=repo, root=root)],
        capture_output=True,
        text=True,
        timeout=60,
    )
    assert out.returncode == 0, out.stderr
    assert out.stdout.split() == ["CHILD_OK", "ABORTED"]


_EXEC_WRITER = """\
import os, sys
sys.path.insert(0, {repo!r})
from ortholog_pipeline_spark.sources.state import StateStore

root = {root!r}
store = StateStore(None, root)
store.begin_run(["t1"])
staged = os.path.join(root, "t1", "v=1")
os.makedirs(staged, exist_ok=True)
with open(os.path.join(staged, "part-0.parquet"), "w") as f:
    f.write("staged")
# exec replaces this process image: same pid, empty _LIVE_RUNS in the new
# image — the documented "same-pid restart after exec" dead tier
os.execv(sys.executable, [sys.executable, "-c", {second!r}])
"""

_EXEC_READER = """\
import os, sys
sys.path.insert(0, {repo!r})
from ortholog_pipeline_spark.sources.state import StateStore

root = {root!r}
reader = StateStore(None, root)
reader._recover()
manifest_gone = not os.path.exists(reader._pending_path)
staged_gone = not os.path.isdir(os.path.join(root, "t1", "v=1"))
print("RECOVERED" if manifest_gone and staged_gone else "STUCK", flush=True)
"""


def test_exec_same_pid_manifest_is_dead(tmp_path):
    """After exec the pid persists but the run's in-process registry is gone:
    the manifest's logical run is dead by the documented same-pid tier, and a
    read in the new image rolls the PREPARED run back."""
    import subprocess
    import sys as _sys

    root = str(tmp_path / "execd")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    second = _EXEC_READER.format(repo=repo, root=root)
    out = subprocess.run(
        [_sys.executable, "-c", _EXEC_WRITER.format(repo=repo, root=root, second=second)],
        capture_output=True,
        text=True,
        timeout=60,
    )
    assert out.returncode == 0, out.stderr
    assert out.stdout.strip() == "RECOVERED"


def _pending_manifest(root: str, owner: dict) -> None:
    os.makedirs(os.path.join(root, "t1", "v=1"), exist_ok=True)
    with open(os.path.join(root, "t1", "v=1", "part-0.parquet"), "w") as f:
        f.write("staged")
    with open(os.path.join(root, "_RUN_PENDING"), "w") as f:
        json.dump(
            {"run_id": "feedface", "state": "PREPARED", "tables": {"t1": None},
             "owner": owner},
            f,
        )


def test_unknowable_pid_start_falls_back_to_existence(spark, tmp_path):
    """ADVICE r7 (medium): a same-host owner whose pid_start is None (writer
    on a /proc-less platform) must be judged by bare pid existence, not
    auto-classified dead."""
    import subprocess
    import sys as _sys

    root = str(tmp_path / "noproc")
    store = StateStore(spark, root)
    store.write("t1", spark.createDataFrame([(1, "a")], "k int, v string"))

    sleeper = subprocess.Popen([_sys.executable, "-c", "import time; time.sleep(120)"])
    try:
        owner = {
            "pid": sleeper.pid,
            "pid_start": None,  # unknowable on the writer's side
            "host": state_mod._HOST,
            "boot_id": state_mod._boot_id(),
        }
        _pending_manifest(root, owner)
        reader = StateStore(spark, root)
        assert reader._owner_alive(json.load(open(reader._pending_path)))
        reader._recover()
        assert os.path.exists(reader._pending_path), "live /proc-less writer rolled back"
    finally:
        sleeper.kill()
        sleeper.wait()
    # once the pid is gone, the same fallback classifies it dead
    reader2 = StateStore(spark, root)
    reader2._recover()
    assert not os.path.exists(reader2._pending_path)
    assert not os.path.isdir(os.path.join(root, "t1", "v=1"))


def test_same_hostname_different_boot_id_is_unverifiable(spark, tmp_path):
    """ADVICE r7 (low): duplicate hostnames across cloned containers — a
    matching hostname with a MISMATCHED boot id must not trust the local
    /proc table; the run is left alone until repair(force=True)."""
    root = str(tmp_path / "dupHost")
    store = StateStore(spark, root)
    store.write("t1", spark.createDataFrame([(1, "a")], "k int, v string"))
    owner = {
        "pid": 1,  # pid 1 exists locally (init) — exactly the wrong-table trap
        "pid_start": "999999999",
        "host": state_mod._HOST,
        "boot_id": "00000000-0000-0000-0000-000000000000",
    }
    _pending_manifest(root, owner)
    reader = StateStore(spark, root)
    assert sorted(tuple(r) for r in reader.read("t1").collect()) == [(1, "a")]
    assert os.path.exists(reader._pending_path), "cross-boot manifest destroyed"
    assert reader.repair() is False
    assert reader.repair(force=True) is True
    assert not os.path.exists(reader._pending_path)


def test_recover_tolerates_concurrent_manifest_removal(spark, tmp_path, monkeypatch):
    """ADVICE r7 (low): the loser of the os.remove race (two readers both pass
    the dead-owner check) must treat the vanished manifest as recovered."""
    root = str(tmp_path / "race")
    store = StateStore(spark, root)
    store.write("t1", spark.createDataFrame([(1, "a")], "k int, v string"))
    owner = {
        "pid": 2 ** 22 + 1234,  # no such pid: provably dead owner
        "pid_start": "1",
        "host": state_mod._HOST,
        "boot_id": state_mod._boot_id(),
    }
    _pending_manifest(root, owner)

    real_remove = os.remove

    def racing_remove(path, *a, **kw):
        if path.endswith("_RUN_PENDING"):
            real_remove(path)  # the OTHER reader wins the race...
            raise FileNotFoundError(path)  # ...and our own remove then misses
        return real_remove(path, *a, **kw)

    monkeypatch.setattr(state_mod.os, "remove", racing_remove)
    reader = StateStore(spark, root)
    # must not raise, and the run resolves exactly once
    assert sorted(tuple(r) for r in reader.read("t1").collect()) == [(1, "a")]
    assert not os.path.exists(reader._pending_path)


def test_candidate_join_validation():
    """ADVICE r7 (low): an invalid candidate_join surfaces as a ValueError
    naming the valid options, not a bare KeyError."""
    from ortholog_pipeline_spark.operators.dedup import editdist1_join

    with pytest.raises(ValueError, match="candidate_join must be one of.*foo"):
        editdist1_join(None, "s", candidate_join="foo")


# -- r9: heartbeat + machine-id liveness (VERDICT r8 ask 2, ADVICE r8 medium) --


def test_heartbeat_thread_touches_manifest_and_stops(spark, tmp_path, monkeypatch):
    """begin_run starts a heartbeat that refreshes the manifest mtime every
    interval; commit/abort stop it. The mtime IS the liveness signal on
    /proc-less hosts, so the writer side must actually emit it."""
    import time as _time

    monkeypatch.setattr(state_mod, "HEARTBEAT_INTERVAL_S", 0.1)
    store = _two_table_store(spark, tmp_path, "hb")
    store.begin_run(["t1"])
    try:
        m0 = os.path.getmtime(store._pending_path)
        deadline = _time.time() + 5
        while _time.time() < deadline:
            _time.sleep(0.15)
            if os.path.getmtime(store._pending_path) > m0:
                break
        assert os.path.getmtime(store._pending_path) > m0, "heartbeat never fired"
        assert store._hb_thread is not None and store._hb_thread.is_alive()
        hb = store._hb_thread
    finally:
        store.abort_run()
    assert store._hb_thread is None and store._hb_stop is None
    hb.join(timeout=5)
    assert not hb.is_alive()
    # manifest recorded the promise readers key the staleness horizon on
    store2 = _two_table_store(spark, tmp_path, "hb2")
    store2.begin_run(["t1"])
    try:
        with open(store2._pending_path) as f:
            owner = json.load(f)["owner"]
        assert owner["heartbeat_interval_s"] == 0.1
        assert owner["machine_id"] == state_mod._machine_id()
    finally:
        store2.abort_run()


def test_stale_heartbeat_recovers_procless_recycled_pid(spark, tmp_path):
    """VERDICT r8 ask 2: on a /proc-less host a dead run whose pid was
    recycled (pid EXISTS, identity unknowable) was permanently wedged. With a
    stale heartbeat (mtime untouched past the horizon) the reader may finally
    classify it dead and roll it back."""
    import subprocess
    import sys as _sys

    root = str(tmp_path / "staleHb")
    store = StateStore(spark, root)
    store.write("t1", spark.createDataFrame([(1, "a")], "k int, v string"))
    # a LIVE pid standing in for "recycled": identity unknowable (pid_start
    # None on the writer side), so only the heartbeat can tell dead from live
    sleeper = subprocess.Popen([_sys.executable, "-c", "import time; time.sleep(120)"])
    try:
        owner = {
            "pid": sleeper.pid,
            "pid_start": None,
            "host": state_mod._HOST,
            "boot_id": state_mod._boot_id(),
            "machine_id": state_mod._machine_id(),
            "heartbeat_interval_s": 0.5,
        }
        _pending_manifest(root, owner)
        p = os.path.join(root, "_RUN_PENDING")
        past = os.path.getmtime(p) - 60  # >> 0.5 * horizon factor
        os.utime(p, (past, past))
        reader = StateStore(spark, root)
        reader._recover()
        assert not os.path.exists(p), "stale-heartbeat run not recovered"
        assert not os.path.isdir(os.path.join(root, "t1", "v=1"))
    finally:
        sleeper.kill()
        sleeper.wait()


def test_fresh_heartbeat_keeps_procless_writer_alive(spark, tmp_path):
    """VERDICT r8 ask 2 (the other direction): a live /proc-less writer whose
    heartbeat is FRESH must never be rolled back — and a manifest with no
    heartbeat promise (older engine) keeps the conservative alive verdict."""
    import subprocess
    import sys as _sys

    root = str(tmp_path / "freshHb")
    store = StateStore(spark, root)
    store.write("t1", spark.createDataFrame([(1, "a")], "k int, v string"))
    sleeper = subprocess.Popen([_sys.executable, "-c", "import time; time.sleep(120)"])
    try:
        owner = {
            "pid": sleeper.pid,
            "pid_start": None,
            "host": state_mod._HOST,
            "boot_id": state_mod._boot_id(),
            "machine_id": state_mod._machine_id(),
            "heartbeat_interval_s": 30.0,
        }
        _pending_manifest(root, owner)
        p = os.path.join(root, "_RUN_PENDING")
        reader = StateStore(spark, root)
        reader._recover()
        assert os.path.exists(p), "live writer with fresh heartbeat rolled back"
        # no-promise manifest: heartbeat tier must not fire at all
        owner.pop("heartbeat_interval_s")
        _pending_manifest(root, owner)
        past = os.path.getmtime(p) - 3600
        os.utime(p, (past, past))
        StateStore(spark, root)._recover()
        assert os.path.exists(p), "pre-heartbeat manifest destroyed by staleness"
    finally:
        sleeper.kill()
        sleeper.wait()
        StateStore(spark, root).repair(force=True)


@pytest.mark.skipif(
    state_mod._machine_id() is None, reason="no machine-id on this host"
)
def test_same_machine_reboot_auto_recovers(spark, tmp_path):
    """ADVICE r8 (medium): boot-id mismatch alone is unverifiable, but a
    MATCHING boot-stable machine id proves 'this same machine rebooted' — the
    owner died with the old boot, so the run must auto-recover (the pre-r8
    behavior the boot-id tier silently removed). ADVICE r9 tightened the
    promise-less branch: a manifest with NO heartbeat promise (pre-heartbeat
    engine) may be a LIVE mixed-version writer on a cloned image, so the
    dead verdict additionally requires the manifest mtime to be past the
    default horizon — a fresh promise-less manifest is left alone."""
    root = str(tmp_path / "reboot")
    store = StateStore(spark, root)
    store.write("t1", spark.createDataFrame([(1, "a")], "k int, v string"))
    owner = {
        "pid": 1,
        "pid_start": "999999999",
        "host": state_mod._HOST,
        "boot_id": "00000000-0000-0000-0000-000000000000",  # previous boot
        "machine_id": state_mod._machine_id(),  # same machine
    }
    _pending_manifest(root, owner)
    reader = StateStore(spark, root)
    # FRESH promise-less manifest: possibly a live pre-heartbeat clone — kept
    reader._recover()
    assert os.path.exists(
        reader._pending_path
    ), "fresh promise-less mixed-version run destroyed (ADVICE r9)"
    # past the default horizon: the ordinary post-reboot auto-recovery
    p0 = reader._pending_path
    old = os.path.getmtime(p0) - state_mod._PROMISELESS_STALE_HORIZON_S - 60
    os.utime(p0, (old, old))
    StateStore(spark, root)._recover()
    assert not os.path.exists(p0), "post-reboot run not recovered"
    # heartbeat-aware manifest: cloned images can share the machine id, so a
    # FRESH heartbeat must protect the (possibly live clone's) run...
    owner["heartbeat_interval_s"] = 30.0
    _pending_manifest(root, owner)
    reader_hb = StateStore(spark, root)
    reader_hb._recover()
    assert os.path.exists(reader_hb._pending_path), "live-clone run destroyed"
    # ...and a STALE one proves the reboot: recovered
    p = reader_hb._pending_path
    past = os.path.getmtime(p) - 3600
    os.utime(p, (past, past))
    StateStore(spark, root)._recover()
    assert not os.path.exists(p), "stale post-reboot run not recovered"
    # different machine id: back to unverifiable — left alone
    owner.pop("heartbeat_interval_s")
    owner["machine_id"] = "not-this-machine"
    _pending_manifest(root, owner)
    reader2 = StateStore(spark, root)
    reader2._recover()
    assert os.path.exists(reader2._pending_path), "cloned-host run destroyed"
    assert reader2.repair(force=True)


def test_begin_run_error_names_boot_id_case_and_force_repair(spark, tmp_path):
    """ADVICE r8 (medium): the 'already pending' error must point at
    repair(force=True), and name the boot-id-mismatch situation when that is
    what blocked recovery."""
    root = str(tmp_path / "hint")
    store = StateStore(spark, root)
    store.write("t1", spark.createDataFrame([(1, "a")], "k int, v string"))
    owner = {
        "pid": 1,
        "pid_start": "999999999",
        "host": state_mod._HOST,
        "boot_id": "00000000-0000-0000-0000-000000000000",
        "machine_id": "some-other-machine",
    }
    _pending_manifest(root, owner)
    with pytest.raises(RuntimeError, match=r"boot id.*repair\(force=True\)"):
        StateStore(spark, root).begin_run(["t1"])
    # generic pending (cross-host owner): still points at the override
    owner = {"pid": 1, "pid_start": "1", "host": "elsewhere.example"}
    _pending_manifest(root, owner)
    with pytest.raises(RuntimeError, match=r"repair\(force=True\)"):
        StateStore(spark, root).begin_run(["t1"])
    StateStore(spark, root).repair(force=True)


def test_rollback_tolerates_concurrent_staged_dir_removal(spark, tmp_path, monkeypatch):
    """ADVICE r8 (low): two readers can both pass the dead-owner check and
    both reach the PREPARED rollback — the loser's rmtree sees the staged dir
    vanish mid-walk and must treat it as already-rolled-back, not crash the
    read path."""
    import shutil as _shutil

    root = str(tmp_path / "rmrace")
    store = StateStore(spark, root)
    store.write("t1", spark.createDataFrame([(1, "a")], "k int, v string"))
    owner = {
        "pid": 2 ** 22 + 4321,  # no such pid: provably dead
        "pid_start": "1",
        "host": state_mod._HOST,
        "boot_id": state_mod._boot_id(),
    }
    _pending_manifest(root, owner)

    real_rmtree = _shutil.rmtree

    def racing_rmtree(path, *a, **kw):
        if "v=" in os.path.basename(path):
            real_rmtree(path)  # the OTHER reader wins...
            raise FileNotFoundError(path)  # ...ours then misses mid-walk
        return real_rmtree(path, *a, **kw)

    monkeypatch.setattr("shutil.rmtree", racing_rmtree)
    reader = StateStore(spark, root)
    # must not raise; the staged dir is gone and the manifest resolved
    assert sorted(tuple(r) for r in reader.read("t1").collect()) == [(1, "a")]
    assert not os.path.exists(reader._pending_path)
    assert not os.path.isdir(os.path.join(root, "t1", "v=1"))
