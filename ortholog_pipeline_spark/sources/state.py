"""Snapshot state store — the engine's replacement for the reference's Oracle tables
(S7-S13, SURVEY.md §1.4).

"Current DB state" inputs are snapshot reads; a run's effect is a deterministic new
snapshot: explicit insert/update/delete sets are computed first (mirroring the
reference's matchList/insertList/deleteList, OrthologRelationLoader.java:599-602), any
commit gates run (delete threshold, manual-row guards), and only then is the new
version written. Versioned directories give atomic publish + time travel without
requiring Delta in the container; on a cluster the same layout maps 1:1 onto Delta
`MERGE`.

Layout:  <root>/<table>/v=<n>/  (parquet), with <root>/<table>/_CURRENT holding n.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
from collections.abc import Iterator
from concurrent.futures import Future, ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

# In-process registry of live run txns: store root → run_id. Recovery only
# rolls a pending manifest whose run has NO live owner — i.e. the writing
# process died (a real crash clears this dict with the process). Lets a second
# StateStore object on the same root coexist with an in-flight run instead of
# "recovering" it out from under the owner.
_LIVE_RUNS: dict[str, str] = {}
import socket as _socket
import threading as _threading

_RUNS_LOCK = _threading.Lock()
_HOST = _socket.gethostname()


def _proc_start(pid: int) -> str | None:
    """The process's start time (clock ticks since boot, /proc/<pid>/stat
    field 22), or None if no such process OR no /proc (macOS, Windows).
    pid + start time identifies a process uniquely on one host — a recycled
    pid gets a new start time, so a dead owner can never be mistaken for
    alive via pid reuse. Callers must not read None as "dead": it also means
    "unknowable here" — `_pid_exists` is the fallback for that case."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            stat = f.read()
        # comm (field 2) may contain spaces/parens: split after the LAST ')'
        return stat.rsplit(b")", 1)[1].split()[19].decode()
    except (OSError, IndexError):
        return None


def _pid_exists(pid: int) -> bool:
    """Bare process-existence check (signal 0), the portable fallback when
    /proc start times are unknowable on either side. Weaker than the
    start-time identity (a recycled pid CAN fake liveness) but errs in the
    safe direction: a possibly-live writer is left alone, never rolled back."""
    try:
        os.kill(pid, 0)
        return True
    except ProcessLookupError:
        return False
    except OSError:
        # EPERM etc.: the process exists but isn't ours to signal
        return True


def _boot_id() -> str | None:
    """This machine's per-boot unique id, or None where unavailable. Two
    containers/VMs cloned from one image can share a hostname; the boot id
    tells them apart so a same-hostname-different-machine reader never runs
    the /proc pid check against the wrong pid table."""
    try:
        with open("/proc/sys/kernel/random/boot_id") as f:
            return f.read().strip()
    except OSError:
        return None


def _machine_id() -> str | None:
    """A boot-STABLE machine identity (systemd machine-id), or None. The boot
    id alone cannot tell "this machine rebooted" (owner certainly dead) from
    "a cloned-hostname machine wrote this" (owner unknowable) — the machine id
    survives reboots, so owner.machine_id == ours proves the same-machine case
    and lets a reboot auto-recover the dead run (ADVICE r8: the boot-id tier
    silently turned reboot recovery into a manual repair)."""
    for path in ("/etc/machine-id", "/var/lib/dbus/machine-id"):
        try:
            with open(path) as f:
                mid = f.read().strip()
            if mid:
                return mid
        except OSError:
            continue
    return None


#: Seconds between heartbeat touches of the pending manifest while a run is
#: active. A reader treats an unverifiable same-host owner as dead once the
#: manifest mtime is staler than interval × _HEARTBEAT_STALE_FACTOR.
HEARTBEAT_INTERVAL_S = 15.0
#: Staleness horizon multiplier — generous enough that GC pauses, a busy
#: filesystem, or modest clock drift can't fake death, small enough that a
#: wedged pid-recycled owner is reclaimed in minutes, not never.
_HEARTBEAT_STALE_FACTOR = 20.0
#: Default staleness horizon for manifests WITHOUT a heartbeat promise
#: (written by a pre-heartbeat engine) in the same-machine-id reboot tier.
#: Such a writer never touches its manifest, so mtime == begin_run time: a
#: fresh manifest may be a LIVE pre-heartbeat writer on a cloned image
#: (same /etc/machine-id, different boot id) and must be left alone; one
#: older than this horizon is either a dead reboot casualty or a run that
#: has held the single-writer lock for an hour — recover it (ADVICE r9:
#: the unconditional dead verdict could destroy a live mixed-version run).
_PROMISELESS_STALE_HORIZON_S = 3600.0


def _owner_token() -> dict:
    """The liveness token recorded in run manifests — every identity signal a
    later reader might hold one side of (see ``_owner_alive``)."""
    return {
        "pid": os.getpid(),
        "pid_start": _proc_start(os.getpid()),
        "host": _HOST,
        "boot_id": _boot_id(),
        "machine_id": _machine_id(),
        "heartbeat_interval_s": HEARTBEAT_INTERVAL_S,
    }


class StateStore:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self._active_run: str | None = None  # run_id of OUR in-flight txn
        self._hb_stop: _threading.Event | None = None
        self._hb_thread: _threading.Thread | None = None

    # -- versioning ---------------------------------------------------------
    def _table_dir(self, table: str) -> str:
        return os.path.join(self.root, table)

    def _raw_current(self, table: str) -> int:
        marker = os.path.join(self._table_dir(table), "_CURRENT")
        if not os.path.exists(marker):
            return -1
        with open(marker) as f:
            return int(f.read().strip())

    def current_version(self, table: str) -> int:
        self._recover()
        return self._raw_current(table)

    # -- run-grain two-phase publish -----------------------------------------
    # A multi-table flow's commits must be all-or-nothing under crash (SURVEY
    # §1.4: "the run's effect is a deterministic new snapshot" — the reference
    # commits per statement, OrthologRelationLoader.java:599-672, so a mid-run
    # failure there CAN tear cross-table state; this engine promises better).
    # Flows go through the `run(tables)` scope, which drives this protocol:
    #   begin_run(tables)  → atomic PREPARED manifest at <root>/_RUN_PENDING
    #   stage each table   → apply_changes(..., publish=False): data dirs
    #                        written, no _CURRENT moves
    #   commit_run({t: v}) → manifest atomically flipped to COMMITTED (THE
    #                        commit point), then every _CURRENT advanced in
    #                        sorted order, then the manifest removed
    # Recovery (lazy, on any read through a fresh store): a PREPARED manifest
    # from a dead run rolls BACK (staged dirs above the published markers are
    # deleted); a COMMITTED manifest rolls FORWARD (remaining markers
    # advanced, idempotently). Either way readers only ever observe the
    # before-state or the complete after-state of the run.

    @property
    def _pending_path(self) -> str:
        return os.path.join(self.root, "_RUN_PENDING")

    def _write_manifest(self, manifest: dict) -> None:
        os.makedirs(self.root, exist_ok=True)
        tmp = self._pending_path + ".tmp"
        with open(tmp, "w") as f:
            f.write(json.dumps(manifest))
        os.replace(tmp, self._pending_path)  # atomic

    def _owner_alive(self, m: dict) -> bool:
        """Whether the run that wrote manifest ``m`` may still be executing.

        Cross-process liveness (VERDICT r6 item 2): without it, a second
        process merely READING the store while another process's run was
        mid-stage would roll the live run's staged dirs back out from under
        it. Three tiers, strongest knowledge first:

        - our process owns the run (``_LIVE_RUNS``) → alive. A forked child
          inherits the parent's registry copy, so it also sees the parent's
          in-flight run as alive — correct: the parent IS still executing;
        - another HOST (shared filesystem) → liveness is unverifiable, so
          treat as alive: a reader must never destroy a possibly-live run.
          ``repair(force=True)`` is the explicit operator override;
        - same hostname but a DIFFERENT boot id (when both sides recorded
          one): if both sides also recorded a boot-STABLE machine id and they
          MATCH, this is normally "this machine rebooted and the owner died
          with it" → dead (auto-recover — the ordinary post-reboot path).
          Cloned images can share the machine id too, so a heartbeat-aware
          manifest is declared dead only once its heartbeat is STALE (a
          rebooted owner's heartbeat necessarily is; a live clone's is
          fresh). Without a machine-id match it is either a duplicate
          hostname whose pid table is not ours to consult, or a reboot we
          cannot prove — indistinguishable, so take the non-destructive
          branch (begin_run's error message names this case and
          repair(force=True));
        - the manifest's owner pid is OUR pid but the run is not in
          ``_LIVE_RUNS`` → the logical run died inside this process (the
          crash-injection tests' regime; also a same-pid restart after exec,
          which empties the registry but keeps the pid) → dead;
        - another pid on this host → alive iff /proc/<pid> exists AND its
          start time matches the one recorded at begin_run (pid recycling
          cannot fake liveness). When the start time is unknowable on
          either side (no /proc: macOS/Windows writer or reader), fall back
          to bare pid existence — without this, a LIVE same-host writer on
          such a platform would always be classified dead and rolled back —
          cross-checked against the writer's HEARTBEAT: a live writer
          touches the manifest every ``heartbeat_interval_s``, so an
          existing pid whose manifest mtime is staler than the horizon is a
          RECYCLED pid, not the owner → dead (r8 VERDICT: without this, a
          /proc-less host could never auto-recover a recycled-pid run).
        """
        if m.get("run_id") == _LIVE_RUNS.get(os.path.abspath(self.root)):
            return True
        owner = m.get("owner") or {}
        pid = owner.get("pid")
        if pid is None:
            return False
        if owner.get("host") not in (None, _HOST):
            return True
        owner_boot, my_boot = owner.get("boot_id"), _boot_id()
        if None not in (owner_boot, my_boot) and owner_boot != my_boot:
            owner_mid, my_mid = owner.get("machine_id"), _machine_id()
            if None not in (owner_mid, my_mid) and owner_mid == my_mid:
                # Same stable machine id: normally "this machine rebooted and
                # the owner died with it" — but CLONED container images share
                # /etc/machine-id too, so when the owner promised heartbeats,
                # believe death only once the heartbeat is actually stale (a
                # rebooted owner's heartbeat is necessarily stale; a live
                # clone's is fresh).
                if owner.get("heartbeat_interval_s"):
                    return not self._heartbeat_stale(owner)
                # Promise-less manifest (pre-heartbeat engine): no heartbeat
                # to consult, and a live pre-heartbeat writer on a cloned
                # image is indistinguishable from a rebooted dead owner by
                # identity alone. Gate the destructive verdict on manifest
                # mtime vs a generous default horizon (ADVICE r9): fresh →
                # assume the possibly-live clone and leave it (begin_run's
                # error + repair(force=True) stay available); stale → the
                # ordinary post-reboot auto-recovery, merely delayed.
                return not self._manifest_older_than(
                    _PROMISELESS_STALE_HORIZON_S
                )
            return True
        if pid == os.getpid():
            return False
        recorded = owner.get("pid_start")
        start = _proc_start(pid)
        if recorded is None or start is None:
            return _pid_exists(pid) and not self._heartbeat_stale(owner)
        return start == recorded

    def _heartbeat_stale(self, owner: dict) -> bool:
        """Second liveness signal for the identity-unverifiable tier: True iff
        the owner promised heartbeats (manifest written by a heartbeat-aware
        engine) and the manifest mtime is staler than the horizon. Never
        consulted when /proc start-time identity is available — that signal is
        strictly stronger. Conservative on every error path."""
        interval = owner.get("heartbeat_interval_s")
        if not interval:
            return False  # pre-heartbeat manifest: no promise, no inference
        return self._manifest_older_than(
            float(interval) * _HEARTBEAT_STALE_FACTOR
        )

    def _manifest_older_than(self, horizon_s: float) -> bool:
        """True iff the pending manifest's mtime is older than ``horizon_s``.
        Conservative on every error path: a vanished manifest means the run
        was already recovered elsewhere — report fresh, never stale."""
        try:
            age = time.time() - os.path.getmtime(self._pending_path)
        except OSError:
            return False
        return age > horizon_s

    def repair(self, force: bool = False) -> bool:
        """Explicit recovery entry point: roll a dead run's manifest forward
        or back. ``force=True`` additionally recovers a run whose owner looks
        alive (e.g. a wedged writer on another host that a human has verified
        dead) — the destructive override, never taken implicitly. Returns
        True iff a manifest was resolved."""
        p = self._pending_path
        if not os.path.exists(p):
            return False
        if force:
            # another process may resolve + remove the manifest between our
            # exists check and the open/remove: a vanished manifest means the
            # run is already recovered, not an error on this read path
            try:
                with open(p) as f:
                    m = json.load(f)
            except FileNotFoundError:
                return True
            _LIVE_RUNS.pop(os.path.abspath(self.root), None)
            self._resolve_manifest(m)
            with contextlib.suppress(FileNotFoundError):
                os.remove(p)
            return True
        before = os.path.exists(p)
        self._recover()
        return before and not os.path.exists(p)

    def _recover(self) -> None:
        """Roll a dead run's manifest forward (COMMITTED) or back (PREPARED).
        No-op while the owning run is still alive — in this process (the
        store object that began it), or in another live process on this host
        (pid + start-time match), or on another host (unverifiable)."""
        p = self._pending_path
        # no exists() pre-check here and FileNotFoundError suppressed below:
        # two readers can both pass the dead-owner check concurrently, and the
        # loser of the os.remove race (or an open racing another's remove)
        # must treat the vanished manifest as already-recovered, not crash an
        # ordinary read path
        try:
            with open(p) as f:
                m = json.load(f)
        except FileNotFoundError:
            return
        if self._owner_alive(m):
            return
        self._resolve_manifest(m)
        with contextlib.suppress(FileNotFoundError):
            os.remove(p)

    def _resolve_manifest(self, m: dict) -> None:
        if m.get("state") == "COMMITTED":
            for table in sorted(m["tables"]):
                v = m["tables"][table]
                if v is not None and self._raw_current(table) < v:
                    self._publish(table, v)
        else:  # PREPARED — the run never reached its commit point
            import shutil

            for table in m["tables"]:
                cur = self._raw_current(table)
                tdir = self._table_dir(table)
                if not os.path.isdir(tdir):
                    continue
                for d in os.listdir(tdir):
                    if d.startswith("v=") and int(d.split("=", 1)[1]) > cur:
                        # two readers can both pass the dead-owner check and
                        # both reach this rollback: the loser's rmtree races
                        # the winner's (files vanish mid-walk, or the listed
                        # dir is already gone) — an already-removed staged
                        # dir IS the goal state, not an error (ADVICE r8)
                        with contextlib.suppress(FileNotFoundError):
                            shutil.rmtree(os.path.join(tdir, d))

    def _pending_hint(self) -> str:
        """Suffix for begin_run's already-pending error: name the boot-id-
        mismatch case explicitly (ADVICE r8 — it silently demoted reboot
        recovery to a manual step wherever no machine id is available) and
        always point at the operator override."""
        try:
            with open(self._pending_path) as f:
                owner = (json.load(f).get("owner")) or {}
        except (OSError, ValueError):
            return ""
        ob, mb = owner.get("boot_id"), _boot_id()
        if owner.get("host") == _HOST and None not in (ob, mb) and ob != mb:
            return (
                ". The pending owner recorded this hostname under a DIFFERENT "
                "boot id: either a cloned-hostname machine is mid-run (leave "
                "it alone) or this machine rebooted and the owner is dead — "
                "if you have verified the owner is dead, run "
                "repair(force=True) to roll the run back"
            )
        return (
            ". If the owning process is known dead, repair(force=True) "
            "recovers it"
        )

    def _start_heartbeat(self) -> None:
        """Touch the pending manifest every HEARTBEAT_INTERVAL_S while our run
        is active. The mtime is the liveness signal _heartbeat_stale reads on
        hosts where /proc pid identity is unknowable: a crash kills this
        daemon thread with the process, the mtime goes stale, and a later
        reader may finally declare the run dead despite a recycled pid."""
        stop = _threading.Event()
        path = self._pending_path

        def _beat() -> None:
            while not stop.wait(HEARTBEAT_INTERVAL_S):
                try:
                    os.utime(path)
                except OSError:
                    return  # manifest gone: committed, aborted, or recovered

        t = _threading.Thread(
            target=_beat, name="state-store-heartbeat", daemon=True
        )
        t.start()
        self._hb_stop, self._hb_thread = stop, t

    def _stop_heartbeat(self) -> None:
        if self._hb_stop is not None:
            self._hb_stop.set()
        self._hb_stop = self._hb_thread = None

    def begin_run(self, tables: list[str]) -> str:
        """Open a run-grain transaction over ``tables``. Exactly one run may
        be pending per store root (single-writer snapshot store)."""
        with _RUNS_LOCK:
            self._recover()  # clear any dead run first
            if os.path.exists(self._pending_path):
                raise RuntimeError(
                    f"a run is already pending at {self._pending_path}; "
                    "the snapshot store is single-writer at run grain"
                    + self._pending_hint()
                )
            run_id = os.urandom(8).hex()
            self._write_manifest(
                {
                    "run_id": run_id,
                    "state": "PREPARED",
                    "tables": {t: None for t in tables},
                    # liveness token: lets OTHER processes on this host tell a
                    # live writer (leave the run alone) from a dead one (roll
                    # it back) — see _owner_alive
                    "owner": _owner_token(),
                }
            )
            self._active_run = run_id
            _LIVE_RUNS[os.path.abspath(self.root)] = run_id
            self._start_heartbeat()
        return run_id

    def commit_run(self, versions: dict[str, int]) -> None:
        """Atomically publish every staged table of the active run. The
        COMMITTED manifest flip is the single commit point; marker advancement
        after it is idempotent roll-forward."""
        if self._active_run is None:
            raise RuntimeError("commit_run without begin_run")
        self._write_manifest(
            {
                "run_id": self._active_run,
                "state": "COMMITTED",
                "tables": versions,
                # same liveness token as begin_run: while this process is
                # advancing markers, a concurrent reader must neither roll
                # the run forward under it nor remove the manifest (the
                # owner's own os.remove below would then fail mid-commit)
                "owner": _owner_token(),
            }
        )  # ← commit point
        for table in sorted(versions):
            if self._raw_current(table) < versions[table]:
                self._publish(table, versions[table])
        self._stop_heartbeat()
        os.remove(self._pending_path)
        _LIVE_RUNS.pop(os.path.abspath(self.root), None)
        self._active_run = None

    def abort_run(self) -> None:
        """Roll back the active run: delete its staged version dirs, drop the
        manifest. Reader-visible state is exactly the before-state."""
        if self._active_run is None:
            return
        self._stop_heartbeat()
        self._active_run = None
        _LIVE_RUNS.pop(os.path.abspath(self.root), None)
        self._recover()  # PREPARED → rolls back; COMMITTED → rolls forward

    @contextlib.contextmanager
    def run(self, tables: list[str]) -> Iterator[RunScope]:
        """One run-grain transaction over ``tables``, owning its staging
        threads. Entering calls `begin_run`; ``stage``/``submit`` run on the
        scope's own executor (one worker per table). A clean exit waits for
        every future, then `commit_run`s the staged versions and exposes them
        as ``versions``. Any exception — raised in the body or by a future —
        first waits for every in-flight future, then `abort_run`s and
        re-raises, so an abort never races a staging writer."""
        scope = RunScope(self, tables)
        self.begin_run(tables)
        try:
            yield scope
            for fut in scope._futures:
                fut.result()  # re-raises a failed staging write
            scope.versions = {t: f.result() for t, f in scope._staged.items()}
            self.commit_run(scope.versions)
        except BaseException:
            scope._pool.shutdown(wait=True, cancel_futures=True)
            self.abort_run()
            raise
        scope._pool.shutdown()

    def _publish(self, table: str, version: int) -> None:
        marker = os.path.join(self._table_dir(table), "_CURRENT")
        tmp = marker + ".tmp"
        with open(tmp, "w") as f:
            f.write(str(version))
        os.replace(tmp, marker)  # atomic publish

    # -- read/write ---------------------------------------------------------
    def read(
        self,
        table: str,
        schema: T.StructType | None = None,
        version: int | None = None,
    ) -> DataFrame:
        """Read the current snapshot, or — time travel — any retained version
        (``version=``): versions stay readable until `vacuum` removes them, the
        same contract as Delta's `VERSION AS OF`."""
        v = self.current_version(table) if version is None else version
        if v < 0:
            if schema is None:
                raise FileNotFoundError(f"state table {table} has no snapshot")
            return self.spark.createDataFrame([], schema)
        path = os.path.join(self._table_dir(table), f"v={v}")
        if version is not None and not os.path.isdir(path):
            raise FileNotFoundError(
                f"state table {table} has no retained version {version} "
                f"(vacuumed or never written)"
            )
        return self.spark.read.parquet(path)

    def history(self, table: str) -> list[dict]:
        """Retained versions, oldest first: version, publish mtime (epoch
        seconds), on-disk bytes, current flag — the audit surface a promotion
        gate or a debugging session reads before time-traveling."""
        tdir = self._table_dir(table)
        if not os.path.isdir(tdir):
            return []
        cur = self.current_version(table)
        out = []
        for d in sorted(os.listdir(tdir)):
            if not d.startswith("v="):
                continue
            v = int(d.split("=", 1)[1])
            path = os.path.join(tdir, d)
            size = sum(
                os.path.getsize(os.path.join(root, f))
                for root, _, files in os.walk(path)
                for f in files
                if not f.startswith(("_", "."))
            )
            out.append(
                {
                    "version": v,
                    "modified": int(os.path.getmtime(path)),
                    "bytes": size,
                    "current": v == cur,
                }
            )
        return sorted(out, key=lambda r: r["version"])

    def write(
        self,
        table: str,
        df: DataFrame,
        partition_by: list[str] | None = None,
        publish: bool = True,
    ) -> int:
        """Write ``df`` as the next version and publish it. ``partition_by`` lets hot
        tables (orthologs by dest_species_type_key) prune partitions on read.
        ``publish=False`` stages the version for a run-grain txn: the data dir
        is written but _CURRENT stays — `commit_run` flips it atomically with
        the run's other tables."""
        v = self.current_version(table) + 1
        path = os.path.join(self._table_dir(table), f"v={v}")
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(path)
        if publish:
            self._publish(table, v)
        return v

    # -- maintenance ---------------------------------------------------------
    def vacuum(self, table: str, keep: int = 2) -> list[int]:
        """Delete snapshot versions older than the newest ``keep`` (the published
        current version is always retained). Returns the versions removed.

        The versioned layout gives time travel; vacuum is what keeps it from
        being an unbounded-storage promise — the snapshot-store analogue of
        Delta's VACUUM."""
        import shutil

        cur = self.current_version(table)
        if cur < 0:
            return []
        versions = sorted(
            int(d.split("=", 1)[1])
            for d in os.listdir(self._table_dir(table))
            if d.startswith("v=")
        )
        # v > cur is STAGED, not history: a version dir above the published
        # marker belongs to an in-flight run (publish=False under a pending
        # manifest) — retention must never reach forward into a txn's staged
        # state, only backward into superseded snapshots
        doomed = (
            [v for v in versions[:-keep] if v < cur] if keep > 0 else []
        )
        for v in doomed:
            shutil.rmtree(os.path.join(self._table_dir(table), f"v={v}"))
        return doomed

    def compact(
        self,
        table: str,
        target_file_bytes: int = 128 * 1024 * 1024,
        partition_by: list[str] | None = None,
    ) -> int:
        """Rewrite the current snapshot with right-sized files: many small files
        (the residue of high-parallelism writes) become ~``target_file_bytes``
        outputs, sized from the snapshot's ACTUAL on-disk bytes. Publishes the
        rewrite as the next version — readers never see a half-compacted state."""
        cur = self.current_version(table)
        if cur < 0:
            raise FileNotFoundError(f"state table {table} has no snapshot")
        path = os.path.join(self._table_dir(table), f"v={cur}")
        on_disk = sum(
            os.path.getsize(os.path.join(root, f))
            for root, _, files in os.walk(path)
            for f in files
            if not f.startswith(("_", "."))
        )
        n_files = max(1, round(on_disk / target_file_bytes))
        df = self.spark.read.parquet(path)
        return self.write(
            table, df.coalesce(n_files), partition_by=partition_by
        )

    def forget_keys(
        self,
        table: str,
        keys: "DataFrame",
        key_cols: list[str],
        partition_by: list[str] | None = None,
    ) -> dict:
        """Right-to-be-forgotten erasure: anti-join the keys out of the
        current snapshot, publish, then PURGE every older version — time
        travel must not resurrect a forgotten subject, so the erasure and the
        history truncation are one operation. Returns an audit dict:
        ``rows_removed``, the versions purged, and ``residual_rows`` — a
        post-condition scan of every RETAINED version for the keys, which
        must be 0 (asserted by the compliance test, recorded for the audit
        log).

        Scale: the erase is one left-anti join (AQE broadcasts the key side
        when small — the usual case for deletion requests); the residual
        audit is a semi-join count per retained version."""
        before = self.read(table)
        key_df = keys.select(*key_cols).dropDuplicates()
        removed = before.join(key_df, key_cols, "left_semi").count()
        self.apply_changes(
            table, deletes=key_df, delete_key=key_cols, partition_by=partition_by
        )
        purged = self.vacuum(table, keep=1)
        residual = 0
        tdir = self._table_dir(table)
        for d in os.listdir(tdir):
            if d.startswith("v="):
                snap = self.spark.read.parquet(os.path.join(tdir, d))
                residual += snap.join(key_df, key_cols, "left_semi").count()
        return {
            "rows_removed": removed,
            "versions_purged": purged,
            "residual_rows": residual,
        }

    def _append_version(
        self, table: str, inserts: DataFrame, publish: bool = True
    ) -> int:
        """Append-only commit: the next version links the previous version's
        data files (os.link — no data copied, no Spark job over existing rows)
        and writes ONLY the insert files next to them. This is the lakehouse
        append contract (a Delta/Iceberg append commit adds files to the log,
        never rewrites old ones) re-expressed in the versioned-directory
        layout; without it every insert-only change would rewrite the whole
        snapshot, which at 100 TB turns a thousand-row mint into a full-table
        job. Vacuum stays safe: removing an old version unlinks names, the
        shared inodes live until the last referencing version goes."""
        import shutil

        cur = self.current_version(table)
        src = os.path.join(self._table_dir(table), f"v={cur}")
        v = cur + 1
        dst = os.path.join(self._table_dir(table), f"v={v}")
        for root, _dirs, files in os.walk(src):
            rel = os.path.relpath(root, src)
            out_dir = dst if rel == "." else os.path.join(dst, rel)
            os.makedirs(out_dir, exist_ok=True)
            for f in files:
                if f.startswith(("_", ".")):
                    continue
                s, d = os.path.join(root, f), os.path.join(out_dir, f)
                try:
                    os.link(s, d)
                except OSError:  # cross-device or FS without hardlinks
                    shutil.copy2(s, d)
        inserts.write.mode("append").parquet(dst)
        if publish:
            self._publish(table, v)
        return v

    # -- merge (Delta-MERGE equivalent over snapshots) -----------------------
    def apply_changes(
        self,
        table: str,
        inserts: DataFrame | None = None,
        deletes: DataFrame | None = None,
        delete_key: list[str] | None = None,
        updates: DataFrame | None = None,
        update_key: list[str] | None = None,
        schema: T.StructType | None = None,
        partition_by: list[str] | None = None,
        evolve_schema: bool = False,
        publish: bool = True,
    ) -> int:
        """next = ((current − deletes) updated-by updates) ∪ inserts, one shuffle per
        set — the snapshot-algebra equivalent of the reference's batched DML
        (S8/S9/S11/S12). ``partition_by`` lays the new snapshot out for partition
        pruning on its hot filter column (e.g. orthologs by species).

        Insert-only changes take the append fast path (`_append_version`):
        existing data files are linked into the new version untouched and only
        the inserts run through Spark. Gated to the unpartitioned,
        fixed-schema case — a partitioned append must match the previous
        layout and additive evolution needs mergeSchema-style reads, so both
        fall through to the full rewrite."""
        if (
            inserts is not None
            and deletes is None
            and updates is None
            and partition_by is None
            and not evolve_schema
            and self.current_version(table) >= 0
        ):
            # align names AND types to the snapshot: mixed physical types
            # across files (e.g. a LONG surrogate key appended next to INT
            # files) fail the parquet read, where the full-rewrite path would
            # have silently promoted via the union
            cur_fields = self.read(table, schema).schema.fields
            aligned = inserts.select(
                *[F.col(f.name).cast(f.dataType) for f in cur_fields]
            )
            return self._append_version(table, aligned, publish=publish)
        cur = self.read(table, schema)
        nxt = cur
        if deletes is not None:
            key = delete_key or deletes.columns
            nxt = nxt.join(deletes.select(*key).dropDuplicates(), key, "left_anti")
        if updates is not None:
            key = update_key or []
            if not key:
                raise ValueError("updates require update_key")
            keep = nxt.join(updates.select(*key).dropDuplicates(), key, "left_anti")
            nxt = keep.unionByName(updates.select(*nxt.columns))
        if inserts is not None:
            if evolve_schema:
                # additive evolution (Delta mergeSchema): new insert columns
                # join the snapshot schema, existing rows read NULL for them
                nxt = nxt.unionByName(inserts, allowMissingColumns=True)
            else:
                nxt = nxt.unionByName(inserts.select(*nxt.columns))
        return self.write(table, nxt, partition_by=partition_by, publish=publish)


class RunScope:
    """What `StateStore.run` yields: staging and background work for one run,
    all on the scope's executor so the scope can join them before it commits
    or aborts."""

    def __init__(self, store: StateStore, tables: list[str]):
        self._store = store
        self._tables = set(tables)
        self._pool = ThreadPoolExecutor(
            max_workers=len(tables), thread_name_prefix="state-store-run"
        )
        self._futures: list[Future] = []
        self._staged: dict[str, Future] = {}
        self.versions: dict[str, int] = {}  # table → committed version

    def submit(self, fn, *args, **kwargs) -> Future:
        """Run ``fn`` in the background; the scope joins it before it ends."""
        fut = self._pool.submit(fn, *args, **kwargs)
        self._futures.append(fut)
        return fut

    def stage(self, table: str, **changes) -> Future:
        """Stage ``table``'s next version: `apply_changes` with
        ``publish=False``, in the background. The version is published by the
        scope's `commit_run`, together with every other staged table."""
        if table not in self._tables or table in self._staged:
            raise ValueError(f"{table!r} is not an unstaged table of this run")
        fut = self.submit(
            self._store.apply_changes, table, publish=False, **changes
        )
        self._staged[table] = fut
        return fut


def next_surrogate_keys(
    df: DataFrame, start: int, key_name: str, buckets: int = 256
) -> DataFrame:
    """Mint sequence-style surrogate keys for inserts (GENETOGENE_RGD_ID_RLT_SEQ
    semantics, SURVEY.md §7): deterministic dense ids offset by the snapshot max.

    Scale shape: a single global ``row_number`` window would move the whole insert
    set to ONE partition (measured on a 1.1M-row association insert). Instead rows
    are hashed into ``buckets`` sub-partitions, numbered with a PARTITIONED window,
    and offset by per-bucket cumulative counts. The offsets are computed IN-PLAN
    (a ≤``buckets``-row aggregate + one tiny single-partition window, broadcast
    back) rather than collected to the driver: keygen stays fully lazy — no
    eager job materializing the insert lineage at plan-construction time. The
    offsets branch re-reads the input subtree inside the same job (the two
    `_skb` exchanges differ below — partial-agg vs raw rows — so Catalyst
    can't reuse one), so the bucketed frame is persist()ed HERE: persist is
    lazy (no job at construction), and it makes the dense-key guarantee hold
    for any input — an unpersisted or non-deterministic frame whose two reads
    disagreed would otherwise yield bucket offsets inconsistent with the row
    bucketing (duplicate or gapped keys with no detection). The cached blocks
    are released by the caller's usual clearCache()/unpersist hygiene; they
    are exactly the insert set, which every caller materializes anyway.
    Keys are dense in [start+1, start+n],
    deterministic for a given input set (hash-bucket + full column order,
    offsets by ascending bucket id — identical to the former driver-side
    fold), and run parallel. Correctness hashes exclude surrogate keys anyway
    (SURVEY.md §7)."""
    cols = [F.col(c) for c in df.columns]
    bucket = F.pmod(F.xxhash64(*cols), F.lit(buckets)).cast("int")
    with_bucket = df.withColumn("_skb", bucket).persist()

    w_off = Window.orderBy("_skb").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        with_bucket.groupBy("_skb")
        .agg(F.count(F.lit(1)).alias("_skn"))
        .withColumn("_skoff", F.coalesce(F.sum("_skn").over(w_off), F.lit(0)))
        .select("_skb", "_skoff")
    )

    w = Window.partitionBy("_skb").orderBy(*cols)
    return (
        with_bucket.withColumn("_skrn", F.row_number().over(w))
        .join(F.broadcast(offsets), "_skb")
        .withColumn(
            key_name,
            (F.lit(start) + F.col("_skoff") + F.col("_skrn")).cast("long"),
        )
        .drop("_skb", "_skrn", "_skoff")
    )
