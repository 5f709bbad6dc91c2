"""Ortholog-load benchmark runner.

    python3 perfbench/run.py --workload rat_daily --seed 1 --seconds 1 --trace 0

Workloads (see perfbench/README.md): ``rat_daily`` (one ``--species rat``
load), ``agr_daily`` (one ``--agr-orthologs`` load) and ``species_sweep``
(every covered mammal back to back). A run starts one session the way the CLI
does, generates (or reuses) the inputs of ``--seed``, makes one cold load
(the first in the process, what a one-shot CLI invocation pays), then warm
loads back to back (a closed loop with one client) until ``--seconds`` have
passed since the cold load started. Every load starts from a fresh hardlink
clone of the seeded store and is checked after its timed window.

``--trace 0`` prints the end-to-end metrics, which describe the cold load.
``--trace 1`` turns on the Spark event log and span recording, brackets one
traced warm load between untraced ones, and prints the per-layer metrics.
The last stdout line is one JSON object with
the keys ``correct``, ``attempted``, ``failed`` and ``metrics``. Everything
the run writes goes under ``.perfbench_work/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
APP_NAME = "ortholog-pipeline-run"  # the CLI's session name
MB = 1024 * 1024
WORKLOADS = ("rat_daily", "agr_daily", "species_sweep")


def since_process_start() -> float:
    """Seconds since this process was created (/proc start time)."""
    with open("/proc/self/stat", "rb") as f:
        start_ticks = int(f.read().rsplit(b")", 1)[1].split()[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / os.sysconf("SC_CLK_TCK")


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


class Runner:
    """The loads of one run, their checks and their failure count."""

    def __init__(self, workload: str, seed: int, expected: dict, run_dir: str):
        self.workload = workload
        self.expected = expected.get(workload, {}).get(str(seed))
        self.run_dir = run_dir
        self.attempted = self.failed = 0
        self.digests: list[str] = []
        self.notes: list[str] = []

    def load(self, spark, fx: str, meta: dict):
        """One checked load; None when it raised."""
        import loads

        self.attempted += 1
        store = os.path.join(self.run_dir, f"store{self.attempted}")
        loads.clone_store(os.path.join(fx, "store"), store)
        landing = os.path.join(fx, "landing")
        try:
            if self.workload == "agr_daily":
                ld = loads.agr_load(spark, landing, store, meta["agr_in_scope"])
                fails, digest = loads.check_agr(ld, meta)
            else:
                species = ["rat"] if self.workload == "rat_daily" else meta["species"]
                ld = loads.species_load(spark, landing, store, species)
                fails, digest = loads.check_species(ld, meta)
        except Exception as e:  # a failed load counts against error_rate
            self.failed += 1
            self.notes.append(f"load {self.attempted} raised {type(e).__name__}: {e}")
            return None
        # every load starts from the same clone with the same run_ts
        if self.digests and digest != self.digests[0]:
            fails.append(f"digest {digest} differs from this run's first load")
        if self.expected is not None and digest != self.expected:
            fails.append(f"digest {digest} differs from the recorded {self.expected}")
        self.digests.append(digest)
        if fails:
            self.failed += 1
            self.notes.append(f"load {self.attempted}: " + "; ".join(fails))
        return ld


def shape_counts(ld, returns: dict) -> tuple[dict, int]:
    """Counts read from the result objects after the timed window, and the
    number of rows the load inserted, deleted or rewrote in place. The counts
    repeat exactly for a seed and pin the workload's churn share."""
    import loads

    c = dict.fromkeys((
        "rows.relations_in", "rows.resolved", "rows.dropped", "rows.closed",
        "rows.picks", "verdicts.insert", "verdicts.match", "verdicts.delete_existing",
        "verdicts.downgrade", "verdicts.stale", "assoc.insert", "assoc.update",
        "assoc.delete", "agr.inserted", "agr.updated", "agr.stale_deleted",
        "agr.minted", "agr.unresolved"), 0)
    changed = 0
    for name, n, res in ld.results:
        if name == "agr":
            before = ld.before
            minted = (loads.table_rows(ld.store_dir, "genes")
                      - loads.table_rows(ld.store_dir, "genes", before["genes"]))
            c["agr.inserted"] += res.n_inserted
            c["agr.updated"] += res.n_updated
            c["agr.stale_deleted"] += res.n_stale_deleted
            c["agr.minted"] += minted
            c["agr.unresolved"] += res.unresolved.count()
            # every existing row is either deleted or re-stamped; each mint
            # adds a gene, an id and an xref row
            changed += res.n_inserted + 3 * minted + loads.table_rows(
                ld.store_dir, "agr_orthologs", before["agr_orthologs"])
            continue
        dropped = res.resolved_dropped.count()
        c["rows.relations_in"] += n
        c["rows.dropped"] += dropped
        c["rows.resolved"] += n - dropped
        c["rows.picks"] += res.picks.count()
        for r in res.verdicts.groupBy("verdict").count().collect():
            c["verdicts." + r["verdict"].lower()] += r["count"]
        for r in res.assoc_verdicts.groupBy("sync_verdict").count().collect():
            if "assoc." + r["sync_verdict"] in c:
                c["assoc." + r["sync_verdict"]] += r["count"]
        changed += res.inserted.count() + res.deleted.count()
    for df in returns.get("operators.grouping.complement_closure", []):
        c["rows.closed"] += df.count()
    changed += c["verdicts.match"] + c["assoc.insert"] + c["assoc.update"] + c["assoc.delete"]
    return c, changed


def cache_after_load(spark) -> dict:
    """Block-manager contents, observed from outside the program."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    cached = [i for i in infos if i.numCachedPartitions() > 0]
    return {
        "spark.cache_mb_after_load": sum(i.memSize() + i.diskSize() for i in cached) / MB,
        "spark.cached_rdds_after_load": len(cached),
    }


def layer_metrics(ld, rec, log, epoch_off: float, cores: int, meta: dict) -> dict:
    """Per-layer metrics of one traced load from its spans, the event log and
    the store's version directories."""
    import eventlog
    import loads
    import spans

    mine = rec.of_run(ld.run_id)

    def named(prefix):
        return [(s["start"], s["end"]) for s in mine if s["name"].startswith(prefix)]

    # the timed window: first call into sources.files to the last flow return
    flows = named("plans.species_load.run_") + named("plans.agr_load.run_")
    t0 = min(a for a, _b in named("sources.files."))
    t1 = max(b for _a, b in flows)
    ev = eventlog.window(log, t0 + epoch_off, t1 + epoch_off, cores)
    jobs = [(a - epoch_off, b - epoch_off) for a, b in ev["job_intervals"]]
    flow_s = spans.union_s(flows)
    busy = sum(spans.union_s(spans.clip(jobs, a, b)) for a, b in flows)
    src = ("agr",) if ld.results[0][0] == "agr" else ("hcop", "ncbi")
    file_lines = sum(meta["file_lines"][s] for s in src)
    passes = ev["csv_bytes_read"] / sum(meta["file_bytes"][s] for s in src)
    w = loads.written(ld)
    out = {
        "sources.files.scan_s": sum(b - a for a, b in named("sources.files.check_sanity_floor")),
        "sources.files.rows_read": passes * file_lines,
        "sources.files.rows_kept": ld.rows_in,
        "sources.files.keep_ratio": ld.rows_in / (passes * file_lines) if passes else 0.0,
        "sources.files.passes": passes,
        "plans.flow_s": flow_s,
        "driver.build_s": flow_s - busy,
        "spark.job_busy_s": busy,
        "operators.build_s": spans.union_s(named("operators.")),
        "operators.iterate.checkpoints": len(named("operators.iterate.round_checkpoint")),
        "sources.state.apply_changes_s": spans.union_s(
            named("sources.state.StateStore.apply_changes")),
        "sources.state.rows_written": w["rows"],
        "sources.state.mb_written": w["bytes"] / MB,
        "sources.state.files_written": w["files"],
        "sources.state.write_amplification": w["rows"] / ld.changed if ld.changed else 0.0,
        "sources.state.store_mb": loads.store_bytes(ld.store_dir) / MB,
    }
    for k in ("jobs", "stages", "tasks", "slot_utilization", "executor_run_s",
              "executor_cpu_s", "shuffle_write_mb", "shuffle_read_mb", "spill_mb", "gc_s"):
        out["spark." + k] = ev[k]
    out.update(ld.cache)
    out.update(ld.shape)
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # everything the run writes stays in the checkout
    run_dir = os.path.join(WORK, "runs", str(os.getpid()))
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count()))
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    sys.path.insert(0, ROOT)
    try:
        from ortholog_pipeline_spark import session
    except ImportError as e:
        print(f"perfbench: the program is not importable from {ROOT}: {e}", file=sys.stderr)
        shutil.rmtree(run_dir, ignore_errors=True)
        return 2
    import eventlog
    import gen
    import spans

    with open(os.path.join(HERE, "expected.json")) as f:
        runner = Runner(args.workload, args.seed, json.load(f)["digests"], run_dir)
    cores = int(os.environ["SPARK_GRAFT_CPUS"])

    rec = spans.Recorder() if args.trace else None
    log_dir = os.path.join(run_dir, "eventlog")
    extra = None
    if rec is not None:
        os.makedirs(log_dir)
        extra = eventlog.conf(log_dir)
        spans.install(rec)
    t = time.perf_counter()
    spark = session.get_spark(app_name=APP_NAME, extra_conf=extra)
    get_spark_s = time.perf_counter() - t
    setup_s = since_process_start()
    epoch_off = time.time() - time.perf_counter()
    if rec is not None:
        rec.unwrap()

    warm, traced, cold = [], [], None
    try:
        fx, meta = gen.fixture(args.seed, os.path.join(WORK, "fixtures"), ROOT)
        t_start = time.perf_counter()
        cold = runner.load(spark, fx, meta)
        while runner.failed < 3:
            # traced runs bracket each traced load between untraced ones
            # (U, T, U), so trace.overhead is not skewed by JIT warm-up
            enough = rec is None or len(warm) > len(traced) > 0
            if enough and time.perf_counter() - t_start >= args.seconds:
                break
            if rec is None or len(warm) <= len(traced):
                ld = runner.load(spark, fx, meta)
                if ld is not None:
                    warm.append(ld)
                continue
            ld_id = f"{args.workload}-seed{args.seed}-load{runner.attempted + 1}"
            spans.install(rec)
            rec.keep = {"operators.grouping.complement_closure"}
            try:
                with rec.run(ld_id):
                    ld = runner.load(spark, fx, meta)
            finally:
                rec.unwrap()
            if ld is not None:
                ld.run_id = ld_id
                ld.cache = cache_after_load(spark)
                traced.append(ld)
        rss = peak_rss_mb(os.getpid()) + peak_rss_mb(
            spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
        if traced:
            traced[0].shape, traced[0].changed = shape_counts(traced[0], rec.returns)
    finally:
        spark.stop()
        stop_gateway()

    w = args.workload
    load_s = median([x.seconds for x in warm])
    if args.trace == 0:
        # the cold load is what every CLI invocation pays; a warm load after
        # it would add a third to half to the run, which a full benchmark
        # pass cannot afford, so warm timings come from the traced run
        metrics = {
            "cold_load_s": (cold.seconds if cold else 0.0, "s"),
            "rows_per_s": (cold.rows_in / cold.seconds if cold else 0.0, "rows/s"),
            "setup_s": (setup_s, "s"),
        }
        if warm:
            print(f"{args.workload}: warm load_s {load_s:.6g} s over {len(warm)} loads")
    else:
        # peak_rss_mb spreads too far between runs for a bound (the JVM
        # sizes its heap adaptively), so it is a layer reading
        layers = {"load_s": load_s, "peak_rss_mb": rss}
        if traced and warm:
            log = eventlog.parse(eventlog.find_log(log_dir))
            layers.update(layer_metrics(traced[0], rec, log, epoch_off, cores, meta))
            layers["session.get_spark_s"] = get_spark_s
            layers["trace.overhead"] = (median([x.seconds for x in traced])
                                        / median([x.seconds for x in warm]))
            rec.dump(os.path.join(WORK, f"spans-{w}-seed{args.seed}.jsonl"), epoch_off)
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            units = {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}
        metrics = {k: (layers.get(k, 0.0), u) for k, u in units.items()}
    shutil.rmtree(run_dir, ignore_errors=True)

    for note in runner.notes:
        print(f"{w}: {note}", file=sys.stderr)
    error_rate = runner.failed / runner.attempted if runner.attempted else 1.0
    print(f"{w}: seed {args.seed}, {runner.attempted} loads ({len(warm)} warm"
          f"{f', {len(traced)} traced' if args.trace else ''}), "
          f"digest {runner.digests[0] if runner.digests else '-'}")
    print(f"{w}: error_rate {error_rate:.6g} ratio")
    for k, (v, u) in metrics.items():
        print(f"{w}: {k} {v:.6g} {u}")
    ok = runner.failed == 0 and runner.attempted > 0
    print(json.dumps({
        "correct": ok,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }), flush=True)
    return 0 if ok else 1


def stop_gateway() -> None:
    """End the session's JVM and wait for it, so no process outlives the run."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if proc is None:
        return
    gw.shutdown()
    proc.stdin.close()  # the gateway JVM exits at the end of its stdin
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


if __name__ == "__main__":
    sys.exit(main())
