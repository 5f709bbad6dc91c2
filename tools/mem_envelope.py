"""Constrained-memory envelope: the standard bench runs with an 8g driver,
but a 100 TB cluster gives each executor a few GB — a plan that silently
depends on a fat heap (oversized broadcasts, driver-side tree blowups,
un-spillable aggregation state) passes the former and dies on the latter.
This reruns the 15 heaviest REGISTRY entries of the last recorded bench run
at the sf under local[8] + a 2 GiB heap (shared driver+executor in local
mode: ~256 MB per task slot, executor-grade pressure) and asserts
completion, plus two constrained-memory twins (below). Timings go to
MEM_ENVELOPE.json — NOT to bench_history.json, so the envelope run can't
poison the regression ratios.

Run: python tools/mem_envelope.py   (env: SPARK_GRAFT_SF_DIR; exit 1 if any
entry fails)
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from bench import read_history  # noqa: E402
from ortholog_pipeline_spark import queries as Q  # noqa: E402
from ortholog_pipeline_spark.oracle import git_head  # noqa: E402
from ortholog_pipeline_spark.session import get_spark  # noqa: E402
from tools import probes as P  # noqa: E402


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").split("sf")[-1]
    prev = read_history(sf)[1].get("queries", {})
    registry = Q.queries()
    # heaviest registry entries by the last recorded run (probes are inline
    # constructions, not registry entries — the flows, the big dedup/graph
    # entries, and the heavy stats land here, which is the point: these are
    # the plans whose memory shape matters)
    heavy = [n for n, _ in sorted(prev.items(), key=lambda kv: -kv[1]) if n in registry][:15]
    if not heavy:  # no history at this sf: representative fallback
        heavy = [
            "flow_species_load", "flow_agr_load", "flow_corpus_prep",
            "dedup_cluster_assign", "dedup_minhash_lsh", "er_entity_clusters",
            "dedup_incremental_minhash", "g_pagerank_fixedpoint",
            "g_kcore_peel", "j_bloom_prefilter", "ann_lsh_topk",
            "j_deep_join_revenue", "a_validation_suite", "g_triangle_count",
            "flow_homologene",
        ]
        heavy = [n for n in heavy if n in registry][:15]
    spark = get_spark(
        app_name="opspark-mem-envelope",
        master="local[8]",
        shuffle_partitions=32,
        extra_conf={"spark.driver.memory": "2g"},
    )
    actual_mem = spark.conf.get("spark.driver.memory", "unknown")
    # the conf value merely echoes the REQUEST: if a JVM gateway already
    # existed in this process the 2g setting is silently ignored and the
    # artifact would still claim a 2 GiB envelope. Read the real heap and
    # FAIL the run if the constrained heap did not take effect.
    heap_bytes = int(
        spark.sparkContext._jvm.java.lang.Runtime.getRuntime().maxMemory()
    )
    if not (0.8 * 2**30 < heap_bytes < 3 * 2**30):
        print(
            json.dumps(
                {
                    "metric": "mem_envelope_total",
                    "error": "constrained heap did not take effect",
                    "driver_heap_max_bytes": heap_bytes,
                }
            )
        )
        spark.stop()
        sys.exit(1)
    # warmup + best-of-2, the bench's estimator: a single cold run bills
    # one-time costs to whichever entry goes first — measured 127.7 s for
    # flow_species_load cold (codegen + seed-prototype build) vs 11.8 s
    # steady-state at the same 2g/local[8]; the envelope claim is about the
    # PLAN's memory shape, not fixture setup
    registry["a4_pricing_summary"](spark, sf_dir).count()
    timings: dict[str, float] = {}
    failures: dict[str, str] = {}
    for name in heavy:
        try:
            timings[name] = P.best_of(spark, lambda: registry[name](spark, sf_dir).count())[0]
        except Exception as ex:  # noqa: BLE001 — the artifact records the failure
            failures[name] = f"{type(ex).__name__}: {ex}"[:300]
    # Constrained-memory twins — the two plans whose memory claims were
    # arguments rather than measurements:
    #
    # (a) hot-variant-key FastSS: the SHUFFLE_HASH candidate join's build
    # side can't spill, and the map-side neighborhood dedup does NOT bound
    # cross-string fan-in on a shared variant key. This twin plants ~500
    # DISTINCT customer names that all delete to one common string (insert
    # one char into a fixed 19-char base at every position), i.e. one
    # variant key carrying a ~500-row build group + ~125k candidate pairs
    # through a single partition's hash map — measured here under the 2 GiB
    # heap, for both join strategies (the spillable "merge" fallback too).
    probes: dict[str, object] = {}
    from ortholog_pipeline_spark.operators import dedup as DD

    base = "abcdefghijklmnopqrs"  # 19 distinct chars: no identical-run aliasing
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        "c_custkey", "c_name", "c_nationkey"
    )
    # insert position/char derive from a HASH of the key, not the key itself:
    # the %100<5 selector below fixes c_custkey mod 100, and any modular
    # derivation would correlate with it (measured: position collapsed to 5
    # values, fan-in 130 instead of ~500)
    hot_name = F.expr(
        f"concat(substring('{base}', 1, pmod(hash(c_custkey), 20)), "
        f"char(97 + pmod(hash(c_custkey * 31 + 7), 26)), "
        f"substring('{base}', pmod(hash(c_custkey), 20) + 1, 19))"
    )
    skew_cust = cust.withColumn(
        "c_name",
        F.when(F.col("c_custkey") % 100 < 5, hot_name).otherwise(F.col("c_name")),
    )
    for strategy in ("shuffle_hash", "merge"):
        key = f"fastss_hot_variant_{strategy}"
        try:
            t0 = time.perf_counter()
            n = DD.editdist1_join(
                skew_cust, "c_name", candidate_join=strategy
            ).count()
            probes[key] = {
                "sec": round(time.perf_counter() - t0, 3),
                "pairs": n,
            }
        except Exception as ex:  # noqa: BLE001
            failures[key] = f"{type(ex).__name__}: {ex}"[:300]

    # (b) RocksDB state-scale stream under the constrained heap: 1M events
    # through 24 watermarked micro-batch commits — state lives off-heap in
    # RocksDB, so the probe pins that the commit lifecycle itself doesn't
    # depend on a fat driver.
    try:
        ss = P.stream_state_probe(spark, sf_dir)
        if "error" in ss:
            failures["stream_state_scale"] = str(ss["error"])
        else:
            probes["stream_state_scale"] = {
                k: ss.get(k)
                for k in (
                    "provider",
                    "total_sec",
                    "n_batches",
                    "latency_drift_steady_state",
                )
            }
    except Exception as ex:  # noqa: BLE001
        failures["stream_state_scale"] = f"{type(ex).__name__}: {ex}"[:300]

    artifact = {
        "metric": "mem_envelope_total",
        "git_head": git_head(),
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "sf": sf,
        "config": {
            "master": "local[8]",
            "driver_memory_requested": "2g",
            "driver_memory_effective": actual_mem,
            "driver_heap_max_bytes": heap_bytes,
            "shuffle_partitions": 32,
        },
        "n_queries": len(heavy),
        "queries": timings,
        "probes": probes,
        "failures": failures,
        "vs_full_box": {
            n: round(timings[n] / prev[n], 2)
            for n in timings
            if n in prev and prev[n] > 0
        },
    }
    with open(os.path.join(REPO, "MEM_ENVELOPE.json"), "w") as fh:
        json.dump(artifact, fh, indent=1)
    print(json.dumps(artifact, separators=(",", ":")))
    spark.stop()
    if failures:
        sys.exit(1)


if __name__ == "__main__":
    main()
