"""Scaling probes, each written once: replica constructions, probe plans, the
best-of-N timer and the conf pin that ``bench.py``, ``tools/sf10_probes.py``,
``tools/make_scaled_dir.py`` and ``tools/mem_envelope.py`` share.

A scaled input is ``replicate(df, n, variant)``: replica 0 is the table
itself and replica i is ``variant(df, i)``. Two sets of variants:

- the rotation set (bench's 10x inputs and every ``make_scaled_dir`` table):
  keys offset by ``i * OFF`` (foreign keys with them, so joins stay within a
  replica), 2-letter name tags, word-rotated texts and component-rotated
  embeddings. Rotation aliases: by ``i >=`` a doc's token count (or the
  embedding dim) a replica is an exact copy, so the set is for <= 10 replicas;
- the alias-safe set (``sf10_probes``' 1x/10x/100x grid): token suffixes,
  sign flips and doubled-decimal tags, regime-preserving at any replica count
  up to 100 (see each function).
"""

from __future__ import annotations

import contextlib
import gc
import tempfile
import time

from pyspark.sql import functions as F

#: replica block width: replica i's keys are offset by ``i * OFF``
OFF = 10_000_000

#: one identical text for the hot-bucket skew legs
HOT_TEXT = " ".join(f"hotword{i % 17} filler{i % 5}" for i in range(40))


# ---------------------------------------------------------------------------
# Replica constructions
# ---------------------------------------------------------------------------

def replicate(df, n: int, variant):
    """``df`` unioned by name with ``variant(df, i)`` for i in 1..n-1."""
    out = df
    for i in range(1, n):
        out = out.unionByName(variant(df, i))
    return out


def offset(*cols: str, step: int = OFF):
    """Variant: replica i shifts ``cols`` by ``i * step``."""
    return lambda df, i: df.withColumns({c: F.col(c) + i * step for c in cols})


def tagged(key: str, name: str):
    """Variant: replica i offsets ``key`` and prefixes ``name`` with the tag
    ``chr(97 + i) * 2 + "~"``. Two tags differ in two positions, so no
    cross-replica edit-distance-1 pair exists and per-replica ER pair density
    is the original's."""
    return lambda df, i: df.withColumns({
        key: F.col(key) + i * OFF,
        name: F.concat(F.lit(chr(97 + i) * 2 + "~"), F.col(name)),
    })


def _rotate(arr, i: int):
    return F.concat(F.slice(arr, i + 1, 1 << 20), F.slice(arr, 1, i))


def rotated_words(docs, i: int):
    """Variant: replica i rotates every text by i words (``n_chars`` follows).
    Rotation keeps token adjacency, so a doc and its rotation share ~95% of
    their trigram shingles (median Jaccard 0.96 at sf0.01): every doc forms a
    clique of true near-duplicates across replicas. Bench's 10x dedup probes
    measure that workload on purpose, for continuity with their history."""
    text = F.array_join(_rotate(F.split(F.trim(F.col("text")), r"\s+"), i), " ")
    return docs.withColumns(
        {"doc_id": F.col("doc_id") + i * OFF, "text": text, "n_chars": F.length(text)}
    )


def rotated_components(emb, i: int):
    """Variant: replica i rotates every embedding by i components: norms and
    neighbourhood structure kept, different LSH buckets."""
    return emb.withColumns(
        {"vec_id": F.col("vec_id") + i * OFF, "embedding": _rotate(F.col("embedding"), i)}
    )


def evidence_tagged(rel, i: int):
    """Variant: replica i appends ``", T{i}"`` to ``data_set_name``, so the
    species flow's A2 merge unions evidence tokens instead of collapsing
    identical rows for free."""
    return rel.withColumn(
        "data_set_name", F.concat(F.col("data_set_name"), F.lit(f", T{i}"))
    )


def algorithms_tagged(lines, i: int):
    """Variant: replica i appends ``"|X{i}"`` to ``algorithms``, so
    ``methods_matched`` (part of the AGR upsert key) differs per replica and
    the incoming key space, the verdict join and the snapshot write all grow
    n-fold: the adversarial case for an upsert flow."""
    return lines.withColumn(
        "algorithms", F.concat(F.col("algorithms"), F.lit(f"|X{i}"))
    )


def suffixed_documents(spark, src: str, replicas: int):
    """Alias-safe documents: every token of replica i gets the suffix
    ``f"{i:02d}z"``. A uniform token bijection keeps shingle equality within a
    replica, so the per-replica true near-dup pair set is exactly the
    original's, and suffixed tokens collide with nothing in the alphabetic
    vocabulary, so replicas share no shingle."""
    docs = spark.read.parquet(f"{src}/documents.parquet").select("doc_id", "text")
    return replicate(docs, replicas, lambda d, i: d.withColumns({
        "doc_id": F.col("doc_id") + i * OFF,
        "text": F.regexp_replace("text", r"(\S+)", rf"$1{i:02d}z"),
    }))


def signflip_embeddings(spark, src: str, replicas: int):
    """Alias-safe embeddings: a per-replica deterministic sign-flip pattern.
    cos(Dx, Dy) = cos(x, y) for a diagonal +-1 matrix D, so intra-replica
    neighbourhoods are exactly kept while replicas land in different
    hyperplane-LSH buckets."""
    emb = spark.read.parquet(f"{src}/embeddings.parquet").select(
        "vec_id", "embedding", "label"
    )
    elem_type = emb.schema["embedding"].dataType.simpleString()

    def flip(d, i):
        def sign(x, j):
            return x * F.when(
                ((F.lit(i * 2654435761) + j * 40503) % 97) % 2 == 0, F.lit(1.0)
            ).otherwise(F.lit(-1.0))

        return d.withColumns({
            "vec_id": F.col("vec_id") + i * OFF,
            "embedding": F.transform("embedding", sign).cast(elem_type),
        })

    return replicate(emb, replicas, flip)


def tagged_customers(spark, src: str, replicas: int):
    """Alias-safe customers: names prefixed with the doubled-decimal tag
    ``str(i // 10) * 2 + str(i % 10) * 2 + "~"``. Any two such tags differ in
    >= 2 positions, so the FastSS/ER pair set stays per-replica past the 26
    replicas the 2-letter tags cover."""
    cust = spark.read.parquet(f"{src}/customer.parquet").select(
        "c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"
    )
    return replicate(cust, replicas, lambda d, i: d.withColumns({
        "c_custkey": F.col("c_custkey") + i * OFF,
        "c_name": F.concat(
            F.lit(str(i // 10) * 2 + str(i % 10) * 2 + "~"), F.col("c_name")
        ),
    }))


# ---------------------------------------------------------------------------
# Probe plans
# ---------------------------------------------------------------------------

def lsh_pairs(docs, **kw):
    """MinHash/LSH near-duplicate pairs at the ``dedup_minhash_lsh`` setting."""
    from ortholog_pipeline_spark.operators import dedup as DD

    return DD.minhash_lsh_dedup(docs, k=3, num_hashes=16, bands=4, threshold=0.5, **kw)


def er_clusters(cust) -> int:
    """Entity resolution over customers, the ``er_entity_clusters`` shape:
    nation-blocked FastSS edit-distance-1 name pairs, mapped to key edges,
    then connected components. Returns the number of clusters."""
    from ortholog_pipeline_spark.operators import components as CC
    from ortholog_pipeline_spark.operators import dedup as DD

    pairs = DD.editdist1_join(cust, "c_name", block_cols=["c_nationkey"])
    m1 = cust.select(F.col("c_name").alias("s1"), F.col("c_custkey").alias("k1"), "c_nationkey")
    m2 = cust.select(F.col("c_name").alias("s2"), F.col("c_custkey").alias("k2"), "c_nationkey")
    edges = (
        pairs.join(m1, ["s1", "c_nationkey"])
        .join(m2, ["s2", "c_nationkey"])
        .select(F.least("k1", "k2").alias("id_1"), F.greatest("k1", "k2").alias("id_2"))
    )
    return CC.connected_components(edges).groupBy("component").count().count()


def cc_edges(lineitem):
    """A bipartite graph from lineitem: order node ``u``, part node ``v``."""
    return lineitem.select(
        (F.col("l_orderkey") % 50021).alias("u"),
        (F.col("l_partkey") % 50021 + 50021).alias("v"),
    )


def star(edges):
    """The skewed twin of ``edges``: 10% of them re-pointed at node 0, the
    shape large-star/small-star exists to cut."""
    return edges.withColumn(
        "u", F.when(F.col("v") % 10 == 0, F.lit(0)).otherwise(F.col("u"))
    )


def species_flow(spark, world, rel, tag: str, src: str):
    """A runnable ``run_species_load`` over ``rel``. Each run clones a fresh
    store (hardlinks, milliseconds) from a prototype seeded here, outside any
    timing: the flow mutates its store, so every run starts from the same
    before-state."""
    from ortholog_pipeline_spark.plans.species_load import run_species_load
    from ortholog_pipeline_spark.queries_flows import RUN_TS, _seed_store

    def store():
        return _seed_store(spark, world, f"{tag}_flow_", cache_key=f"{tag}_species:{src}")

    store()
    return lambda: run_species_load(store(), rel, RUN_TS, 3, delete_threshold_pct=95.0)


def agr_flow(spark, world, lines, tag: str, src: str):
    """A runnable ``run_agr_load`` over ``lines``, seeded as `species_flow`."""
    from ortholog_pipeline_spark.plans.agr_load import run_agr_load
    from ortholog_pipeline_spark.queries_flows import RUN_TS, _seed_store

    def store():
        return _seed_store(spark, world, f"{tag}_agrflow_", cache_key=f"{tag}_agr:{src}")

    store()
    return lambda: run_agr_load(store(), lines, RUN_TS, delete_threshold_pct=100.0)


def land(df, prefix: str) -> str:
    """Write ``df`` as parquet files under a fresh temp dir; returns the dir."""
    path = tempfile.mkdtemp(prefix=prefix)
    df.write.mode("overwrite").parquet(path)
    return path


def run_stream(spark, land_dir: str, files_per_trigger: int, agg, timeout: int):
    """One ``availableNow`` query: ``agg`` over the events landed in
    ``land_dir`` into a noop sink in update mode, with a fresh checkpoint (a
    reused one would replay nothing). Returns the finished query."""
    from ortholog_pipeline_spark.streaming.sources import read_stream_events

    q = (
        agg(read_stream_events(spark, land_dir, max_files_per_trigger=files_per_trigger))
        .writeStream.format("noop")
        .outputMode("update")
        .option("checkpointLocation", tempfile.mkdtemp(prefix="probe_ckpt_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout)
    return q


#: Steady-state per-batch latency growth bar for the state-scale probe: a
#: healthy delta-commit store (RocksDB) holds ~1.0 once windows fill; >1.2
#: means commit cost is growing with TOTAL state — the rewrite-the-world
#: failure mode the probe exists to catch.
STREAM_DRIFT_BAR = 1.2


def steady_drift(batch_ms: list, skip: int = 4) -> float | None:
    """Steady-state per-batch latency growth over batches ``skip``.. (the
    first batches aggregate partially-filled day windows — structurally
    cheaper — so including them reads 1.4-1.5 on a HEALTHY store).

    Estimator: median of the last half of the steady window over the median
    of the first half. Half-MEANS read 0.86–2.26 on identical code at n=8
    steady batches (one GC spike in either half moves them ~25%). Medians
    over 20 steady commits (24 batches at files_per_trigger=2) are
    insensitive to the RocksDB maintenance spikes that land every ~10
    commits AND to GC outliers, while a genuine commit-cost-grows-with-total-
    state regression raises the whole second half's level and cannot hide
    from its median. (Theil–Sen slope fitting was tried and rejected on
    measured series: a late maintenance residual extrapolates through the
    fitted line and read up to 1.24 on series whose half-medians read
    ≤1.08.) Measured same-code spread: 0.93–1.08 across 10 repeated runs.
    None when fewer than 12 steady batches — below that no estimator
    separates drift from noise."""
    pts = [float(x) for x in batch_ms[skip:]]
    n = len(pts)
    if n < 12:
        return None

    def med(xs: list) -> float:
        ys = sorted(xs)
        m = len(ys)
        return ys[m // 2] if m % 2 else (ys[m // 2 - 1] + ys[m // 2]) / 2.0

    first, last = pts[: n // 2], pts[n // 2 :]
    base = med(first)
    if base <= 0:
        return None
    return round(med(last) / base, 2)


def stream_state_probe(
    spark, sf_dir: str, key_replicas: int = 10, n_files: int = 48,
    files_per_trigger: int = 2,
) -> dict:
    """Run the state-scale stream once and return its per-batch telemetry.

    The events keyed by USER, ``key_replicas``-fold via key offsets (~10x the
    state rows of the lifecycle probe's agg), through ``n_files /
    files_per_trigger`` watermarked commits (24: a 20-batch steady window for
    `steady_drift`). A store whose commit cost grows with TOTAL state shows
    drift; a delta-commit store stays flat. The landing is range-partitioned
    by event time: the file source consumes part files in path order, so
    batches advance THROUGH time and the watermark trails behind (a plain
    repartition mixes the whole range into every file, the watermark leaps
    to max-1h after batch 1 and every later window is dropped as late)."""
    from ortholog_pipeline_spark.queries import _t
    from ortholog_pipeline_spark.session import ROCKSDB_PROVIDER
    from ortholog_pipeline_spark.streaming.state_conf import CHANGELOG_KEY, PROVIDER_KEY

    ev = _t(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    ev = replicate(ev, key_replicas, offset("event_id", "user_id"))
    land_dir = land(ev.repartitionByRange(n_files, "ts"), "bench_state_land_")

    def by_user(stream):
        return (
            stream.withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "1 day"), "user_id")
            .agg(F.count("*").alias("n_events"), F.sum("value").alias("sum_value"))
        )

    # RocksDB with changelog checkpointing is the session default
    # (session.STREAMING_STATE_CONF) and the probe's point: each commit
    # uploads only the batch's CHANGELOG, full snapshots move to background
    # maintenance, so per-commit cost is bound by the delta, not total state.
    # Measured WITHOUT changelogs: snapshot-mode maintenance raises the
    # late-window commit level by 25-65% as state grows (half-medians read
    # 1.27-1.64 on healthy code); with them the same series holds 0.95-1.08.
    # Pinned so a session that changed either conf still measures this one.
    try:
        with pinned_conf(spark, {PROVIDER_KEY: ROCKSDB_PROVIDER, CHANGELOG_KEY: "true"}):
            t0 = time.perf_counter()
            q = run_stream(spark, land_dir, files_per_trigger, by_user, 600)
            total = round(time.perf_counter() - t0, 3)
        prog = [p for p in q.recentProgress if p.get("numInputRows", 0) > 0]
        ops = [p["stateOperators"][0]["numRowsTotal"] for p in prog]
    except Exception as ex:  # noqa: BLE001 — recorded in the artifact
        return {"error": f"{type(ex).__name__}: {ex}"[:200]}
    batch_ms = [p["durationMs"]["triggerExecution"] for p in prog]
    drift = None
    if len(batch_ms) >= 7:
        first3 = batch_ms[1:4]  # batch 0 absorbs stream start
        last3 = batch_ms[-3:]
        drift = round(sum(last3) / 3 / (sum(first3) / 3), 2)
    # last3/first3 mixes the window-fill transient into its denominator
    # (1.4-1.5 on a HEALTHY store); the pinned signal is the steady drift
    return {
        "provider": "rocksdb",
        "changelog_checkpointing": True,
        "total_sec": total,
        "n_batches": len(batch_ms),
        "batch_ms": batch_ms,
        "state_rows_final": ops[-1] if ops else None,
        "state_rows_max": max(ops, default=None),
        "latency_drift_last3_over_first3": drift,
        "latency_drift_steady_state": steady_drift(batch_ms),
        "drift_bar": STREAM_DRIFT_BAR,
    }


# ---------------------------------------------------------------------------
# Timer and conf pin
# ---------------------------------------------------------------------------

def needs_retime(prev: float | None, sec: float) -> bool:
    """Whether a best-of-2 ``sec`` earns one more sample against its history
    ``prev``: above 1.3x it, and past the regression rule's noise floor
    (history over 3 s, or more than 1 s slower). That third sample almost
    always lands back on the envelope when the deviation was a GC/JIT
    artifact, and changes nothing when it is structural (min of N only goes
    down)."""
    if not prev or sec <= 1.3 * prev:
        return False
    return prev > 3.0 or sec - prev > 1.0


def drain(spark) -> None:
    """Release what finished runs stored: stored frames are lazy checkpoints
    whose blocks go only once their Python references die and the JVM's
    ContextCleaner (which polls every 100 ms) sees them collected. Undrained,
    the 100x ER probe's second run OOMed on the first run's blocks."""
    gc.collect()
    spark.sparkContext._jvm.System.gc()
    time.sleep(0.2)


def best_of(spark, fn, runs: int = 2, prev: float | None = None):
    """``(sec, result, retimed)``: the least wall time of ``runs`` calls of
    ``fn`` (a single local-JVM run carries 2-4x noise from GC pauses and
    first-use codegen), the first call's result, and whether `needs_retime`
    against ``prev`` added one more call. Storage is drained after each."""
    best, result, done, retimed = float("inf"), None, 0, False
    while done < runs:
        t0 = time.perf_counter()
        out = fn()
        best = min(best, time.perf_counter() - t0)
        if done == 0:
            result = out
        done += 1
        if done == runs and not retimed and needs_retime(prev, best):
            runs, retimed = runs + 1, True
        drain(spark)
    return round(best, 3), result, retimed


@contextlib.contextmanager
def pinned_conf(spark, conf: dict):
    """Set ``conf`` for the body; restore every key after (unset when it had
    no value)."""
    saved = {k: spark.conf.get(k, None) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


# ---------------------------------------------------------------------------
# bench.py's probe set
# ---------------------------------------------------------------------------

def bench_probes(spark, sf_dir: str, timed, timings: dict) -> dict:
    """Run bench's scaling probes in order. ``timed(name, fn)`` records the
    best-of-N of ``fn`` into ``timings``; returns the stream-state record."""
    from ortholog_pipeline_spark.operators import components as CC
    from ortholog_pipeline_spark.operators import dedup_index as DI
    from ortholog_pipeline_spark.operators import similarity as SIM
    from ortholog_pipeline_spark.queries import _t
    from ortholog_pipeline_spark.queries_flows import _agr_world, _species_world
    from ortholog_pipeline_spark.sources.state import StateStore
    from ortholog_pipeline_spark.streaming.windows import tumbling_agg

    def read(table, *cols):
        return spark.read.parquet(f"{sf_dir}/{table}.parquet").select(*cols)

    # dedup growth against dedup_minhash_lsh: 10x rotated documents
    docs10 = replicate(
        spark.read.parquet(f"{sf_dir}/documents.parquet"), 10, rotated_words
    ).select("doc_id", "text")
    timed("dedup_minhash_lsh_10x", lambda: lsh_pairs(docs10).count())

    # ANN corpus-side growth of the probe join: 10x rotated embeddings, the
    # same 20 query vectors
    emb = read("embeddings", "vec_id", "embedding")
    emb10 = replicate(emb, 10, rotated_components)
    q20 = emb.filter(F.col("vec_id") < 20)
    timed("ann_lsh_topk_10x", lambda: SIM.lsh_topk(emb10, q20, k=10).count())

    # stored-index probe: the band index is built once (untimed) and ONLY the
    # batch probe is timed: per-ingest cost is batch-proportional, against
    # dedup_incremental_minhash's full recompute
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    with tempfile.TemporaryDirectory() as td:
        store = StateStore(spark, td)
        DI.build_dedup_index(store, docs.filter(F.col("doc_id") % 10 != 7))
        batch = docs.filter(F.col("doc_id") % 10 == 7)
        timed(
            "dedup_index_probe",
            lambda: DI.probe_dedup_index(store, batch, threshold=0.5).count(),
        )

    # the heaviest real entries at 10x, replicated structure-preservingly so
    # the ratio measures volume, not planted duplicates
    timed(
        "dedup_cluster_assign_10x",
        lambda: CC.dedup_clusters(docs10, lsh_pairs(docs10).select("id_1", "id_2")).count(),
    )
    cust10 = replicate(
        read("customer", "c_custkey", "c_name", "c_nationkey"), 10, tagged("c_custkey", "c_name")
    )
    timed("er_entity_clusters_10x", lambda: er_clusters(cust10))

    # k-core peel over 10 vertex-disjoint copies of the hashed graph. The
    # edge sets are stored first (untimed): a real run peels a stored graph,
    # and a lazy 10-way distinct-union inside three unrolled peel rounds
    # explodes Catalyst's constraint propagation (driver OOM at 8g). The 1x
    # stored twin makes the ratio peel-vs-peel: g_kcore_peel spends most of
    # its time deriving the edge set from lineitem.
    li = read("lineitem", "l_orderkey", "l_partkey")
    e0 = (
        li.select(
            F.least(F.col("l_orderkey") % 2000, F.col("l_partkey") % 2000).alias("u"),
            F.greatest(F.col("l_orderkey") % 2000, F.col("l_partkey") % 2000).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )

    def kcore(path):
        def run():
            edges = spark.read.parquet(path)
            for _ in range(3):
                deg = (
                    edges.select(F.col("u").alias("node"))
                    .unionByName(edges.select(F.col("v").alias("node")))
                    .groupBy("node")
                    .agg(F.count(F.lit(1)).alias("deg"))
                    .filter(F.col("deg") >= 60)
                    .select("node")
                )
                edges = edges.join(
                    F.broadcast(deg.withColumnRenamed("node", "u")), "u", "left_semi"
                ).join(F.broadcast(deg.withColumnRenamed("node", "v")), "v", "left_semi")
            edges.count()

        return run

    with tempfile.TemporaryDirectory() as td:
        e0.write.parquet(f"{td}/edges1")
        replicate(e0, 10, offset("u", "v", step=2000)).write.parquet(f"{td}/edges10")
        timed("g_kcore_peel_1x_stored", kcore(f"{td}/edges1"))
        timed("g_kcore_peel_10x", kcore(f"{td}/edges10"))

    # flagship flows at 1x and 10x. Species: near-flat expected, the merge
    # collapses the stream at the first shuffle and everything downstream is
    # keyed on the bounded (gene x species) space. AGR: sublinear but
    # growing, bounded by the sync join + write, not by resolution.
    world = _species_world(spark, sf_dir)
    rel = world["relations"]
    timed("flow_species_load_1x_plan", species_flow(spark, world, rel, "bench", sf_dir))
    rel10 = replicate(rel, 10, evidence_tagged)
    timed("flow_species_load_10x_plan", species_flow(spark, world, rel10, "bench", sf_dir))
    aworld = _agr_world(spark, sf_dir)
    lines = aworld["lines"]
    timed("flow_agr_load_1x_plan", agr_flow(spark, aworld, lines, "bench", sf_dir))
    lines10 = replicate(lines, 10, algorithms_tagged)
    timed("flow_agr_load_10x_plan", agr_flow(spark, aworld, lines10, "bench", sf_dir))

    # micro-batch lifecycle (offset log, state commits, watermark): the
    # events as 16 files, 4 per trigger, through the watermarked tumbling agg
    # — what the batch-mode stream_* entries cannot see. On the session's
    # default store (RocksDB + changelog checkpointing), hence the key.
    events = _t(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    land_dir = land(events.repartition(16), "bench_stream_land_")
    timed(
        "stream_microbatch_availablenow_rocksdb",
        lambda: run_stream(
            spark, land_dir, 4,
            lambda s: tumbling_agg(s, window_size="1 day", watermark="1 hour"), 300,
        ),
    )

    # state scale: best-of-2 on the DRIFT as well as the time — a real
    # commit-cost-grows-with-state regression shows in EVERY run, so the
    # flag needs min(drift over two runs) > bar; both series are kept
    runs = [stream_state_probe(spark, sf_dir) for _ in range(2)]
    runs = [r for r in runs if "error" not in r] or runs[:1]
    stream_state = min(
        runs, key=lambda r: r.get("latency_drift_steady_state") or float("inf")
    )
    stream_state["drift_both_runs"] = [r.get("latency_drift_steady_state") for r in runs]
    timings["stream_state_scale_24c"] = min(r.get("total_sec", 0.0) for r in runs)

    # skewed world: ~10% of rows on ONE hot key through the three shuffle
    # shapes that carry the engine's heaviest keys, AQE skew handling at its
    # session defaults, hot vs uniform on identical volumes:
    #  * join: 10% of lineitem rows remapped to orderkey 1 (one reducer key
    #    carries 60k rows at sf0.1), shuffle-merge so the AQE skew-split
    #    path is what runs;
    #  * CC: the star (10% of edges at node 0);
    #  * MinHash: 10% of docs get HOT_TEXT, one band bucket at 10% occupancy
    #    — real work, so this leg measures hot-bucket handling.
    def skew(hot: bool):
        def run():
            li = read("lineitem", "l_orderkey", "l_partkey", "l_extendedprice")
            d = read("documents", "doc_id", "text")
            if hot:
                li = li.withColumn(
                    "l_orderkey",
                    F.when(F.col("l_partkey") % 10 == 0, F.lit(1)).otherwise(F.col("l_orderkey")),
                )
                d = d.withColumn(
                    "text",
                    F.when(F.col("doc_id") % 10 == 3, F.lit(HOT_TEXT)).otherwise(F.col("text")),
                )
            edges = star(cc_edges(li)) if hot else cc_edges(li)
            ords = read("orders", "o_orderkey", "o_custkey")
            li.hint("SHUFFLE_MERGE").join(ords, li.l_orderkey == ords.o_orderkey).groupBy(
                "o_custkey"
            ).agg(F.sum("l_extendedprice")).count()
            CC.connected_components(
                edges.filter(F.col("u") != F.col("v"))
                .distinct()
                .withColumnsRenamed({"u": "id_1", "v": "id_2"})
            ).count()
            lsh_pairs(d).count()

        return run

    timed("skew_uniform_probe", skew(False))
    timed("skew_hotkey_probe", skew(True))
    return stream_state
