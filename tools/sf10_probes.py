"""100x-regime probes for the scale-critical operator families (VERDICT r5
item 2) + the quality-floor computations measured at the probe dir.

The 10x probes in bench.py and the ~sf1 certification pin one decade of
scaling; the brief's bar is 100x. This tool materializes a ~sf10 probe dir
(100 replicas of sf0.1 — documents / embeddings / customer ONLY, the tables
feeding the MinHash, connected-components/ER, and species-flow paths; the
NOTES.md lesson applies: worlds derived via modular arithmetic from raw keys
alias under key-offset replication, so nothing else is scaled) and measures
the SAME operators at 1x / 10x / 100x under one replica construction, so the
two growth ratios are like-for-like.

Replica construction — the bench rotation scheme does NOT survive 100
replicas (documents are 10-99 tokens: rotation by i >= n_tokens aliases to an
EXACT copy, and even rotation-by-1 keeps ~95% trigram overlap), so this tool
uses constructions that are regime-preserving at ANY replica count:

- documents: every token gets a per-replica fixed-width suffix ("07z").
  A uniform token bijection preserves shingle EQUALITY within a replica, so
  per-replica TRUE near-dup pair structure is EXACTLY that of the original
  corpus; cross-replica shingle overlap is zero (the synthetic vocabulary is
  alphabetic, suffixed tokens collide with nothing). The REPORTED pair count
  is banded-LSH catch, a per-replica probabilistic draw over the rehashed
  shingles, so it is checked against R * n_pairs(1) within 10% (the
  per-replica catch variance averages out across replicas) and the result is
  recorded as `linearity_ok` rather than raised mid-run.
- embeddings: per-replica deterministic sign-flip pattern. cos(Dx, Dy) =
  cos(x, y) for any diagonal +-1 matrix D, so intra-replica neighborhoods are
  exactly preserved (brute-force top-k per replica is the original's, id-
  shifted) while replicas land in different hyperplane-LSH buckets. Unlike
  component rotation this cannot alias (rotation by i >= dim=64 is identity).
- customer: names prefixed with a doubled-decimal tag (str(i//10)*2 +
  str(i%10)*2 + "~"): any two distinct tags differ in >= 2 positions, so no
  cross-replica edit-distance-1 pairs exist and per-replica FastSS pair
  density stays that of the original (same guarantee the 2-letter bench tags
  give, extended past 26 replicas).
- species-flow relations: evidence-variant replicas (per-replica
  data_set_name tag), the same construction bench.py uses — the A2
  dedup-merge does real token-union work instead of collapsing for free.
  The 100-way union is MATERIALIZED to parquet before the timed flow run
  (the k-core lesson: a wide lazy union inside a deep DAG explodes Catalyst
  constraint propagation).

Skew leg: the CC star probe (10% of edges re-pointed at node 0) scales
linearly and runs at the full 100x corpus. The MinHash hot-bucket leg plants
a FIXED 500-document identical-text cluster (same absolute hot-bucket load as
bench.py's sf0.1 probe): a *fractional* hot cluster is quadratic in the
OUTPUT (C(50k, 2) = 1.25e9 true pairs at 10% of 500k docs) — a property of
the pair-list semantics, not of the implementation — so holding the cluster
size constant isolates what the probe is for: skewed-shuffle handling.

Emits SF10_PROBES.json at the repo root: wall times per scale, growth
ratios, pair/cluster counts, quality floors AT the 100x dir, skew ratio,
git HEAD, elapsed. Run:

    python tools/sf10_probes.py            # ~15-25 min end to end
    python tools/sf10_probes.py --replicas 10 --dir /tmp/sf10x_smoke

`floors(spark, sf_dir)` is importable: the ANN recall@10 and MinHash
completeness floors of tests/test_scale_floors.py, returned as values so the
probe artifact carries the numbers.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

OFF = 10_000_000


# ---------------------------------------------------------------------------
# Quality floors (mirrored by tests/test_scale_floors.py — keep the two in
# sync).
# ---------------------------------------------------------------------------

def floors(spark, sf_dir: str) -> dict:
    """ANN recall@10 (2-bit multiprobe LSH vs brute truth, 20 queries) and
    MinHash/LSH candidate completeness vs exact ground truth on the 1/97
    doc_id slice (slice design of queries/slice_cert.py: exact truth stays
    affordable because only the LEFT side is sliced)."""
    from ortholog_pipeline_spark.operators import dedup as DD
    from ortholog_pipeline_spark.operators import similarity as SIM

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 20)
    brute = {
        (r.query_id, r.vec_id) for r in SIM.brute_force_topk(emb, q, k=10).collect()
    }
    lsh2 = {
        (r.query_id, r.vec_id)
        for r in SIM.lsh_topk(emb, q, k=10, multiprobe_bits=2).collect()
    }
    recall = len(brute & lsh2) / len(brute) if brute else None

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    with_sh = docs.select(
        "doc_id", DD.word_shingles("text", 3).alias("shingles")
    ).filter(F.size("shingles") > 0)
    posting = with_sh.select("doc_id", F.explode("shingles").alias("shingle"))
    posting_a = posting.filter(F.col("doc_id") % 97 == 0)
    pairs = (
        posting_a.alias("a")
        .join(posting.alias("b"), "shingle")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(F.col("a.doc_id").alias("id_1"), F.col("b.doc_id").alias("id_2"))
        .agg(F.count("*").alias("n_common"))
    )
    sizes = with_sh.select("doc_id", F.size("shingles").alias("sz"))
    truth = {
        (r.id_1, r.id_2)
        for r in (
            pairs.join(
                sizes.withColumnsRenamed({"doc_id": "id_1", "sz": "sz_1"}), "id_1"
            )
            .join(sizes.withColumnsRenamed({"doc_id": "id_2", "sz": "sz_2"}), "id_2")
            .filter(
                F.col("n_common")
                / (F.col("sz_1") + F.col("sz_2") - F.col("n_common"))
                >= 0.5
            )
            .select("id_1", "id_2")
            .collect()
        )
    }
    completeness = None
    if truth:
        found = {
            (r.id_1, r.id_2)
            for r in DD.minhash_lsh_dedup(
                docs, k=3, num_hashes=16, bands=4, threshold=0.5
            )
            .filter(F.col("id_1") % 97 == 0)
            .select("id_1", "id_2")
            .collect()
        }
        completeness = len(truth & found) / len(truth)
    return {
        "ann_recall_at10": round(recall, 4) if recall is not None else None,
        "minhash_completeness": (
            round(completeness, 4) if completeness is not None else None
        ),
        "n_true_pairs": len(truth),
    }


# ---------------------------------------------------------------------------
# Regime-preserving replica constructions (safe at any replica count <= 100).
# ---------------------------------------------------------------------------

def suffixed_documents(spark, src: str, replicas: int):
    """Per-replica token-suffix variants: exact intra-replica pair structure,
    zero cross-replica shingle overlap (see module docstring)."""
    docs = spark.read.parquet(f"{src}/documents.parquet").select("doc_id", "text")
    parts = [docs]
    for i in range(1, replicas):
        suffixed = F.regexp_replace("text", r"(\S+)", rf"$1{i:02d}z")
        parts.append(
            docs.select(
                (F.col("doc_id") + i * OFF).alias("doc_id"),
                suffixed.alias("text"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def signflip_embeddings(spark, src: str, replicas: int):
    """Per-replica deterministic sign flips: intra-replica cosines exactly
    preserved, replicas scattered across hyperplane-LSH buckets."""
    emb = spark.read.parquet(f"{src}/embeddings.parquet")
    elem_type = emb.schema["embedding"].dataType.simpleString()
    def _flip(i: int):
        return lambda x, j: x * F.when(
            ((F.lit(i * 2654435761) + j * 40503) % 97) % 2 == 0, F.lit(1.0)
        ).otherwise(F.lit(-1.0))

    parts = [emb.select("vec_id", "embedding", "label")]
    for i in range(1, replicas):
        flipped = F.transform("embedding", _flip(i)).cast(elem_type)
        parts.append(
            emb.select(
                (F.col("vec_id") + i * OFF).alias("vec_id"),
                flipped.alias("embedding"),
                "label",
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def tagged_customers(spark, src: str, replicas: int):
    """Doubled-decimal name tags: pairwise tag edit distance >= 2, so the
    FastSS/ER pair set is exactly per-replica."""
    cust = spark.read.parquet(f"{src}/customer.parquet").select(
        "c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"
    )
    parts = [cust]
    for i in range(1, replicas):
        tag = str(i // 10) * 2 + str(i % 10) * 2 + "~"
        parts.append(
            cust.select(
                (F.col("c_custkey") + i * OFF).alias("c_custkey"),
                F.concat(F.lit(tag), F.col("c_name")).alias("c_name"),
                "c_nationkey",
                "c_acctbal",
                "c_mktsegment",
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def build_dir(spark, src: str, dst: str, replicas: int) -> None:
    os.makedirs(dst, exist_ok=True)
    suffixed_documents(spark, src, replicas).write.mode("overwrite").parquet(
        os.path.join(dst, "documents.parquet")
    )
    signflip_embeddings(spark, src, replicas).write.mode("overwrite").parquet(
        os.path.join(dst, "embeddings.parquet")
    )
    tagged_customers(spark, src, replicas).write.mode("overwrite").parquet(
        os.path.join(dst, "customer.parquet")
    )


# ---------------------------------------------------------------------------
# Probes
# ---------------------------------------------------------------------------

def _timed(fn, repeat: int = 2):
    """min-of-``repeat`` wall time (VERDICT r6 item 7: best-of-2 removes the
    GC-pause bias the r6 artifact acknowledged in its timing_note — a stray
    pause on a 100x entry biased growth ratios UP). The returned payload is
    the first run's (all runs are equal by construction).

    Between runs the finished run's storage is released: operators store
    frames as lazy checkpoints, whose blocks are freed only after the Python
    references die and the ContextCleaner processes them, and the 100x ER
    probe's SECOND run otherwise OOMs on the first run's accumulated blocks
    (measured: UNABLE_TO_ACQUIRE_MEMORY in stage-1493 aggregation at 100x
    customers). gc + JVM gc + a short cleaner drain bound the resident set at
    one run's worth."""
    import gc

    from pyspark.sql import SparkSession

    best, out = float("inf"), None
    for i in range(repeat):
        t0 = time.perf_counter()
        r = fn()
        best = min(best, time.perf_counter() - t0)
        if i == 0:
            out = r
        gc.collect()
        s = SparkSession.getActiveSession()
        if s is not None:
            s.sparkContext._jvm.System.gc()
        if i + 1 < repeat:
            time.sleep(2)  # let the async ContextCleaner drain
    return round(best, 2), out


def decontam_count(docs, fixed_eval: bool) -> int:
    """The decontamination probe plan — same shape as
    queries/text.py:text_decontaminate_ngrams: distinct word 4-grams, eval
    suite = doc_id % 97 (fixed_eval restricts it to replica 0: the constant-
    broadcast production regime), broadcast eval-gram semi-probe over the
    training grams. Module-level (r9) so the extra-decade growth-law probe
    times the IDENTICAL query run_probes times at 1x/10x/100x."""
    toks = docs.select(
        "doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("t")
    )
    grams = (
        toks.filter(F.size("t") >= 4)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(0, size(t) - 4),"
                    " i -> array_join(slice(t, i + 1, 4), ' '))"
                )
            ).alias("g"),
        )
        .distinct()
    )
    is_eval = F.col("doc_id") % 97 == 0
    if fixed_eval:
        is_eval = is_eval & (F.col("doc_id") < OFF)
    eval_grams = grams.filter(is_eval).select("g").distinct()
    train = grams.filter(~is_eval)
    tot = train.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_grams"))
    hit = (
        train.join(F.broadcast(eval_grams), "g")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return tot.join(hit, "doc_id").count()


def _docs_at(spark, src: str, dir100: str, scale: int, replicas: int):
    if scale == replicas:
        return spark.read.parquet(f"{dir100}/documents.parquet")
    if scale == 1:
        return spark.read.parquet(f"{src}/documents.parquet").select("doc_id", "text")
    return suffixed_documents(spark, src, scale)


def _cust_at(spark, src: str, dir100: str, scale: int, replicas: int):
    if scale == replicas:
        return spark.read.parquet(f"{dir100}/customer.parquet")
    if scale == 1:
        return spark.read.parquet(f"{src}/customer.parquet")
    return tagged_customers(spark, src, scale)


def run_probes(spark, src: str, dir100: str, replicas: int, scales: list[int],
               skip_flow: bool = False) -> dict:
    from ortholog_pipeline_spark.operators import components as CC
    from ortholog_pipeline_spark.operators import dedup as DD

    out: dict = {"times": {}, "counts": {}}

    # warmup (untimed): JVM + codegen + parquet footers, so the 1x entries —
    # the denominators of every growth ratio — aren't billed for startup
    warm = _docs_at(spark, src, dir100, 1, replicas)
    DD.minhash_lsh_dedup(warm, k=3, num_hashes=16, bands=4, threshold=0.5).count()

    for s in scales:
        docs = _docs_at(spark, src, dir100, s, replicas)
        sec, n_pairs = _timed(
            lambda: DD.minhash_lsh_dedup(
                docs, k=3, num_hashes=16, bands=4, threshold=0.5
            ).count()
        )
        out["times"][f"minhash_{s}x"] = sec
        out["counts"][f"minhash_pairs_{s}x"] = n_pairs

        sec, n_comp = _timed(
            lambda: CC.dedup_clusters(
                docs,
                DD.minhash_lsh_dedup(
                    docs, k=3, num_hashes=16, bands=4, threshold=0.5
                ).select("id_1", "id_2"),
            ).count()
        )
        out["times"][f"cluster_assign_{s}x"] = sec
        out["counts"][f"cluster_rows_{s}x"] = n_comp

        cust = _cust_at(spark, src, dir100, s, replicas)

        def _er():
            pairs = DD.editdist1_join(cust, "c_name", block_cols=["c_nationkey"])
            m1 = cust.select(
                F.col("c_name").alias("s1"), F.col("c_custkey").alias("k1"),
                "c_nationkey",
            )
            m2 = cust.select(
                F.col("c_name").alias("s2"), F.col("c_custkey").alias("k2"),
                "c_nationkey",
            )
            edges = (
                pairs.join(m1, ["s1", "c_nationkey"])
                .join(m2, ["s2", "c_nationkey"])
                .select(
                    F.least("k1", "k2").alias("id_1"),
                    F.greatest("k1", "k2").alias("id_2"),
                )
            )
            return (
                CC.connected_components(edges).groupBy("component").count().count()
            )

        sec, n_cl = _timed(_er)
        out["times"][f"er_{s}x"] = sec
        out["counts"][f"er_clusters_{s}x"] = n_cl

        # benchmark decontamination (VERDICT r6 item 7) — same plan as
        # queries/text.py:text_decontaminate_ngrams: distinct word 4-grams,
        # eval suite = doc_id % 97, BROADCAST eval-gram semi-probe over the
        # training grams. Under the suffix construction eval grams only match
        # train docs of the SAME replica (suffixed tokens collide with
        # nothing), so the matched-doc workload grows exactly linearly.
        # Two eval-suite regimes (r8, VERDICT r7 ask 5):
        #   * growing: eval docs drawn across ALL replicas — eval-gram
        #     broadcast grows linearly with the corpus (the synthetic
        #     worst case; this is the family whose last-decade ratio the
        #     linear-fit block in main() explains);
        #   * fixed: eval docs from replica 0 only — a constant-size
        #     broadcast, the PRODUCTION regime (a benchmark suite does not
        #     grow because the training corpus did), isolating the pure
        #     scan-proportional component.
        def _decontam(fixed_eval: bool):
            return lambda: decontam_count(docs, fixed_eval)

        sec, n_hit = _timed(_decontam(False))
        out["times"][f"decontam_{s}x"] = sec
        out["counts"][f"decontam_hits_{s}x"] = n_hit
        sec, n_hit = _timed(_decontam(True))
        out["times"][f"decontam_fixed_eval_{s}x"] = sec
        out["counts"][f"decontam_fixed_eval_hits_{s}x"] = n_hit

    # linear-regime check: TRUE pairs grow exactly linearly under the suffix
    # construction; REPORTED pairs are per-replica banded-LSH catches, so a
    # 10% band covers the catch variance. A miss means the construction
    # aliased (the failure mode this tool exists to avoid) — recorded, so
    # the artifact says so without discarding the expensive measurements.
    base = out["counts"].get("minhash_pairs_1x")
    lin_ok = True
    for s in scales:
        if s != 1 and base:
            got = out["counts"][f"minhash_pairs_{s}x"]
            if abs(got - s * base) > 0.10 * s * base:
                lin_ok = False
                print(
                    f"[sf10_probes] WARNING: pairs at {s}x = {got}, expected "
                    f"~{s * base} — replica construction may have aliased",
                    file=sys.stderr,
                )
    out["linearity_ok"] = lin_ok

    # species-flow plan at each scale: evidence-variant relation replicas,
    # MATERIALIZED before the timed run; store seeded outside the timing
    if not skip_flow:
        from ortholog_pipeline_spark.plans.species_load import run_species_load
        from ortholog_pipeline_spark.queries_flows import (
            RUN_TS,
            _seed_store,
            _species_world,
        )

        world = _species_world(spark, src)
        rel1 = world["relations"]
        # warmup (untimed): one full flow run, so the 1x ratio denominator
        # isn't billed for the flow DAG's first-use codegen
        run_species_load(
            _seed_store(spark, world, "sf10_flow_", cache_key=f"sf10_species:{src}"),
            rel1, RUN_TS, 3, delete_threshold_pct=95.0,
        )
        with tempfile.TemporaryDirectory(prefix="sf10_rel_") as td:
            for s in scales:
                parts = [rel1] + [
                    rel1.withColumn(
                        "data_set_name",
                        F.concat(F.col("data_set_name"), F.lit(f", T{i}")),
                    )
                    for i in range(1, s)
                ]
                rel = parts[0]
                for p in parts[1:]:
                    rel = rel.unionByName(p)
                path = os.path.join(td, f"rel{s}x")
                rel.write.parquet(path)
                stored = spark.read.parquet(path)

                def _flow_run():
                    # reseed per measurement (hardlink clone, metadata-only
                    # ms): the flow mutates snapshot state, so best-of-2 must
                    # start each run from the identical before-state
                    st = _seed_store(
                        spark, world, "sf10_flow_", cache_key=f"sf10_species:{src}"
                    )
                    run_species_load(
                        st, stored, RUN_TS, 3, delete_threshold_pct=95.0
                    )

                sec, _ = _timed(_flow_run)
                out["times"][f"flow_species_{s}x"] = sec

        # AGR upsert flow (VERDICT r6 item 7): replicas tag `algorithms`, so
        # methods_matched — part of the 3-col upsert key — differs per
        # replica: the incoming key space, the full-outer verdict join, and
        # the snapshot write all really grow with scale (the adversarial
        # case for an upsert flow; same construction as bench.py's 10x
        # probe, extended to 100x). Lines are MATERIALIZED before the timed
        # run, store reseeded per measurement.
        from ortholog_pipeline_spark.plans.agr_load import run_agr_load
        from ortholog_pipeline_spark.queries_flows import _agr_world

        aworld = _agr_world(spark, src)
        al1 = aworld["lines"]
        run_agr_load(
            _seed_store(spark, aworld, "sf10_agr_", cache_key=f"sf10_agr:{src}"),
            al1, RUN_TS, delete_threshold_pct=100.0,
        )  # warmup (untimed): flow DAG first-use codegen
        with tempfile.TemporaryDirectory(prefix="sf10_agr_") as td:
            for s in scales:
                parts = [al1] + [
                    al1.withColumn(
                        "algorithms",
                        F.concat(F.col("algorithms"), F.lit(f"|X{i}")),
                    )
                    for i in range(1, s)
                ]
                lines = parts[0]
                for p in parts[1:]:
                    lines = lines.unionByName(p)
                path = os.path.join(td, f"lines{s}x")
                lines.write.parquet(path)
                stored_lines = spark.read.parquet(path)

                def _agr_run():
                    st = _seed_store(
                        spark, aworld, "sf10_agr_", cache_key=f"sf10_agr:{src}"
                    )
                    run_agr_load(
                        st, stored_lines, RUN_TS, delete_threshold_pct=100.0
                    )

                sec, _ = _timed(_agr_run)
                out["times"][f"flow_agr_{s}x"] = sec

    # skew legs at the biggest scale: CC star (linear) at full fraction;
    # MinHash hot bucket as a FIXED 500-doc identical cluster (constant
    # absolute hot-bucket load — see module docstring for why fractional
    # hot clusters are output-quadratic by semantics)
    top = max(scales)
    docs_top = _docs_at(spark, src, dir100, top, replicas)
    hot_text = " ".join(f"hotword{i % 17} filler{i % 5}" for i in range(40))
    docs_hot = docs_top.withColumn(
        "text",
        F.when(F.col("doc_id") % OFF < 5, F.lit(hot_text)).otherwise(F.col("text")),
    )

    def _skew_minhash(d):
        return lambda: DD.minhash_lsh_dedup(
            d, k=3, num_hashes=16, bands=4, threshold=0.5
        ).count()

    sec_u, _ = _timed(_skew_minhash(docs_top))
    sec_h, _ = _timed(_skew_minhash(docs_hot))
    out["times"][f"skew_minhash_uniform_{top}x"] = sec_u
    out["times"][f"skew_minhash_hot500_{top}x"] = sec_h
    out["skew_minhash_ratio"] = round(sec_h / sec_u, 2) if sec_u else None

    # duplicate-heavy twins: the full pipeline with and without
    # collapse_exact over the top-scale corpus with one 200-doc-per-replica
    # identical-text cluster (20k docs, C(20k, 2) = 200M output pairs), so
    # the quadratic verify work collapse removes shows above the
    # corpus-proportional signature/banding floor (at 5k docs banding
    # dominates and the twins discriminate nothing). Both legs emit
    # identical rows (pinned by test_minhash_collapse_exact_output_identical);
    # a collapse regression shows as the collapsed leg closing on the
    # uncollapsed one. One untimed collapse run over the 1x corpus first, so
    # the first timed collapse_exact leg is not billed for its codegen/JIT
    # warm-up.
    docs_warm = (
        spark.read.parquet(f"{src}/documents.parquet")
        .select("doc_id", "text")
        .withColumn(
            "text",
            F.when(F.col("doc_id") % OFF < 50, F.lit(hot_text)).otherwise(
                F.col("text")
            ),
        )
    )
    DD.minhash_lsh_dedup(
        docs_warm, k=3, num_hashes=16, bands=4, threshold=0.5, collapse_exact=True
    ).count()

    docs_big = docs_top.withColumn(
        "text",
        F.when(F.col("doc_id") % OFF < 200, F.lit(hot_text)).otherwise(
            F.col("text")
        ),
    )
    for collapse in (False, True):
        sec, n = _timed(
            lambda: DD.minhash_lsh_dedup(
                docs_big, k=3, num_hashes=16, bands=4, threshold=0.5,
                collapse_exact=collapse,
            ).count()
        )
        key = "collapsed" if collapse else "uncollapsed"
        out["times"][f"dupheavy_g20k_{key}_full_{top}x"] = sec
        out["counts"][f"dupheavy_g20k_pairs_{key}_{top}x"] = n

    edges = (
        spark.read.parquet(f"{src}/lineitem.parquet")
        .select(
            (F.col("l_orderkey") % 50021).alias("u"),
            (F.col("l_partkey") % 50021 + 50021).alias("v"),
        )
    )
    reps = [edges] + [
        edges.select(
            (F.col("u") + i * 100043).alias("u"), (F.col("v") + i * 100043).alias("v")
        )
        for i in range(1, top)
    ]
    e_top = reps[0]
    for r in reps[1:]:
        e_top = e_top.unionByName(r)
    with tempfile.TemporaryDirectory(prefix="sf10_cc_") as td:
        for hot in (False, True):
            e = e_top
            if hot:
                e = e.withColumn(
                    "u", F.when(F.col("v") % 10 == 0, F.lit(0)).otherwise(F.col("u"))
                )
            path = os.path.join(td, f"edges_{hot}")
            e.filter(F.col("u") != F.col("v")).distinct().write.parquet(path)
            stored = spark.read.parquet(path)
            sec, _ = _timed(
                lambda: CC.connected_components(
                    stored.withColumnsRenamed({"u": "id_1", "v": "id_2"})
                ).count()
            )
            out["times"][
                f"skew_cc_{'hot' if hot else 'uniform'}_{top}x"
            ] = sec
    u, h = (
        out["times"][f"skew_cc_uniform_{top}x"],
        out["times"][f"skew_cc_hot_{top}x"],
    )
    out["skew_cc_ratio"] = round(h / u, 2) if u else None
    return out


def extra_growth_decade(spark, src: str, extra: int, times: dict,
                        skip_flow: bool = False) -> dict:
    """One more decade for the two INPUT-GROWTH families (VERDICT r8 ask 7):
    decontamination is input-linear by law and the AGR flow grows with its
    upsert key space, so each gets a single ~sf30 point (extra x the sf0.1
    base) beyond the 1x/10x/100x grid. Cheap by construction — only the
    documents corpus and the AGR line set scale; nothing else is re-run.

    The decontam corpus is MATERIALIZED to parquet first (a 300-branch
    in-memory union would bill Catalyst analysis and a serial generate stage
    to the measurement; cached under /tmp across reruns like the 100x dir).
    The AGR leg scales shuffle partitions with the data (the cluster rule —
    partitions grow with input) so the single local JVM's per-task state
    stays at the 100x leg's level instead of tripling."""
    import hashlib

    out: dict = {"extra_scale": extra}

    # cache keyed by SOURCE as well as scale (ADVICE r9: a scale-only key
    # silently reused another --src's materialized corpus)
    src_tag = hashlib.sha256(os.path.abspath(src).encode()).hexdigest()[:10]
    dpath = f"/tmp/sf{extra}x_docs_{src_tag}"
    legacy = f"/tmp/sf{extra}x_docs"
    if not os.path.exists(os.path.join(dpath, "_SUCCESS")) and os.path.exists(
        os.path.join(legacy, "_SUCCESS")
    ) and src == "/root/testdata/sf0.1":
        dpath = legacy  # pre-r10 cache for the default src: still valid
    if not os.path.exists(os.path.join(dpath, "_SUCCESS")):
        suffixed_documents(spark, src, extra).write.mode("overwrite").parquet(
            dpath
        )
    docs = spark.read.parquet(dpath)
    sec, n_hit = _timed(lambda: decontam_count(docs, False))
    times[f"decontam_{extra}x"] = sec
    out[f"decontam_hits_{extra}x"] = n_hit

    if not skip_flow:
        from ortholog_pipeline_spark.plans.agr_load import run_agr_load
        from ortholog_pipeline_spark.queries_flows import (
            RUN_TS,
            _agr_world,
            _seed_store,
        )
        from ortholog_pipeline_spark.session import cluster_profile_conf

        aworld = _agr_world(spark, src)
        al1 = aworld["lines"]
        base_parts = spark.conf.get("spark.sql.shuffle.partitions")
        scaled_parts = max(int(base_parts), 32) * max(1, extra // 100)
        aqe_key = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
        with tempfile.TemporaryDirectory(prefix="sf10_agr_extra_") as td:
            parts = [al1] + [
                al1.withColumn(
                    "algorithms",
                    F.concat(F.col("algorithms"), F.lit(f"|X{i}")),
                )
                for i in range(1, extra)
            ]
            lines = parts[0]
            for p in parts[1:]:
                lines = lines.unionByName(p)
            path = os.path.join(td, f"lines{extra}x")
            lines.write.parquet(path)
            stored_lines = spark.read.parquet(path)

            def _agr_run():
                st = _seed_store(
                    spark, aworld, "sf10_agr_", cache_key=f"sf10_agr:{src}"
                )
                run_agr_load(
                    st, stored_lines, RUN_TS, delete_threshold_pct=100.0
                )

            base_initial = spark.conf.get(aqe_key, None)
            try:
                # r11 (VERDICT r10 ask 2): the FITTED extra-decade leg now
                # runs under the engine's cluster profile (session.
                # cluster_profile_conf: shuffle.partitions=2000 + AQE
                # initialPartitionNum=2000, coalesced down per stage) — the
                # configuration a production run AT this regime uses, and
                # the one AGR_DIAGNOSIS_r10 measured 19% faster than the
                # hand-scaled 96 partitions (the finer sort splits away the
                # straggling spill tail; ~3.5 GiB memoryBytesSpilled remains
                # an inherent one-JVM effect of 45M keys in 24g — quantified
                # below via the stage metrics when the UI is reachable).
                for k, v in cluster_profile_conf().items():
                    spark.conf.set(k, v)
                spill_before = _spill_totals(spark)
                sec, _ = _timed(_agr_run)
                spill_after = _spill_totals(spark)
                if spill_before is not None and spill_after is not None:
                    out["agr_spill_at_extra_mb"] = {
                        k: round(
                            (spill_after[k] - spill_before[k]) / 2**20
                        )
                        for k in spill_after
                    }
                # hand-rule comparison datum (the pre-r11 fitted config:
                # partitions scaled linearly with the data, no AQE initial
                # override) — kept so the artifact carries the A/B the
                # cluster-profile default is justified by.
                spark.conf.set(
                    "spark.sql.shuffle.partitions", str(scaled_parts)
                )
                if base_initial is None:
                    spark.conf.unset(aqe_key)
                else:
                    spark.conf.set(aqe_key, base_initial)
                sec_h, _ = _timed(_agr_run, repeat=1)
                times[f"flow_agr_{extra}x_hand_rule"] = sec_h
            finally:
                spark.conf.set("spark.sql.shuffle.partitions", base_parts)
                if base_initial is None:
                    try:
                        spark.conf.unset(aqe_key)
                    except Exception:  # noqa: BLE001
                        pass
                else:
                    spark.conf.set(aqe_key, base_initial)
        times[f"flow_agr_{extra}x"] = sec
        out["agr_config_at_extra"] = {
            "fitted_leg": {
                "shuffle_partitions": 2000,
                "aqe_initial_partition_num": 2000,
                "why": "engine cluster profile (session.cluster_profile_conf)"
                       " — the production sizing for this regime; measured "
                       "19% faster than the hand rule in AGR_DIAGNOSIS_r10",
            },
            "hand_rule_datum": {"shuffle_partitions": scaled_parts,
                                "runs": 1},
        }
    return out


def _spill_totals(spark) -> dict | None:
    """Sum spill bytes over all completed stages via the UI REST API (None
    when the UI is disabled/unreachable — spill then goes unquantified, not
    wrong)."""
    import urllib.request

    try:
        app = spark.sparkContext.applicationId
        url = (
            f"http://localhost:4040/api/v1/applications/{app}"
            "/stages?status=complete"
        )
        with urllib.request.urlopen(url, timeout=10) as r:
            stages = json.loads(r.read())
        return {
            "memoryBytesSpilled": sum(
                int(s.get("memoryBytesSpilled") or 0) for s in stages
            ),
            "diskBytesSpilled": sum(
                int(s.get("diskBytesSpilled") or 0) for s in stages
            ),
        }
    except Exception:  # noqa: BLE001
        return None


def growth_law_fit(times: dict, fam: str, scales: list[int],
                   top: int) -> dict | None:
    """Fit t = a + b*s on the two LARGEST measured scales below ``top``,
    evaluate the SIGNED excess-over-linear at ``top``, and report the
    fit's residual at every other measured scale. Positive excess is the
    superlinear smoking gun; negative means per-unit cost fell as fixed
    overhead amortized — better than the linear floor, never a violation.

    Anchoring on the LARGEST scales is the r10 fix (VERDICT r9 ask 1): the
    original smallest-two anchor made the slope noise-dominated whenever
    the 10x-1x delta was small against the fixed cost (flow_agr: 1.79 s
    delta vs 6.4 s fixed → the 300x verdict read +42% when the same data
    re-anchored on 10x/100x reads +11%). The largest anchors sit where
    per-unit work dominates fixed overhead, so the extrapolation one
    decade out is slope-faithful; the residuals over the small scales
    expose any fixed-cost misfit honestly instead of silently folding it
    into the slope."""
    measured = [s for s in scales if s < top and times.get(f"{fam}_{s}x")]
    t_top = times.get(f"{fam}_{top}x")
    if len(measured) < 2 or not t_top:
        return None
    lo, hi = sorted(measured)[-2:]
    t_lo, t_hi = times[f"{fam}_{lo}x"], times[f"{fam}_{hi}x"]
    b = (t_hi - t_lo) / (hi - lo)
    a = t_lo - b * lo
    pred = a + b * top
    excess = (t_top - pred) / pred
    residuals = {}
    for s in measured:
        p = a + b * s
        if p > 0:
            residuals[f"{s}x"] = round((times[f"{fam}_{s}x"] - p) / p, 3)
    return {
        "anchor_scales": [lo, hi],
        "fixed_sec": round(a, 2),
        "per_1x_sec": round(b, 4),
        "at_scale": top,
        "predicted_at_top": round(pred, 2),
        "measured_at_top": t_top,
        "rel_excess_over_linear": round(excess, 3),
        "residuals_at_anchored_fit": residuals,
        "linear_law_holds": bool(excess <= 0.25),
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--src", default="/root/testdata/sf0.1")
    ap.add_argument("--dir", default="/tmp/sf10x100")
    ap.add_argument("--replicas", type=int, default=100)
    ap.add_argument("--scales", default="1,10,100")
    ap.add_argument("--skip-flow", action="store_true")
    ap.add_argument("--skip-floors", action="store_true")
    ap.add_argument("--growth-extra", type=int, default=300,
                    help="extra decade scale for the decontam + AGR "
                         "growth-law receipt (VERDICT r8 ask 7); 0 disables")
    ap.add_argument("--out", default=os.path.join(REPO, "SF10_PROBES.json"))
    args = ap.parse_args()
    scales = sorted({int(s) for s in args.scales.split(",")})
    assert max(scales) <= args.replicas

    from ortholog_pipeline_spark.session import get_spark

    # UI on for the spill quantification of the extra-decade AGR leg
    # (VERDICT r10 ask 2): the AppStatusListener runs regardless of this
    # flag, so serving the REST endpoint adds no work to the timed legs.
    spark = get_spark(
        app_name="sf10-probes", extra_conf={"spark.ui.enabled": "true"}
    )
    spark.sparkContext.setLogLevel("ERROR")
    t_all = time.monotonic()

    stages: dict[str, float] = {}
    expected = os.path.join(args.dir, "customer.parquet")
    if not os.path.exists(expected):
        t0 = time.monotonic()
        build_dir(spark, args.src, args.dir, args.replicas)
        stages["build_dir_sec"] = round(time.monotonic() - t0, 1)
    else:
        stages["build_dir_sec"] = 0.0

    probes = run_probes(
        spark, args.src, args.dir, args.replicas, scales, skip_flow=args.skip_flow
    )

    extra_info = None
    if args.growth_extra and len(scales) >= 2:
        t0 = time.monotonic()
        extra_info = extra_growth_decade(
            spark, args.src, args.growth_extra, probes["times"],
            skip_flow=args.skip_flow,
        )
        stages["growth_extra_sec"] = round(time.monotonic() - t0, 1)

    fl = None
    if not args.skip_floors:
        t0 = time.monotonic()
        fl = floors(spark, args.dir)
        stages["floors_sec"] = round(time.monotonic() - t0, 1)

    # growth ratios between consecutive measured scales, per family
    ratios: dict[str, float] = {}
    fams = ["minhash", "cluster_assign", "er", "decontam", "decontam_fixed_eval"] + (
        [] if args.skip_flow else ["flow_species", "flow_agr"]
    )
    for fam in fams:
        for lo, hi in zip(scales, scales[1:]):
            a = probes["times"].get(f"{fam}_{lo}x")
            b = probes["times"].get(f"{fam}_{hi}x")
            if a and b:
                ratios[f"{fam}_{hi}x_over_{lo}x"] = round(b / a, 2)

    # Decontamination growth-law receipt (VERDICT r7 ask 5): the family's
    # last-decade ratio (5.6x in r7) is NOT a shuffle artifact — the probe
    # is a scan-every-training-doc operator, so its cost law is t = a + b*s
    # (fixed session/plan overhead + input-proportional work), and a pure
    # linear law's per-decade ratio APPROACHES 10x as the fixed term
    # amortizes (r7: fit from the 1x/10x points predicts the measured 100x
    # within 8%). Linear is the floor for an operator semantically required
    # to touch every row; the fit (not the decade ratio) is the scale
    # evidence, recorded per variant. rel_err <= 0.25 = the input-
    # proportionality argument holds; a large positive rel_err would be the
    # superlinear smoking gun the ask is probing for.
    fits: dict[str, dict] = {}
    if len(scales) >= 3:
        for fam in ("decontam", "decontam_fixed_eval"):
            fit = growth_law_fit(probes["times"], fam, scales, scales[-1])
            if fit:
                fits[fam] = fit
    # extended receipt (r9, VERDICT r8 ask 7): the same 1x/10x fit checked a
    # decade further out (~sf30) for the two input-growth families
    ext_fits: dict[str, dict] = {}
    if extra_info:
        for fam in ("decontam", "flow_agr"):
            fit = growth_law_fit(
                probes["times"], fam, scales, extra_info["extra_scale"]
            )
            if fit:
                # config provenance next to the fit (ADVICE r9): the AGR
                # extra-decade point runs under input-scaled shuffle
                # partitions while every anchor ran at the base count — the
                # fit mixes configs and the reader must see that here, not
                # hunt for agr_shuffle_partitions_at_extra elsewhere
                if fam == "flow_agr":
                    fit["shuffle_partitions"] = {
                        "anchors": "base (session default)",
                        "at_top": extra_info.get("agr_config_at_extra", {})
                        .get("fitted_leg"),
                    }
                ext_fits[fam] = fit

    head = subprocess.run(
        ["git", "rev-parse", "HEAD"], capture_output=True, text=True, cwd=REPO
    ).stdout.strip()
    artifact = {
        "src": args.src,
        "dir": args.dir,
        "replicas": args.replicas,
        "scales": scales,
        "tables_scaled": ["documents", "embeddings", "customer"],
        "times_sec": probes["times"],
        "counts": probes["counts"],
        "linearity_ok": probes.get("linearity_ok"),
        "growth_ratios": ratios,
        "decontam_growth_law": fits or None,
        "growth_law_extended": ext_fits or None,
        "growth_extra_info": extra_info,
        "dupheavy_g5k": (
            "retired r9 (VERDICT r8 ask 5): honest negative recorded in the "
            "r8 artifact — at g=5000 banding the 500k-doc corpus dominates "
            "and collapse discriminates nothing; the g20k twin carries the "
            "regression canary (a collapse regression shows strictly larger "
            "at larger g)"
        ),
        "skew_minhash_ratio": probes.get("skew_minhash_ratio"),
        "skew_cc_ratio": probes.get("skew_cc_ratio"),
        "quality_floors_at_dir": fl,
        "floors_green": (
            None
            if fl is None
            else bool(
                (fl["ann_recall_at10"] or 0) >= 0.9
                and (fl["minhash_completeness"] or 0) >= 0.7
            )
        ),
        "timing_note": "best-of-2 per entry (r7): removes the stray-GC-pause "
        "bias the earlier single-measurement artifacts acknowledged; flows "
        "reseed their snapshot store (hardlink clone, ms) inside each "
        "measured run",
        # the 100x AGR leg carries a genuinely 100x-bigger upsert key space
        # (15M keys) through 32 concurrent local tasks at FIXED shuffle
        # partitioning — the single shared JVM needs the same heap the ~sf1
        # certification sweep already uses (24g); a cluster spreads the same
        # partitions across executors instead (memory claims live in
        # MEM_ENVELOPE.json, not here)
        "driver_heap_max_bytes": int(
            spark.sparkContext._jvm.java.lang.Runtime.getRuntime().maxMemory()
        ),
        "git_head": head,
        "stages": stages,
        "total_sec": round(time.monotonic() - t_all, 1),
    }
    with open(args.out, "w") as f:
        json.dump(artifact, f, indent=1)
    print(json.dumps(artifact, indent=1))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
