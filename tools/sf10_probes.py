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
uses the alias-safe set of `tools/probes.py` (token suffixes, sign flips,
doubled-decimal tags), regime-preserving at ANY replica count. The REPORTED
MinHash pair count is banded-LSH catch, a per-replica probabilistic draw over
the rehashed shingles, so it is checked against R * n_pairs(1) within 10% and
recorded as `linearity_ok` rather than raised mid-run. The flows replicate
their inputs as bench does (evidence / algorithms tags), MATERIALIZED to
parquet before each timed run (a wide lazy union inside a deep DAG explodes
Catalyst constraint propagation).

Skew leg: the CC star probe (10% of edges re-pointed at node 0) scales
linearly and runs at the full 100x corpus. The MinHash hot-bucket leg plants
a FIXED 500-document identical-text cluster (same absolute hot-bucket load as
bench.py's sf0.1 probe): a *fractional* hot cluster is quadratic in the
OUTPUT (C(50k, 2) = 1.25e9 true pairs at 10% of 500k docs) — a property of
the pair-list semantics, not of the implementation — so holding the cluster
size constant isolates what the probe is for: skewed-shuffle handling.

Emits SF10_PROBES.json at the repo root: wall times per scale, growth
ratios, pair/cluster counts, quality floors AT the 100x dir, skew ratio, the
extra-decade AGR leg's spill (read from the session's event log after it
stops), git HEAD, elapsed. Run:

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
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "perfbench"))

import eventlog  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from ortholog_pipeline_spark.oracle import git_head  # noqa: E402
from tools import probes as P  # noqa: E402
from tools.probes import (  # noqa: E402
    OFF,
    signflip_embeddings,
    suffixed_documents,
    tagged_customers,
)


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
            for r in P.lsh_pairs(docs)
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


def _at(spark, src: str, dir100: str, scale: int, replicas: int, table: str, build):
    """``table`` at ``scale``: the materialized dir at the full replica count,
    else built from ``src``."""
    if scale == replicas:
        return spark.read.parquet(f"{dir100}/{table}.parquet")
    return build(spark, src, scale)


def _stored(spark, df, path: str):
    """``df`` written to ``path`` and read back: the timed flows read stored
    replicas, never a wide lazy union."""
    df.write.parquet(path)
    return spark.read.parquet(path)


def run_probes(spark, src: str, dir100: str, replicas: int, scales: list[int],
               skip_flow: bool = False) -> dict:
    from ortholog_pipeline_spark.operators import components as CC

    out: dict = {"times": {}, "counts": {}}

    def timed(key: str, fn, count_key: str | None = None) -> None:
        sec, n, _ = P.best_of(spark, fn)
        out["times"][key] = sec
        if count_key:
            out["counts"][count_key] = n

    # warmup (untimed): JVM + codegen + parquet footers, so the 1x entries —
    # the denominators of every growth ratio — aren't billed for startup
    P.lsh_pairs(suffixed_documents(spark, src, 1)).count()

    for s in scales:
        docs = _at(spark, src, dir100, s, replicas, "documents", suffixed_documents)
        timed(f"minhash_{s}x", lambda: P.lsh_pairs(docs).count(), f"minhash_pairs_{s}x")
        timed(
            f"cluster_assign_{s}x",
            lambda: CC.dedup_clusters(docs, P.lsh_pairs(docs).select("id_1", "id_2")).count(),
            f"cluster_rows_{s}x",
        )
        cust = _at(spark, src, dir100, s, replicas, "customer", tagged_customers)
        timed(f"er_{s}x", lambda: P.er_clusters(cust), f"er_clusters_{s}x")

        # benchmark decontamination — same plan as
        # queries/text.py:text_decontaminate_ngrams: distinct word 4-grams,
        # eval suite = doc_id % 97, BROADCAST eval-gram semi-probe over the
        # training grams. Under the suffix construction eval grams only match
        # train docs of the SAME replica (suffixed tokens collide with
        # nothing), so the matched-doc workload grows exactly linearly.
        # Two eval-suite regimes:
        #   * growing: eval docs drawn across ALL replicas — eval-gram
        #     broadcast grows linearly with the corpus (the synthetic
        #     worst case; this is the family whose last-decade ratio the
        #     linear-fit block in main() explains);
        #   * fixed: eval docs from replica 0 only — a constant-size
        #     broadcast, the PRODUCTION regime (a benchmark suite does not
        #     grow because the training corpus did), isolating the pure
        #     scan-proportional component.
        timed(f"decontam_{s}x", lambda: decontam_count(docs, False), f"decontam_hits_{s}x")
        timed(
            f"decontam_fixed_eval_{s}x",
            lambda: decontam_count(docs, True),
            f"decontam_fixed_eval_hits_{s}x",
        )

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

    # both flows at each scale on stored replicas, each run on a freshly
    # cloned store; one untimed run first so the 1x ratio denominator isn't
    # billed for the flow DAG's first-use codegen
    if not skip_flow:
        from ortholog_pipeline_spark.queries_flows import _agr_world, _species_world

        for world, key, variant, flow, name in (
            (_species_world(spark, src), "relations", P.evidence_tagged, P.species_flow, "flow_species"),
            (_agr_world(spark, src), "lines", P.algorithms_tagged, P.agr_flow, "flow_agr"),
        ):
            flow(spark, world, world[key], "sf10", src)()
            with tempfile.TemporaryDirectory(prefix="sf10_flow_") as td:
                for s in scales:
                    rows = _stored(spark, P.replicate(world[key], s, variant), f"{td}/{key}{s}x")
                    timed(f"{name}_{s}x", flow(spark, world, rows, "sf10", src))

    # skew legs at the biggest scale: CC star (linear) at full fraction;
    # MinHash hot bucket as a FIXED 500-doc identical cluster (constant
    # absolute hot-bucket load — see module docstring for why fractional
    # hot clusters are output-quadratic by semantics)
    top = max(scales)
    docs_top = _at(spark, src, dir100, top, replicas, "documents", suffixed_documents)

    def planted(docs, per_replica: int):
        return docs.withColumn(
            "text",
            F.when(F.col("doc_id") % OFF < per_replica, F.lit(P.HOT_TEXT)).otherwise(F.col("text")),
        )

    timed(f"skew_minhash_uniform_{top}x", lambda: P.lsh_pairs(docs_top).count())
    docs_hot = planted(docs_top, 5)
    timed(f"skew_minhash_hot500_{top}x", lambda: P.lsh_pairs(docs_hot).count())
    sec_u, sec_h = (out["times"][f"skew_minhash_{k}_{top}x"] for k in ("uniform", "hot500"))
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
    P.lsh_pairs(planted(suffixed_documents(spark, src, 1), 50), collapse_exact=True).count()
    docs_big = planted(docs_top, 200)
    for collapse in (False, True):
        key = "collapsed" if collapse else "uncollapsed"
        timed(
            f"dupheavy_g20k_{key}_full_{top}x",
            lambda: P.lsh_pairs(docs_big, collapse_exact=collapse).count(),
            f"dupheavy_g20k_pairs_{key}_{top}x",
        )

    edges = spark.read.parquet(f"{src}/lineitem.parquet")
    e_top = P.replicate(P.cc_edges(edges), top, P.offset("u", "v", step=100043))
    with tempfile.TemporaryDirectory(prefix="sf10_cc_") as td:
        for hot in (False, True):
            e = P.star(e_top) if hot else e_top
            stored = _stored(
                spark, e.filter(F.col("u") != F.col("v")).distinct(), f"{td}/edges_{hot}"
            )
            timed(
                f"skew_cc_{'hot' if hot else 'uniform'}_{top}x",
                lambda: CC.connected_components(
                    stored.withColumnsRenamed({"u": "id_1", "v": "id_2"})
                ).count(),
            )
    u, h = (
        out["times"][f"skew_cc_uniform_{top}x"],
        out["times"][f"skew_cc_hot_{top}x"],
    )
    out["skew_cc_ratio"] = round(h / u, 2) if u else None
    return out


def extra_growth_decade(spark, src: str, extra: int, times: dict,
                        skip_flow: bool = False) -> dict:
    """One more decade for the two INPUT-GROWTH families: decontamination is
    input-linear by law and the AGR flow grows with its upsert key space, so
    each gets a single ~sf30 point (extra x the sf0.1 base) beyond the
    1x/10x/100x grid. Cheap by construction — only the documents corpus and
    the AGR line set scale; nothing else is re-run.

    The decontam corpus is MATERIALIZED to parquet first (a 300-branch
    in-memory union would bill Catalyst analysis and a serial generate stage
    to the measurement; cached under /tmp across reruns like the 100x dir).
    The AGR leg runs under the engine's cluster profile and records its
    epoch-seconds window (``agr_window_at_extra``), whose spill main() reads
    from the event log once the session has stopped."""
    import hashlib

    out: dict = {"extra_scale": extra}

    # cache keyed by SOURCE as well as scale: a scale-only key silently
    # reused another --src's materialized corpus
    src_tag = hashlib.sha256(os.path.abspath(src).encode()).hexdigest()[:10]
    dpath = f"/tmp/sf{extra}x_docs_{src_tag}"
    if not os.path.exists(os.path.join(dpath, "_SUCCESS")):
        suffixed_documents(spark, src, extra).write.mode("overwrite").parquet(dpath)
    docs = spark.read.parquet(dpath)
    sec, n_hit, _ = P.best_of(spark, lambda: decontam_count(docs, False))
    times[f"decontam_{extra}x"] = sec
    out[f"decontam_hits_{extra}x"] = n_hit

    if not skip_flow:
        from ortholog_pipeline_spark.queries_flows import _agr_world
        from ortholog_pipeline_spark.session import cluster_profile_conf

        aworld = _agr_world(spark, src)
        scaled_parts = max(int(spark.conf.get("spark.sql.shuffle.partitions")), 32) * max(1, extra // 100)
        with tempfile.TemporaryDirectory(prefix="sf10_agr_extra_") as td:
            lines = _stored(
                spark, P.replicate(aworld["lines"], extra, P.algorithms_tagged), f"{td}/lines{extra}x"
            )
            run = P.agr_flow(spark, aworld, lines, "sf10", src)
            # the FITTED leg runs under the engine's cluster profile
            # (session.cluster_profile_conf: shuffle.partitions=2000 + AQE
            # initialPartitionNum=2000, coalesced down per stage) — the
            # configuration a production run AT this regime uses, measured
            # 19% faster than the hand-scaled 96 partitions in
            # AGR_DIAGNOSIS_r10 (the finer sort splits away the straggling
            # spill tail; the spill that remains is an inherent one-JVM
            # effect of 45M keys in 24g, quantified from the event log)
            with P.pinned_conf(spark, cluster_profile_conf()):
                t0 = time.time()
                times[f"flow_agr_{extra}x"] = P.best_of(spark, run)[0]
                out["agr_window_at_extra"] = [t0, time.time()]
            # hand-rule comparison datum (partitions scaled linearly with the
            # data, no AQE initial override) — kept so the artifact carries
            # the A/B the cluster-profile default is justified by
            with P.pinned_conf(spark, {"spark.sql.shuffle.partitions": str(scaled_parts)}):
                times[f"flow_agr_{extra}x_hand_rule"] = P.best_of(spark, run, runs=1)[0]
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

    # the event log (UI off) quantifies the extra-decade AGR leg's spill
    log_dir = tempfile.mkdtemp(prefix="sf10_eventlog_")
    spark = get_spark(app_name="sf10-probes", extra_conf=eventlog.conf(log_dir))
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
        "git_head": git_head(),
        "stages": stages,
        "total_sec": round(time.monotonic() - t_all, 1),
    }
    cores = spark.sparkContext.defaultParallelism
    spark.stop()  # closes the event log
    window = (extra_info or {}).get("agr_window_at_extra")
    if window:
        log = eventlog.parse(eventlog.find_log(log_dir))
        extra_info["agr_spill_at_extra_mb"] = round(
            eventlog.window(log, *window, cores)["spill_mb"]
        )
    shutil.rmtree(log_dir, ignore_errors=True)
    with open(args.out, "w") as f:
        json.dump(artifact, f, indent=1)
    print(json.dumps(artifact, indent=1))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
