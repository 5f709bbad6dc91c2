"""Regime-preservation pins for the 100x probe constructions (VERDICT r5 item
2, the alias-safe set in tools/probes.py) and the growth-law and decontam
computations in tools/sf10_probes.py.

The r5 scaled-dir lesson (NOTES.md): a volume-scaled fixture is only evidence
if the replica construction preserves the operator's REGIME — collision-group
sizes, pair densities, modular key spaces. These tests pin the three
guarantees those constructions claim, at tiny scale, so a
future edit that quietly breaks one (e.g. reintroducing token rotation, which
ALIASES for replica index >= token count) fails in the default suite instead
of poisoning a multi-hour 100x measurement."""

from __future__ import annotations

import importlib.util
import os

import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


def _load(name: str):
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        f"{name}_mod", os.path.join(repo, "tools", f"{name}.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _load_probes():
    return _load("probes")


def _load_sf10():
    return _load("sf10_probes")


def test_suffixed_documents_zero_cross_replica_overlap(spark):
    """Token-suffix replicas must share NO shingles with the original (the
    rotation scheme shared ~95%) and must preserve the intra-replica TRUE
    near-dup pair set exactly (a uniform token bijection preserves shingle
    equality)."""
    from ortholog_pipeline_spark.operators import dedup as DD

    mod = _load_probes()
    docs = mod.suffixed_documents(spark, SF_DIR, 2)
    sh = docs.select(
        "doc_id", DD.word_shingles("text", 3).alias("sh")
    ).filter(F.size("sh") > 0)
    orig = sh.filter(F.col("doc_id") < mod.OFF).select(
        F.explode("sh").alias("s")
    ).distinct()
    rep = sh.filter(F.col("doc_id") >= mod.OFF).select(
        F.explode("sh").alias("s")
    ).distinct()
    assert orig.join(rep, "s").count() == 0

    # exact intra-replica pair preservation: true >=0.5-Jaccard pairs of the
    # replica are the original's pairs, id-shifted
    def true_pairs(frame):
        post = frame.select("doc_id", F.explode("sh").alias("s"))
        common = (
            post.alias("a")
            .join(post.alias("b"), "s")
            .filter(F.col("a.doc_id") < F.col("b.doc_id"))
            .groupBy(
                F.col("a.doc_id").alias("id_1"), F.col("b.doc_id").alias("id_2")
            )
            .agg(F.count("*").alias("c"))
        )
        sizes = frame.select("doc_id", F.size("sh").alias("n"))
        return {
            (r.id_1, r.id_2)
            for r in common.join(
                sizes.withColumnsRenamed({"doc_id": "id_1", "n": "n1"}), "id_1"
            )
            .join(sizes.withColumnsRenamed({"doc_id": "id_2", "n": "n2"}), "id_2")
            .filter(F.col("c") / (F.col("n1") + F.col("n2") - F.col("c")) >= 0.5)
            .select("id_1", "id_2")
            .collect()
        }

    p0 = true_pairs(sh.filter(F.col("doc_id") < mod.OFF))
    p1 = true_pairs(sh.filter(F.col("doc_id") >= mod.OFF))
    assert p1 == {(a + mod.OFF, b + mod.OFF) for a, b in p0}


def test_tagged_customers_no_cross_replica_editdist1_pairs():
    """Any two distinct doubled-decimal tags differ in >= 2 positions, so no
    cross-replica edit-distance-1 name pair can exist at ANY replica count up
    to 100 (the 2-letter bench tags only guarantee this up to 26)."""
    tags = [str(i // 10) * 2 + str(i % 10) * 2 + "~" for i in range(100)]
    assert len(set(tags)) == 100
    for i in range(100):
        for j in range(i + 1, 100):
            diff = sum(a != b for a, b in zip(tags[i], tags[j]))
            assert diff >= 2, (tags[i], tags[j])


def test_signflip_embeddings_preserve_intra_replica_cosines(spark):
    """cos(Dx, Dy) == cos(x, y) for a diagonal +-1 flip: replica 1's pairwise
    dot products must equal the original's exactly (same floats, same order of
    summation per component pair), while at least one vector differs from its
    source (the flip actually applied)."""
    mod = _load_probes()
    emb = mod.signflip_embeddings(spark, SF_DIR, 2)
    base = {r.vec_id: r.embedding for r in emb.filter(F.col("vec_id") < 5).collect()}
    rep = {
        r.vec_id - mod.OFF: r.embedding
        for r in emb.filter(
            (F.col("vec_id") >= mod.OFF) & (F.col("vec_id") < mod.OFF + 5)
        ).collect()
    }
    assert set(base) == set(rep)
    changed = False
    for i in base:
        for j in base:
            d0 = sum(a * b for a, b in zip(base[i], base[j]))
            d1 = sum(a * b for a, b in zip(rep[i], rep[j]))
            assert d1 == pytest.approx(d0, rel=1e-6)
        if list(base[i]) != list(rep[i]):
            changed = True
    assert changed


def test_stream_state_probe_shape(spark):
    """The state-scale probe must consume every batch through a keyed
    watermarked agg on the RocksDB store and report per-batch latencies:
    n_batches == files / files_per_trigger and nonzero final state (the
    time-ordered landing guarantees later windows are NOT dropped as late —
    the bug the repartitionByRange fix addresses)."""
    out = _load_probes().stream_state_probe(
        spark, SF_DIR, key_replicas=2, n_files=8, files_per_trigger=2
    )
    assert out.get("provider") == "rocksdb", out
    assert out["n_batches"] == 4
    assert len(out["batch_ms"]) == 4
    assert out["state_rows_final"] and out["state_rows_final"] > 0
    assert out["state_rows_max"] >= out["state_rows_final"]


def test_growth_law_fit_signed_excess():
    """r9 (VERDICT r8 ask 7): the extended growth-law fit is pure and signed —
    a measured point ON the 1x/10x line reads 0, below it negative (never a
    violation), superlinear positive and flagged."""
    sf10 = _load_sf10()
    times = {"fam_1x": 1.0, "fam_10x": 10.0, "fam_300x": 300.0}
    fit = sf10.growth_law_fit(times, "fam", [1, 10, 100], 300)
    assert fit["rel_excess_over_linear"] == 0.0 and fit["linear_law_holds"]
    assert fit["at_scale"] == 300
    times["fam_300x"] = 200.0  # below the line: amortized fixed cost
    assert sf10.growth_law_fit(times, "fam", [1, 10], 300)[
        "rel_excess_over_linear"
    ] < 0
    times["fam_300x"] = 900.0  # 3x the line: the superlinear smoking gun
    bad = sf10.growth_law_fit(times, "fam", [1, 10], 300)
    assert bad["rel_excess_over_linear"] > 0.25 and not bad["linear_law_holds"]
    assert sf10.growth_law_fit({}, "fam", [1, 10], 300) is None


def test_growth_law_fit_anchors_on_largest_measured_scales():
    """r10 (VERDICT r9 ask 1): the fit anchors on the two LARGEST measured
    scales below top — a noisy 10x-1x delta against a large fixed cost must
    not dominate the slope — and reports residuals at the smaller scales.
    The r9 flow_agr shape (fixed ~6 s, slope visible only at 10x→100x)
    reads ~+11% under the largest-anchor fit, not the +42% the smallest-
    anchor fit produced from the same numbers."""
    sf10 = _load_sf10()
    # the committed r9 flow_agr times (SF10_PROBES.json r9)
    times = {
        "fam_1x": 6.4,
        "fam_10x": 8.19,
        "fam_100x": 31.82,
        "fam_300x": 93.87,
    }
    fit = sf10.growth_law_fit(times, "fam", [1, 10, 100], 300)
    assert fit["anchor_scales"] == [10, 100]
    assert 0.0 < fit["rel_excess_over_linear"] < 0.25
    assert fit["linear_law_holds"]
    # residuals cover every measured non-top scale; anchors read ~0
    assert set(fit["residuals_at_anchored_fit"]) == {"1x", "10x", "100x"}
    assert fit["residuals_at_anchored_fit"]["10x"] == 0.0
    assert fit["residuals_at_anchored_fit"]["100x"] == 0.0


def test_decontam_count_matches_inline_plan(spark):
    """The r9 factoring of the decontam probe plan to module level must not
    change what it computes: deterministic count over a small corpus, and the
    fixed_eval variant counts a subset regime (replica-0 eval only)."""
    sf10 = _load_sf10()
    docs = spark.createDataFrame(
        [(i, f"w{i % 7} a b c d e f g h{i % 3}") for i in range(300)],
        "doc_id long, text string",
    )
    n_grow = sf10.decontam_count(docs, False)
    n_fixed = sf10.decontam_count(docs, True)
    assert n_grow == sf10.decontam_count(docs, False)  # deterministic
    assert n_grow >= 0 and n_fixed >= 0
