"""Operator semantics tests — the verdict matrices and tie-break cascades that define
the reference's behavior (SURVEY.md §2.3-2.7, §7 hard parts)."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from ortholog_pipeline_spark.operators import bestfit, grouping, resolve, sync
from table_schemas import GENES_SCHEMA, RGD_IDS_SCHEMA, XREFS_SCHEMA

TS = datetime.datetime(2026, 1, 1)


# ---------------------------------------------------------------------------
# J1 resolution
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def resolution_dim(spark):
    genes = spark.createDataFrame(
        [
            (101, "A2M", "protein-coding", None, 1),
            (102, "Abc1", "protein-coding", None, 3),
            (103, "Abc1-dup", "protein-coding", None, 3),
            (104, "Old1", "protein-coding", None, 3),
            (105, "New1", "protein-coding", None, 3),
            (106, "Gone", "protein-coding", None, 3),
            (107, "Allele1", "allele", None, 3),
        ],
        GENES_SCHEMA,
    )
    rgd_ids = spark.createDataFrame(
        [
            (101, "ACTIVE", 1, 1, None),
            (102, "ACTIVE", 3, 1, None),
            (103, "ACTIVE", 3, 1, None),
            (104, "WITHDRAWN", 3, 1, 105),  # single active replacement
            (105, "ACTIVE", 3, 1, None),
            (106, "WITHDRAWN", 3, 1, None),  # no replacement
            (107, "ACTIVE", 3, 1, None),
        ],
        RGD_IDS_SCHEMA,
    )
    xrefs = spark.createDataFrame(
        [
            (1, 101, "EG1", 3, "p", TS),  # exactly one active → matched
            (2, 102, "EG2", 3, "p", TS),  # two active genes → multiple
            (3, 103, "EG2", 3, "p", TS),
            (4, 104, "EG3", 3, "p", TS),  # withdrawn w/ replacement → replaced
            (5, 106, "EG4", 3, "p", TS),  # withdrawn w/o replacement → withdrawn
            (6, 107, "EG5", 3, "p", TS),  # allele-typed gene → excluded → unmatched
        ],
        XREFS_SCHEMA,
    )
    return resolve.build_resolution_dim(xrefs, genes, rgd_ids)


def test_resolution_verdict_matrix(spark, resolution_dim):
    got = {r.acc_id: (r.rgd_id, r.verdict) for r in resolution_dim.collect()}
    assert got["EG1"] == (101, resolve.MATCHED)
    assert got["EG2"] == (None, resolve.MULTIPLE)
    assert got["EG3"] == (105, resolve.REPLACED)
    assert got["EG4"] == (None, resolve.WITHDRAWN)
    assert "EG5" not in got  # allele excluded at the dim → unmatched at resolve time


def test_resolve_relations_and_split(spark, resolution_dim):
    rels = spark.createDataFrame(
        [
            ("EG1", "EG3", 1, 3, "HGNC", "Ensembl"),
            ("EG1", "EG9", 1, 3, "HGNC", "Ensembl"),  # dest unknown → unmatched
            ("EG2", "EG1", 1, 3, "NCBI", "NCBI"),  # src multiple → dropped
        ],
        "src_other_id string, dest_other_id string, src_species_type_key int,"
        " dest_species_type_key int, data_source string, data_set_name string",
    )
    resolved = resolve.resolve_relations(rels, resolution_dim)
    clean, dropped = resolve.split_resolved(resolved)
    assert [(r.src_rgd_id, r.dest_rgd_id) for r in clean.collect()] == [(101, 105)]
    drops = {
        (r.src_other_id, r.dest_other_id): (r.src_verdict, r.dest_verdict)
        for r in dropped.collect()
    }
    assert drops[("EG1", "EG9")] == (resolve.MATCHED, resolve.UNMATCHED)
    assert drops[("EG2", "EG1")] == (resolve.MULTIPLE, resolve.MATCHED)

    metrics = {
        (r.side, r.verdict): r["count"]
        for r in resolve.resolution_metrics(resolved).collect()
    }
    assert metrics[("src", resolve.MATCHED)] == 2
    assert metrics[("dest", resolve.UNMATCHED)] == 1


# ---------------------------------------------------------------------------
# A2 merge + U4 closure
# ---------------------------------------------------------------------------


def test_merge_same_source_unions_evidence(spark):
    rels = spark.createDataFrame(
        [
            (1, 2, 1, 3, "HGNC", "OrthoDB, Ensembl"),
            (1, 2, 1, 3, "HGNC", "OrthoMCL, Ensembl"),
        ],
        "src_rgd_id int, dest_rgd_id int, src_species_type_key int,"
        " dest_species_type_key int, data_source string, data_set_name string",
    )
    out = grouping.merge_duplicate_relations(rels).collect()
    assert len(out) == 1
    assert out[0].data_source == "HGNC"
    assert out[0].data_set_name == "Ensembl, OrthoDB, OrthoMCL"


def test_merge_hgnc_ncbi_appends_token(spark):
    rels = spark.createDataFrame(
        [
            (1, 2, 1, 3, "HGNC", "OrthoDB, Ensembl"),
            (1, 2, 1, 3, "NCBI", "NCBI"),
        ],
        "src_rgd_id int, dest_rgd_id int, src_species_type_key int,"
        " dest_species_type_key int, data_source string, data_set_name string",
    )
    out = grouping.merge_duplicate_relations(rels).collect()
    assert len(out) == 1
    assert out[0].data_source == "HGNC"
    # HGNC evidence + literal "NCBI" token (OrthologGroup.java:36-47)
    assert out[0].data_set_name == "Ensembl, NCBI, OrthoDB"


def test_merge_conflicting_sources_raises(spark):
    rels = spark.createDataFrame(
        [
            (1, 2, 1, 3, "RGD", "manual"),
            (1, 2, 1, 3, "NCBI", "NCBI"),
        ],
        "src_rgd_id int, dest_rgd_id int, src_species_type_key int,"
        " dest_species_type_key int, data_source string, data_set_name string",
    )
    merged = grouping.merge_duplicate_relations(rels)
    with pytest.raises(ValueError, match="conflicting sources"):
        grouping.check_mergeable(merged)


def test_complement_closure_symmetry(spark):
    rels = spark.createDataFrame(
        [(1, 2, 1, 3, "HGNC", "Ensembl"), (2, 1, 3, 1, "HGNC", "Ensembl")],
        "src_rgd_id int, dest_rgd_id int, src_species_type_key int,"
        " dest_species_type_key int, data_source string, data_set_name string",
    )
    out = grouping.complement_closure(rels)
    assert out.count() == 2  # dedup: reverse already present
    pairs = {(r.src_rgd_id, r.dest_rgd_id) for r in out.collect()}
    assert pairs == {(1, 2), (2, 1)}


# ---------------------------------------------------------------------------
# W1 best-fit tie-break cascade
# ---------------------------------------------------------------------------

BF_SCHEMA = (
    "src_rgd_id int, dest_rgd_id int, dest_species_type_key int, data_source string,"
    " data_set_name string, src_gene_symbol string, dest_gene_symbol string"
)
BF_PARTS = ["src_rgd_id", "dest_species_type_key", "data_source"]


def _pick(spark, rows):
    df = spark.createDataFrame(rows, BF_SCHEMA)
    out = bestfit.best_fit(df, BF_PARTS).collect()
    assert len(out) == 1
    return out[0].dest_rgd_id


def test_best_fit_strict_evidence_winner(spark):
    # 3 evidence tokens beats 1 — strict winner despite worse symbol
    assert (
        _pick(
            spark,
            [
                (1, 20, 3, "HGNC", "A, B, C", "Gene1", "Zzz"),
                (1, 21, 3, "HGNC", "A", "Gene1", "Gene1"),
            ],
        )
        == 20
    )


def test_best_fit_tied_evidence_falls_to_symbol_over_all(spark):
    # max evidence (2) is shared by dest 20/21 → NOT a strict winner → symbol rule
    # applies over ALL candidates incl. dest 22 with 1 token (SURVEY.md §7)
    assert (
        _pick(
            spark,
            [
                (1, 20, 3, "HGNC", "A, B", "Gene1", "Xaa"),
                (1, 21, 3, "HGNC", "B, C", "Gene1", "Yaa"),
                (1, 22, 3, "HGNC", "A", "Gene1", "gene1"),  # case-insens. match
            ],
        )
        == 22
    )


def test_best_fit_alphabetical_fallback(spark):
    assert (
        _pick(
            spark,
            [
                (1, 20, 3, "HGNC", "A", "Gene1", "Bbb"),
                (1, 21, 3, "HGNC", "B", "Gene1", "aaa"),
            ],
        )
        == 21
    )


def test_best_fit_single_candidate(spark):
    assert _pick(spark, [(1, 20, 3, "NCBI", None, "Gene1", None)]) == 20


# ---------------------------------------------------------------------------
# W2 duplicate cleanup + ownership fence
# ---------------------------------------------------------------------------


def test_duplicate_cleanup_priority_and_ownership(spark):
    rows = [
        # (key, src, dest, source, created_by): NCBI dup of an RGD row, pipeline-owned
        (1, 10, 20, "RGD", 99),  # curator manual — always survives
        (2, 10, 20, "NCBI", 70),  # pipeline dup → deleted
        (3, 10, 21, "HGNC", 70),  # sole row for (10,21) → kept
        (4, 10, 22, "Alliance", 99),  # dup but NOT pipeline-owned → kept
        (5, 10, 22, "NCBI", 99),
    ]
    df = spark.createDataFrame(
        rows, "genetogene_key long, src_rgd_id int, dest_rgd_id int,"
        " xref_data_src string, created_by int"
    )
    kept, deleted = bestfit.duplicate_cleanup(df, pipeline_user_id=70)
    assert {r.genetogene_key for r in deleted.collect()} == {2}
    assert {r.genetogene_key for r in kept.collect()} == {1, 3, 4, 5}


def test_prefer_mutual_best(spark):
    df = spark.createDataFrame(
        [(1, 2, "Y", "Y"), (1, 3, "Y", "N"), (4, 5, "N", "N")],
        "g1 int, g2 int, is_best_score string, is_best_rev_score string",
    )
    out = bestfit.prefer_mutual_best(df, ["g1"])
    got = {(r.g1, r.g2) for r in out.collect()}
    assert got == {(1, 2), (4, 5)}  # g1=1 keeps only mutual-best; g1=4 keeps all


# ---------------------------------------------------------------------------
# J10 CDC sync + J9 reverse reconcile + guards
# ---------------------------------------------------------------------------

ASSOC_DDL = (
    "master_rgd_id int, detail_rgd_id int, assoc_type string, src_pipeline string,"
    " assoc_subtype string"
)
KEY = ["master_rgd_id", "detail_rgd_id", "assoc_type", "src_pipeline"]


def test_sync_full_outer_verdicts(spark):
    incoming = spark.createDataFrame(
        [
            (1, 2, "weak_ortholog", "HGNC", "Ensembl"),  # match
            (1, 3, "weak_ortholog", "HGNC", "ensembl, NEW"),  # update (case-insens.)
            (1, 4, "weak_ortholog", "HGNC", "Ensembl"),  # insert
        ],
        ASSOC_DDL,
    )
    existing = spark.createDataFrame(
        [
            (1, 2, "weak_ortholog", "HGNC", "ENSEMBL"),  # case-insensitive equal
            (1, 3, "weak_ortholog", "HGNC", "Ensembl"),
            (1, 5, "weak_ortholog", "HGNC", "Ensembl"),  # delete
        ],
        ASSOC_DDL,
    )
    out = sync.sync_full_outer(incoming, existing, KEY, ["assoc_subtype"])
    got = {r.detail_rgd_id: r.sync_verdict for r in out.collect()}
    assert got == {2: "match", 3: "update", 4: "insert", 5: "delete"}


def test_drop_covered_by_strong(spark):
    assoc = spark.createDataFrame(
        [(1, 2), (1, 3)], "master_rgd_id int, detail_rgd_id int"
    )
    strong = spark.createDataFrame(
        [(1, 2)], "src_rgd_id int, dest_rgd_id int"
    )
    out = sync.drop_covered_by_strong(assoc, strong)
    assert [(r.master_rgd_id, r.detail_rgd_id) for r in out.collect()] == [(1, 3)]


def test_missing_reverse(spark):
    orth = spark.createDataFrame(
        [(1, 2, "NCBI"), (2, 1, "NCBI"), (1, 3, "NCBI")],
        "src_rgd_id int, dest_rgd_id int, xref_data_src string",
    )
    out = sync.missing_reverse(orth)
    assert [(r.src_rgd_id, r.dest_rgd_id) for r in out.collect()] == [(1, 3)]


def test_reconcile_reverse_associations(spark):
    inserts = spark.createDataFrame(
        [(1, 2), (5, 6)], "master_rgd_id int, detail_rgd_id int"
    )
    deletes = spark.createDataFrame(
        [(2, 1), (7, 8)], "master_rgd_id int, detail_rgd_id int"
    )
    ins, dels = sync.reconcile_reverse_associations(inserts, deletes)
    assert [(r.master_rgd_id, r.detail_rgd_id) for r in ins.collect()] == [(5, 6)]
    assert [(r.master_rgd_id, r.detail_rgd_id) for r in dels.collect()] == [(7, 8)]


def test_guard_delete_threshold():
    sync.guard_delete_threshold(5, 100, 10.0)  # 5% ok
    with pytest.raises(RuntimeError, match="threshold"):
        sync.guard_delete_threshold(11, 100, 10.0)


# ---------------------------------------------------------------------------
# ANN quality: LSH recall vs the exact oracle
# ---------------------------------------------------------------------------


def test_lsh_topk_recall_floor(spark):
    """The approximate path must actually approximate: recall@10 of multi-table
    multiprobe lsh_topk vs brute_force_topk on the synthetic embeddings. At 6
    planes x 4 tables with 1-bit probing the analytic estimate is ~0.7 for
    theta~70-degree neighbours (see lsh_topk docstring); 0.6 is the pinned floor.
    Single-table no-probe recall is ~0.07 here - this test is what forbids
    regressing to that."""
    from pyspark.sql import functions as F

    from ortholog_pipeline_spark.operators import similarity as SIM

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 20)
    brute = {
        (r.query_id, r.vec_id)
        for r in SIM.brute_force_topk(emb, q, k=10).collect()
    }
    lsh = {
        (r.query_id, r.vec_id)
        for r in SIM.lsh_topk(emb, q, k=10).collect()
    }
    recall = len(brute & lsh) / len(brute)
    assert recall >= 0.6, f"recall@10 = {recall:.3f}"

    # 2-bit multiprobe (what the registered ann_lsh_topk query runs): the 22
    # probes/table must buy real recall over 1-bit's 7 — floor 0.8, and it must
    # dominate the 1-bit set (same tables, strictly more buckets probed)
    lsh2 = {
        (r.query_id, r.vec_id)
        for r in SIM.lsh_topk(emb, q, k=10, multiprobe_bits=2).collect()
    }
    recall2 = len(brute & lsh2) / len(brute)
    assert recall2 >= 0.8, f"2-bit recall@10 = {recall2:.3f}"
    assert recall2 >= recall, f"2-bit {recall2:.3f} < 1-bit {recall:.3f}"


def test_ivf_topk_recall_floor(spark):
    """IVF recall: probing 4 of 32 cells (12% of corpus) must recover most of the
    exact top-10 (measured 0.80 at sf0.01; floor 0.7)."""
    from pyspark.sql import functions as F

    from ortholog_pipeline_spark.operators import similarity as SIM

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 20)
    brute = {
        (r.query_id, r.vec_id)
        for r in SIM.brute_force_topk(emb, q, k=10).collect()
    }
    ivf = {
        (r.query_id, r.vec_id)
        for r in SIM.ivf_topk(emb, q, k=10, n_cells=32, n_probe=4).collect()
    }
    recall = len(brute & ivf) / len(brute)
    assert recall >= 0.7, f"recall@10 = {recall:.3f}"


# ---------------------------------------------------------------------------
# Connected components (large-star/small-star) — pair list to dedup clusters
# ---------------------------------------------------------------------------


def test_connected_components_known_graphs(spark):
    """Chain, triangle, pair, star, and a long path (forces multiple rounds):
    every node labels with the min id of its component."""
    from ortholog_pipeline_spark.operators.components import connected_components

    edges = [(2, 1), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21),
             (30, 31), (30, 32), (30, 33)]
    # long path 50-51-...-58 — diameter 8, converges only via repeated rounds
    edges += [(i, i + 1) for i in range(50, 58)]
    got = {
        r.node: r.component
        for r in connected_components(spark.createDataFrame(edges, ["id_1", "id_2"])).collect()
    }
    want = {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20,
            30: 30, 31: 30, 32: 30, 33: 30}
    want |= {i: 50 for i in range(50, 59)}
    assert got == want


def test_dedup_clusters_labels_singletons(spark):
    """Docs with no near-dup edge form their own 1-member cluster; members get
    the min doc id as cluster_id, and sizes count every member."""
    from ortholog_pipeline_spark.operators.components import dedup_clusters

    docs = spark.createDataFrame([(i,) for i in [1, 2, 3, 9]], ["doc_id"])
    pairs = spark.createDataFrame([(1, 2), (2, 3)], ["id_1", "id_2"])
    got = {r.doc_id: (r.cluster_id, r.cluster_size) for r in dedup_clusters(docs, pairs).collect()}
    assert got == {1: (1, 3), 2: (1, 3), 3: (1, 3), 9: (9, 1)}


def test_connected_components_partition_invariant(spark):
    """Same labels regardless of input partitioning (the determinism property a
    cluster reshuffle must not break)."""
    from ortholog_pipeline_spark.operators.components import connected_components

    edges = [(i, i + 1) for i in range(0, 40, 2)] + [(i, i + 2) for i in range(0, 38, 4)]
    df1 = spark.createDataFrame(edges, ["id_1", "id_2"]).repartition(1)
    df17 = spark.createDataFrame(edges, ["id_1", "id_2"]).repartition(17)
    r1 = sorted(map(tuple, connected_components(df1).collect()))
    r17 = sorted(map(tuple, connected_components(df17).collect()))
    assert r1 == r17


# ---------------------------------------------------------------------------
# As-of join — union + partitioned-window encoding
# ---------------------------------------------------------------------------


def test_asof_join_inclusive_and_tolerance(spark):
    """Backward as-of: latest build row at-or-before each probe ts; equal ts
    matches (inclusive); tolerance nulls out matches older than the bound."""
    import datetime as dt

    from ortholog_pipeline_spark.operators.asof import asof_join

    T = lambda s: dt.datetime(2024, 1, 1, 0, 0, s)  # noqa: E731
    probe = spark.createDataFrame(
        [(1, 1, T(10)), (2, 1, T(20)), (3, 2, T(5)), (4, 1, T(15))],
        ["event_id", "user_id", "ts"],
    )
    build = spark.createDataFrame(
        [(1, T(10), 100.0), (1, T(15), 150.0), (2, T(6), 60.0)],
        ["user_id", "ts", "value"],
    )
    out = asof_join(probe, build, value_cols=["value"]).orderBy("event_id")
    assert [(r.event_id, r.value_asof) for r in out.collect()] == [
        (1, 100.0), (2, 150.0), (3, None), (4, 150.0)
    ]
    out2 = asof_join(
        probe, build, value_cols=["value"],
        tolerance=F.expr("INTERVAL 3 SECONDS"),
    ).orderBy("event_id")
    assert [(r.event_id, r.value_asof) for r in out2.collect()] == [
        (1, 100.0), (2, None), (3, None), (4, 150.0)
    ]


def test_asof_join_single_shuffle_plan(spark):
    """The encoding must stay one exchange on the key — no range join, no
    cartesian product in the physical plan."""
    import datetime as dt

    from ortholog_pipeline_spark.operators.asof import asof_join

    T = lambda s: dt.datetime(2024, 1, 1, 0, 0, s)  # noqa: E731
    probe = spark.createDataFrame([(1, 1, T(10))], ["event_id", "user_id", "ts"])
    build = spark.createDataFrame([(1, T(5), 1.0)], ["user_id", "ts", "value"])
    plan = asof_join(probe, build, value_cols=["value"])._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    assert plan.count("Exchange hashpartitioning") <= 2  # union sides feed one window shuffle


# ---------------------------------------------------------------------------
# Deterministic sampling
# ---------------------------------------------------------------------------


def test_sampling_partition_invariant_and_exact_quota(spark):
    """Hash-based membership is identical on any partitioning; stratified
    sampling returns exactly ceil(n*f) rows per stratum."""
    import math

    from ortholog_pipeline_spark.operators.sampling import (
        stratified_exact_sample,
        train_holdout_split,
    )

    rows = [(i, "abc"[i % 3]) for i in range(300)]
    df1 = spark.createDataFrame(rows, ["k", "stratum"]).repartition(1)
    df13 = spark.createDataFrame(rows, ["k", "stratum"]).repartition(13)

    s1 = {(r.k, r.split) for r in train_holdout_split(df1, "k", 0.2).collect()}
    s13 = {(r.k, r.split) for r in train_holdout_split(df13, "k", 0.2).collect()}
    assert s1 == s13
    n_hold = sum(1 for _, s in s1 if s == "holdout")
    assert 0.1 < n_hold / 300 < 0.3  # ~20%, hash-uniform

    got1 = sorted((r.k, r.stratum) for r in stratified_exact_sample(df1, ["stratum"], "k", 0.1).collect())
    got13 = sorted((r.k, r.stratum) for r in stratified_exact_sample(df13, ["stratum"], "k", 0.1).collect())
    assert got1 == got13
    per = {}
    for _, s in got1:
        per[s] = per.get(s, 0) + 1
    assert per == {s: math.ceil(100 * 0.1) for s in "abc"}


# ---------------------------------------------------------------------------
# Range (interval) join
# ---------------------------------------------------------------------------


def test_interval_join_bucketized_semantics(spark):
    """Inclusive start / exclusive end, per-key matching, sub-second
    boundaries, and intervals spanning multiple buckets."""
    import datetime as dt

    from ortholog_pipeline_spark.operators.rangejoin import interval_join

    T = lambda s, us=0: dt.datetime(2024, 1, 1, 0, 0, 0) + dt.timedelta(  # noqa: E731
        seconds=s, microseconds=us
    )
    points = spark.createDataFrame(
        [
            (1, 1, T(0)),        # == start: in
            (2, 1, T(7200)),     # == end: out (exclusive)
            (3, 1, T(3600)),     # mid, spans bucket boundary: in
            (4, 2, T(3600)),     # other key, no interval: out
            (5, 1, T(0, 500)),   # sub-second into interval: in
        ],
        ["event_id", "user_id", "ts"],
    )
    ivals = spark.createDataFrame(
        [(1, T(0), T(7200), "w1")], ["user_id", "start", "end", "tag"]
    )
    got = sorted(
        r.event_id
        for r in interval_join(
            points, ivals, ts_col="ts", start_col="start", end_col="end",
            by=["user_id"], bucket_seconds=3600,
        ).collect()
    )
    assert got == [1, 3, 5]

    plan = interval_join(
        points, ivals, ts_col="ts", start_col="start", end_col="end",
        by=["user_id"], bucket_seconds=3600,
    )._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_contamination_check_flags_planted_dup(spark):
    """A holdout document replicated into train must surface with containment
    1.0 and the contaminated flag; disjoint docs stay below threshold."""
    from ortholog_pipeline_spark.operators.dedup import contamination_check
    from ortholog_pipeline_spark.operators.sampling import train_holdout_split

    base = [(i, f"unique text body number {i} with filler tokens alpha beta gamma delta {i}") for i in range(40)]
    df = spark.createDataFrame(base, ["doc_id", "text"])
    split = {r.doc_id: r.split for r in train_holdout_split(df, "doc_id", 0.2).collect()}
    hold_id = next(i for i in sorted(split) if split[i] == "holdout")
    train_id = next(i for i in sorted(split) if split[i] == "train")
    # plant: train doc gets the holdout doc's exact text
    planted = [(i, dict(base)[hold_id] if i == train_id else t) for i, t in base]
    got = {
        r.holdout_id: (r.best_train_id, r.containment, r.contaminated)
        for r in contamination_check(
            spark.createDataFrame(planted, ["doc_id", "text"]),
            holdout_fraction=0.2,
        ).collect()
    }
    assert got[hold_id] == (train_id, 1.0, True)
    for hid, (_, cont, flag) in got.items():
        if hid != hold_id:
            assert not flag and cont < 0.8


def test_hll_registers_merge_and_error_bound(spark):
    """The defining sketch property: registers built on disjoint halves and
    re-maxed equal the registers of the whole — so the estimate merges without
    touching raw data. And the estimate lands within 4 sigma (~26% at m=256)
    of the exact count."""
    from ortholog_pipeline_spark.operators.sketches import (
        hll_distinct,
        hll_estimate,
        hll_registers,
    )

    li = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet")
    whole = hll_distinct(li, "l_orderkey", ["l_returnflag"])
    halves = [
        hll_registers(li.filter(F.col("l_orderkey") % 2 == p), "l_orderkey",
                      ["l_returnflag"])
        for p in (0, 1)
    ]
    merged_regs = (
        halves[0].unionByName(halves[1])
        .groupBy("l_returnflag", "bucket")
        .agg(F.max("mj").alias("mj"))
    )
    merged = hll_estimate(merged_regs, ["l_returnflag"])
    a = {r.l_returnflag: r.hll_estimate for r in whole.collect()}
    b = {r.l_returnflag: r.hll_estimate for r in merged.collect()}
    assert a == b and len(a) == 3

    exact = {
        r.l_returnflag: r.n
        for r in li.groupBy("l_returnflag")
        .agg(F.countDistinct("l_orderkey").alias("n"))
        .collect()
    }
    for k, est in a.items():
        assert abs(est - exact[k]) / exact[k] < 0.26


def test_pagerank_fixed_point_hand_graph(spark):
    """Exact integer trajectory on a hand graph (a->b, b->a, a->c), 3 iters —
    values computed by hand; any arithmetic drift (float contributions,
    different div order) breaks this equality."""
    from ortholog_pipeline_spark.operators.graph import pagerank_fixed_point

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "a"), ("a", "c")], ["src", "dst"]
    )
    got = {r.node: r.rank_scaled for r in pagerank_fixed_point(edges, 3).collect()}
    assert got == {"a": 638750, "b": 421468, "c": 421468}


def test_editdist1_join_planted_typos(spark):
    """Deletion-neighborhood join finds exactly the distance-1 pairs: catches
    substitution/insert/delete, rejects the transposition ('ab','ba') and
    distance-2 chains ('kitten','sittin')."""
    from ortholog_pipeline_spark.operators.dedup import editdist1_join

    df = spark.createDataFrame(
        [(s,) for s in ["kitten", "sitten", "sittin", "abc", "ab", "ba"]], ["s"]
    )
    pairs = {(r.s1, r.s2) for r in editdist1_join(df, "s").collect()}
    assert pairs == {("kitten", "sitten"), ("sitten", "sittin"), ("ab", "abc")}


def test_editdist1_join_blocked_equals_filtered_unblocked(spark):
    """Composing block_cols into the variant join key must equal the unblocked
    join restricted to same-block pairs — blocking changes cost, never the
    within-block result. Duplicate names across blocks exercise the case the
    global join collapses (distinct names) but the blocked join must keep."""
    from pyspark.sql import functions as F

    from ortholog_pipeline_spark.operators.dedup import editdist1_join

    rows = [
        (1, "kitten", 10), (2, "sitten", 10), (3, "sittin", 10),
        (4, "kitten", 20), (5, "kitten", 20), (6, "bitten", 20),
        (7, "ab", 10), (8, "abc", 20),  # cross-block d1 pair: must NOT match
    ]
    df = spark.createDataFrame(rows, ["k", "s", "blk"])

    blocked = {
        (r.blk, r.s1, r.s2)
        for r in editdist1_join(df, "s", block_cols=["blk"]).collect()
    }
    names_by_block = {
        (r.blk, r.s) for r in df.select("blk", "s").distinct().collect()
    }
    unblocked = {
        (r.s1, r.s2) for r in editdist1_join(df, "s").collect()
    }
    expect = {
        (b, s1, s2)
        for (b, s1) in names_by_block
        for (b2, s2) in names_by_block
        if b == b2 and s1 < s2 and (s1, s2) in unblocked
    }
    assert blocked == expect
    assert ("ab", "abc") in unblocked  # sanity: global join sees it
    assert not any(p[1:] == ("ab", "abc") for p in blocked)


def test_global_rank_matches_window_any_partitioning(spark):
    """Distributed rank == single-partition row_number, at several partition
    counts (boundary-straddling ties exercised via duplicate values with a
    unique tie-break)."""
    from pyspark.sql import Window

    from ortholog_pipeline_spark.operators.ranking import global_rank

    df = spark.createDataFrame(
        [(i % 7, i) for i in range(500)], ["v", "id"]
    )
    want = df.withColumn(
        "rank", F.row_number().over(Window.orderBy("v", "id")).cast("long")
    )
    for n in (3, 8, 17):
        got = global_rank(df, ["v", "id"], num_partitions=n)
        assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0


def test_global_prefix_sum_negative_deltas_any_partitioning(spark):
    """Running sum with ±1 deltas (non-monotonic — catches the max-vs-sum
    partition-total bug) equals the single-partition window at several
    partition counts."""
    from pyspark.sql import Window

    from ortholog_pipeline_spark.operators.ranking import global_prefix_sum

    rows = [(i, 1 if i % 3 else -1) for i in range(400)]
    df = spark.createDataFrame(rows, ["t", "delta"])
    want = df.withColumn(
        "running_sum",
        F.sum("delta").over(
            Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    for n in (4, 9):
        got = global_prefix_sum(df, ["t"], "delta", num_partitions=n)
        assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0


# ---------------------------------------------------------------------------
# Round-2 additions: k-means, quality suite, weighted sampling, quantization,
# repetition stats
# ---------------------------------------------------------------------------


def test_kmeans_separates_synthetic_clusters(spark):
    """Two tight, well-separated blobs must come out as two pure clusters, and
    the result must be identical across partitionings (the rounding of centroid
    means is what pins float partial-agg order)."""
    from pyspark.sql import functions as F

    from ortholog_pipeline_spark.operators import clustering as CLU

    rows = []
    for i in range(40):
        base = 0.0 if i % 2 == 0 else 10.0
        rows.append((i, [base + (i % 5) * 0.01] * 4))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out1 = CLU.kmeans_fit_assign(df, k=2, iters=3).collect()
    out2 = CLU.kmeans_fit_assign(df.repartition(7), k=2, iters=3).collect()
    assert sorted((r.vec_id, r.cluster, r.dist2) for r in out1) == sorted(
        (r.vec_id, r.cluster, r.dist2) for r in out2
    )
    by_parity = {}
    for r in out1:
        by_parity.setdefault(r.vec_id % 2, set()).add(r.cluster)
    assert by_parity[0] != by_parity[1]
    assert all(len(v) == 1 for v in by_parity.values())


def test_validation_suite_detects_violations(spark):
    from ortholog_pipeline_spark.operators import quality as QC

    child = spark.createDataFrame(
        [(1, None, 5.0, "X"), (1, "a", 500.0, "O"), (2, "b", 7.0, "F")],
        "k long, s string, v double, st string",
    )
    parent = spark.createDataFrame([(1,)], "k long")
    checks = QC.compile_checks(
        completeness=["s"],
        unique=["k"],
        ranges=[("v", 0.0, 100.0)],
        accepted=[("st", ("O", "F"))],
    )
    rep = {
        r.check: (r.metric, r.passed)
        for r in QC.validation_suite(
            [
                QC.single_pass_report(child, checks),
                QC.referential_report(child, parent, "k", "k"),
            ]
        ).collect()
    }
    assert rep["completeness:s"] == (round(2 / 3, 6), False)
    assert rep["unique:k"] == (1.0, False)  # duplicate k=1
    assert rep["range:v"] == (1.0, False)  # 500 out of range
    assert rep["accepted:st"] == (1.0, False)  # 'X'
    assert rep["referential:k->k"] == (1.0, False)  # k=2 orphan


def test_weighted_sample_overrepresents_heavy_rows(spark):
    """Rows with 50x the weight must appear in the top-k far more often than
    light rows, and the draw must be partitioning-independent."""
    from pyspark.sql import functions as F

    from ortholog_pipeline_spark.operators import sampling as SMP

    df = spark.range(2000).select(
        F.col("id").alias("k"),
        F.when(F.col("id") < 200, F.lit(50.0)).otherwise(F.lit(1.0)).alias("w"),
    )
    got = SMP.weighted_sample_topk(df, "k", F.col("w"), k=100).collect()
    got2 = SMP.weighted_sample_topk(df.repartition(13), "k", F.col("w"), k=100).collect()
    assert sorted(r.k for r in got) == sorted(r.k for r in got2)
    heavy = sum(1 for r in got if r.k < 200)
    # 200 heavy rows at weight 50 vs 1800 light at weight 1: expected heavy
    # share ~ 200*50/(200*50+1800) ~ 85%; assert a loose floor
    assert heavy >= 60, f"heavy rows in sample: {heavy}/100"


def test_quantize_int8_roundtrip_error_bound(spark):
    """Dequantized values must be within scale/2 of the original (the rounding
    guarantee), q must saturate at +/-127, and the zero vector must not NaN."""
    from pyspark.sql import functions as F

    from ortholog_pipeline_spark.operators import similarity as SIM

    df = spark.createDataFrame(
        [(0, [1.27, -1.27, 0.005, 0.0]), (1, [0.0, 0.0, 0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    out = {r.vec_id: r for r in SIM.quantize_int8(df).collect()}
    r0 = out[0]
    assert max(abs(q) for q in r0.q) == 127
    for orig, q in zip([1.27, -1.27, 0.005, 0.0], r0.q):
        assert abs(orig - q * r0.scale) <= r0.scale / 2 + 1e-12
    assert out[1].scale == 1.0 and list(out[1].q) == [0, 0, 0, 0]


def test_repetition_stats_flags_repeats(spark):
    from pyspark.sql import functions as F

    from ortholog_pipeline_spark.functions import text as TXT

    df = spark.createDataFrame(
        [
            (0, "spam spam spam spam spam spam"),
            (1, "one two three four five six seven"),
            (2, "ab"),
            (3, ""),
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: r.f
        for r in df.select(
            "doc_id", TXT.dup_ngram_fraction("text", 3).alias("f")
        ).collect()
    }
    assert got[0] == 0.75  # 4 trigrams, 1 distinct
    assert got[1] == 0.0
    assert got[2] == 0.0 and got[3] == 0.0


def test_incremental_minhash_probes_only_batch_vs_index(spark):
    """A batch doc near-duplicating an index doc is reported; two near-dup
    batch docs are NOT (batch-internal pairs are out of scope); unrelated docs
    produce nothing."""
    from ortholog_pipeline_spark.operators import dedup as DD

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    index = spark.createDataFrame(
        [(1, base), (2, "completely different words entirely unrelated here now")],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [(101, base + " lambda"), (102, base + " mu")],
        "doc_id long, text string",
    )
    got = DD.incremental_minhash_dedup(index, batch, threshold=0.5).collect()
    pairs = {(r.batch_id, r.index_id) for r in got}
    assert (101, 1) in pairs and (102, 1) in pairs
    assert all(b in (101, 102) and i in (1, 2) for b, i in pairs)


def test_chunk_starts_overlap_and_edges(spark):
    from pyspark.sql import functions as F

    from ortholog_pipeline_spark.functions import text as TXT

    df = spark.createDataFrame(
        [(0, " ".join(f"t{i}" for i in range(100))), (1, "a b"), (2, "")],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: r.s
        for r in df.select(
            "doc_id", TXT.chunk_starts("text", stride=48).alias("s")
        ).collect()
    }
    assert got[0] == [1, 49, 97]  # 100 tokens -> starts at 1, 49, 97
    assert got[1] == [1]
    assert got[2] == []


def test_zorder_interleave_bits(spark):
    """zkey(x=0b11, y=0b01) = bits x->even positions, y->odd: 0b0111 = 7; and
    a z-bucket must bound both dimensions tighter than a 1-d sort would bound
    the second dimension."""
    from pyspark.sql import functions as F

    from ortholog_pipeline_spark.operators import layout as LAY

    df = spark.createDataFrame([(3, 1), (0, 0), (1, 2)], "x long, y long")
    got = {
        (r.x, r.y): r.z
        for r in df.select(
            "x", "y", LAY.zorder_key2(F.col("x"), F.col("y"), bits=4).alias("z")
        ).collect()
    }
    assert got[(3, 1)] == 0b0111
    assert got[(0, 0)] == 0
    assert got[(1, 2)] == 0b1001  # x bit0 -> pos0, y bit1 -> pos3


def test_dedup_index_probe_matches_recompute(spark, tmp_path):
    """The stored-index probe must return exactly what the recompute-everything
    operator returns."""
    from pyspark.sql import functions as F

    from ortholog_pipeline_spark.operators import dedup as DD
    from ortholog_pipeline_spark.operators import dedup_index as DI
    from ortholog_pipeline_spark.sources.state import StateStore

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    index_docs = docs.filter(F.col("doc_id") % 10 != 7)
    batch = docs.filter(F.col("doc_id") % 10 == 7)

    store = StateStore(spark, str(tmp_path / "ix"))
    DI.build_dedup_index(store, index_docs)
    got = sorted(
        map(tuple, DI.probe_dedup_index(store, batch, threshold=0.5).collect())
    )
    want = sorted(
        map(
            tuple,
            DD.incremental_minhash_dedup(index_docs, batch, threshold=0.5).collect(),
        )
    )
    assert got == want


def test_bloom_prefilter_actually_filters(spark):
    """The Bloom stage must pass every true match and reject most non-matches
    BEFORE the exact verify: measure the candidate count on a key space where
    10% of keys are in the filter."""
    from pyspark.sql import functions as F

    from ortholog_pipeline_spark.operators.dedup import hex_hash64, pow2

    BITS, SALTS = 1 << 16, ("b0", "b1", "b2")

    def pos(key, s):
        return F.pmod(hex_hash64(F.concat(F.lit(s), key.cast("string"))), F.lit(BITS))

    keys = spark.range(1000).select((F.col("id") * 10).alias("k"))  # in-filter
    probe = spark.range(10_000).select(F.col("id").alias("k"))  # 10% hit
    pairs = keys.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        (pos(F.col("k"), s) / 32).cast("int").alias("word"),
                        F.pmod(pos(F.col("k"), s), F.lit(32)).alias("bit"),
                    )
                    for s in SALTS
                ]
            )
        ).alias("p")
    ).select("p.word", pow2(F.col("p.bit")).alias("mask"))
    bloom = pairs.groupBy("word").agg(F.bit_or("mask").cast("long").alias("bits"))
    cand = probe
    for i, s in enumerate(SALTS):
        p = pos(F.col("k"), s)
        cand = (
            cand.withColumn(f"_w{i}", (p / 32).cast("int"))
            .withColumn(f"_m{i}", pow2(F.pmod(p, F.lit(32))))
            .join(
                F.broadcast(
                    bloom.withColumnsRenamed({"word": f"_w{i}", "bits": f"_b{i}"})
                ),
                f"_w{i}",
            )
            .filter(F.col(f"_b{i}").bitwiseAND(F.col(f"_m{i}")) != 0)
            .drop(f"_w{i}", f"_m{i}", f"_b{i}")
        )
    n_cand = cand.count()
    true_hits = {r.k for r in keys.collect()}
    got = {r.k for r in cand.collect()}
    assert true_hits <= got  # zero false negatives — the Bloom guarantee
    # m/n = 65536/1000, k=3 -> theoretical FP ~ (1-e^(-3000/65536))^3 ~ 9e-5;
    # allow two orders of slack and still prove filtering happened
    assert n_cand - 1000 < 100, f"{n_cand - 1000} false positives"


def test_triangle_count_hand_graph(spark):
    """K4 minus one edge has exactly 2 triangles; the query's canonical
    ordering counts each once."""
    from pyspark.sql import functions as F

    edges = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4)]  # missing (3,4)
    e = spark.createDataFrame(edges, "u long, v long")
    e1 = e.select(F.col("u").alias("x"), F.col("v").alias("y"))
    e2 = e.select(F.col("u").alias("y"), F.col("v").alias("z"))
    e3 = e.select(F.col("u").alias("x"), F.col("v").alias("z"))
    assert e1.join(e2, "y").join(e3, ["x", "z"]).count() == 2


def test_spatial_grid_finds_planted_neighbors(spark):
    """A planted pair closer than eps must be found even when it straddles a
    cell boundary; a far pair must not."""
    from pyspark.sql import functions as F

    eps = 0.02
    pts = spark.createDataFrame(
        [
            (1, 0.019999, 0.5),  # cell 0 in x
            (2, 0.020001, 0.5),  # cell 1 in x — boundary-straddling neighbor
            (3, 0.5, 0.5),       # far from both
        ],
        "id long, x double, y double",
    )
    a = pts.withColumn("cx", F.floor(F.col("x") / eps).cast("long")).withColumn(
        "cy", F.floor(F.col("y") / eps).cast("long")
    )
    offs = F.explode(
        F.array(
            *[
                F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
                for dx in (-1, 0, 1)
                for dy in (-1, 0, 1)
            ]
        )
    )
    probes = a.select("id", "x", "y", "cx", "cy", offs.alias("o")).select(
        "id",
        "x",
        "y",
        (F.col("cx") + F.col("o.dx")).alias("cx"),
        (F.col("cy") + F.col("o.dy")).alias("cy"),
    )
    l = probes.withColumnsRenamed({"id": "id_1", "x": "x1", "y": "y1"})
    r = a.withColumnsRenamed({"id": "id_2", "x": "x2", "y": "y2"})
    dist = F.sqrt(
        (F.col("x1") - F.col("x2")) ** 2 + (F.col("y1") - F.col("y2")) ** 2
    )
    got = {
        (row.id_1, row.id_2)
        for row in l.join(r, ["cx", "cy"])
        .filter((F.col("id_1") < F.col("id_2")) & (dist < eps))
        .collect()
    }
    assert got == {(1, 2)}


# ---------------------------------------------------------------------------
# Wave 14: JL random projection must actually preserve neighborhoods
# ---------------------------------------------------------------------------


def test_rp_reduce_distortion_bound():
    """The Johnson-Lindenstrauss property the 64->8 projection must deliver:
    squared pairwise distances in the reduced space are an UNBIASED estimate of
    full-space distances (E[ratio] = 1 for +-1/sqrt(k) signs), with bounded
    spread. Pins the shared md5 sign matrix's geometry: a sign-generation or
    scaling regression would shift the median or blow out the tails long
    before any downstream query notices. (Top-3 RANK recall is deliberately
    not pinned: the synthetic embeddings are isotropic noise, where rank
    survival at k=8 is near-zero by the JL bound itself - the projection is a
    candidate generator + distance sketch, which is what this bound certifies.)
    """
    import duckdb
    import numpy as np

    from ortholog_pipeline_spark.operators.similarity import plane_signs

    rows = duckdb.sql(
        "select embedding from '/root/testdata/sf0.01/embeddings.parquet' order by vec_id"
    ).fetchall()
    V = np.array([r[0] for r in rows], dtype=np.float64)
    signs = np.array(plane_signs(8, 64))
    R = (V @ signs.T) / np.sqrt(8.0)
    n = len(V)
    pairs = [(i % n, (i * 7 + 13) % n) for i in range(1000) if i % n != (i * 7 + 13) % n]
    full = np.array([((V[a] - V[b]) ** 2).sum() for a, b in pairs])
    red = np.array([((R[a] - R[b]) ** 2).sum() for a, b in pairs])
    ratio = red[full > 0] / full[full > 0]
    assert 0.6 <= np.median(ratio) <= 1.5, np.median(ratio)
    assert np.percentile(ratio, 10) >= 0.2
    assert np.percentile(ratio, 90) <= 2.5


def test_minhash_collapse_exact_output_identical(spark):
    """The exact-duplicate collapse (collapse_exact=True) must be
    OUTPUT-IDENTICAL to the uncollapsed default pipeline: identical shingle sets give
    identical signatures and band keys, so intra-group pairs are always
    emitted at Jaccard 1 by both paths and cross-group pairs inherit their
    representatives' verdict exactly. Corpus: real sf0.001 documents plus
    planted exact-duplicate clusters (pairs AND a triple, including a
    duplicate of a doc that also has near-dup neighbors)."""
    from pyspark.sql import functions as F

    from ortholog_pipeline_spark.operators import dedup as DD

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    dup1 = docs.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 100_000).alias("doc_id"), "text"
    )
    dup2 = docs.filter(F.col("doc_id") % 21 == 0).select(
        (F.col("doc_id") + 200_000).alias("doc_id"), "text"
    )
    corpus = docs.unionByName(dup1).unionByName(dup2)

    def run(collapse):
        return {
            (r.id_1, r.id_2, r.jaccard)
            for r in DD.minhash_lsh_dedup(
                corpus, k=3, num_hashes=16, bands=4, threshold=0.5,
                collapse_exact=collapse,
            ).collect()
        }

    fast, naive = run(True), run(False)
    assert fast == naive
    # sanity: the planted clusters actually exercised the expansion paths
    intra = {(a, b) for a, b, j in fast if j == 1.0}
    assert any(b - a == 100_000 for a, b in intra)  # pair clusters
    assert any(b - a == 200_000 for a, b in intra)  # triple clusters


def test_minhash_collapse_large_group_expansion_exactly_once(spark):
    """r8: the intra-group expansion is a bucketed triangle join (one
    identical-text group no longer builds its C(g,2) pairs in a single
    task). A 100-member group spans every hash bucket, exercising both the
    same-bucket (_m < _m2) and every cross-bucket (bi < bj) path — each
    unordered pair must materialize EXACTLY once, id-ordered, at Jaccard 1,
    and cross-group near-dup pairs must still expand to all members."""
    from pyspark.sql import functions as F

    from ortholog_pipeline_spark.operators import dedup as DD

    base = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    donor = base.filter(F.col("doc_id") == 7).select("text").first().text
    big = spark.createDataFrame(
        [(1_000_000 + i, donor) for i in range(100)], "doc_id long, text string"
    )
    corpus = base.filter(F.col("doc_id") != 7).unionByName(big)

    # target_members_per_bucket=8 forces the 100-member group onto the
    # multi-bucket path (r9: bucket count is per-group-size; the default 256
    # would give this group the replication-free single bucket)
    rows = DD.minhash_lsh_dedup(
        corpus, k=3, num_hashes=16, bands=4, threshold=0.5, collapse_exact=True,
        target_members_per_bucket=8,
    ).collect()
    intra = [
        (r.id_1, r.id_2)
        for r in rows
        if r.id_1 >= 1_000_000 and r.id_2 >= 1_000_000
    ]
    # exactly C(100, 2) pairs, no duplicates, id_1 < id_2 everywhere
    assert len(intra) == 100 * 99 // 2
    assert len(set(intra)) == len(intra)
    assert all(a < b for a, b in intra)
    assert all(
        r.jaccard == 1.0
        for r in rows
        if r.id_1 >= 1_000_000 and r.id_2 >= 1_000_000
    )
    # and the whole output still matches the uncollapsed pipeline
    naive = {
        (r.id_1, r.id_2, r.jaccard)
        for r in DD.minhash_lsh_dedup(
            corpus, k=3, num_hashes=16, bands=4, threshold=0.5,
            collapse_exact=False,
        ).collect()
    }
    assert {(r.id_1, r.id_2, r.jaccard) for r in rows} == naive


def test_minhash_expansion_bucket_count_is_per_group_size(spark):
    """ADVICE r8 (low): the triangle-join bucket count must scale with GROUP
    size — a flat defaultParallelism made every pair/triple group pay ~B/2×
    row replication for a straggler only giant groups exhibit. Mixed corpus:
    a 2-member group (B_g = 1, replication-free path) and a 40-member group
    (B_g = ceil(40/8) capped at defaultParallelism) through one call — every
    unordered pair exactly once on both paths, and the two paths coexist in
    one plan (per-row bucket counts, not a global constant)."""
    from ortholog_pipeline_spark.operators import dedup as DD

    text_a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    text_b = "one two three four five six seven eight nine ten eleven twelve"
    docs = [(i, text_a) for i in range(2)] + [
        (100 + i, text_b) for i in range(40)
    ]
    corpus = spark.createDataFrame(docs, "doc_id long, text string")
    rows = DD.minhash_lsh_dedup(
        corpus, k=3, num_hashes=16, bands=4, threshold=0.9,
        collapse_exact=True, target_members_per_bucket=8,
    ).collect()
    pairs = {(r.id_1, r.id_2) for r in rows}
    assert len(pairs) == len(rows), "a pair materialized twice"
    small = {p for p in pairs if p[1] < 100}
    big = {p for p in pairs if p[0] >= 100}
    assert small == {(0, 1)}
    assert big == {
        (100 + i, 100 + j) for i in range(40) for j in range(i + 1, 40)
    }
    assert small | big == pairs
    assert all(r.jaccard == 1.0 for r in rows)


@pytest.mark.parametrize("target", [None, 0])
def test_minhash_rejects_non_positive_bucket_target(spark, target):
    """Per-group sizing is the only bucket sizing: a target that is not a
    positive int (``None`` once meant a flat legacy sizing) is refused before
    any plan is built."""
    from ortholog_pipeline_spark.operators import dedup as DD

    corpus = spark.createDataFrame([(1, "a b c d")], "doc_id long, text string")
    with pytest.raises(ValueError, match="target_members_per_bucket"):
        DD.minhash_lsh_dedup(
            corpus, collapse_exact=True, target_members_per_bucket=target
        )


def test_mh_udf_matches_expression_path(spark):
    """r10 optimization pin: the Arrow-batched (h31, sig) producer must be
    VALUE-IDENTICAL to the higher-order-function expression path it replaced
    (hashed_shingles31 + the affine signature arrays) — same shingle SET per
    doc, same signature — including on whitespace adversaries (Java split
    drops trailing empty tokens and keeps a leading one; Spark trim strips
    0x20 only; Java \\s is ASCII-only)."""
    from pyspark.sql import functions as F

    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "  leading and   multiple   spaces here ok  "),
        (3, "\ttab\tseparated\ttokens\tkeep\tjava\tsemantics\t"),
        (4, "a b"),              # < 3 tokens -> empty shingles
        (5, ""),                 # empty
        (6, None),               # null text
        (7, "x y z w v"),  # NBSP is NOT Java \s: stays inside a token
        (8, "dup dup dup dup dup dup"),
        (9, "mixed\ncase\rnewline\x0bhandling of rare separators one two"),
        (10, " \t trailing tab then words a b c d \t "),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    from ortholog_pipeline_spark.operators import dedup as DD

    expr = df.select(
        "doc_id", DD.hashed_shingles31("text", 3).alias("h31")
    ).filter(F.size("h31") > 0)

    def affine(a, b):
        return lambda x: F.pmod(F.lit(a) * x + F.lit(b), F.lit(DD.MINHASH_P))

    expr = expr.select(
        "doc_id",
        F.array_sort("h31").alias("h31"),
        F.array(
            *[
                F.array_min(F.transform(F.col("h31"), affine(a, b)))
                for a, b in DD.minhash_params(16)
            ]
        ).alias("sig"),
    )
    udf = DD.shingle_sig_frame(df, "text", "doc_id", 16)
    a = {r["doc_id"]: (list(r["h31"]), list(r["sig"])) for r in expr.collect()}
    b = {r["doc_id"]: (sorted(r["h31"]), list(r["sig"])) for r in udf.collect()}
    assert a == b


def test_h31_identical_across_sig_variants(spark):
    """The sig-free producer (``num_hashes=0``) and the signature producer
    (``num_hashes=16``) emit the same h31 array per doc, and both hold the
    shingle set of the ``hashed_shingles31`` reference twin."""
    from pyspark.sql import functions as F

    from ortholog_pipeline_spark.operators import dedup as DD

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )

    def h31(num_hashes):
        frame = DD.shingle_sig_frame(docs, "text", "doc_id", num_hashes)
        return {r["doc_id"]: list(r["h31"]) for r in frame.collect()}

    ref = docs.select("doc_id", DD.hashed_shingles31("text", 3).alias("h31"))
    ref = {
        r["doc_id"]: sorted(r["h31"])
        for r in ref.filter(F.size("h31") > 0).collect()
    }
    sig_free, with_sig = h31(0), h31(16)
    assert len(ref) > 100
    assert sig_free == with_sig
    assert {k: sorted(v) for k, v in sig_free.items()} == ref
