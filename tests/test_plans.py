"""End-to-end flow tests (SURVEY.md §3): species load, AGR load, fix-xref — each run
against a seeded snapshot StateStore on fixture data shaped like FIXTURES.md.
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from ortholog_pipeline_spark.plans import (
    check_agr_freshness,
    run_agr_load,
    run_fix_xref_data_set,
    run_species_load,
)
from ortholog_pipeline_spark.plans.species_load import (
    _conflict_verdicts,
    _rank_existing,
    _symbol_dim,
)
from ortholog_pipeline_spark.schemas import AGR_SCHEMA
from ortholog_pipeline_spark.sources.state import StateStore
from table_schemas import (
    AGR_ORTHOLOGS_SCHEMA,
    ASSOCIATIONS_SCHEMA,
    GENES_SCHEMA,
    ORTHOLOGS_SCHEMA,
    RELATION_SCHEMA,
    RGD_IDS_SCHEMA,
    XREFS_SCHEMA,
)
from test_state_store import is_partitioned_by

RUN_TS = dt.datetime(2026, 1, 15, 12, 0, 0)
OLD_TS = dt.datetime(2025, 12, 1, 0, 0, 0)
RAT = 3


def _seed_store(spark, tmp_path, orthologs_layout=None) -> StateStore:
    store = StateStore(spark, str(tmp_path / "state"))

    genes = [
        # (rgd_id, symbol, type, ensembl_symbol, species)
        (1, "A2M", "protein-coding", None, 1),
        (2, "BRCA2", "protein-coding", None, 1),
        (3, "TP53", "protein-coding", None, 1),
        (4, "OLDGENE", "protein-coding", None, 1),
        (5, "LONELY", "protein-coding", None, 1),
        (100, "A2m", "protein-coding", None, RAT),
        (101, "Brca2", "protein-coding", None, RAT),
        (102, "Tp53", "protein-coding", None, RAT),
        (103, "Zzz1", "protein-coding", None, RAT),
        (104, "Aaa1", "protein-coding", None, RAT),
        (200, "A2m", "protein-coding", None, 2),
    ]
    store.write("genes", spark.createDataFrame(genes, GENES_SCHEMA))

    rgd_ids = [
        (i, "ACTIVE", sp, 1, None)
        for i, sp in [
            (1, 1), (2, 1), (3, 1), (4, 1), (5, 1),
            (100, RAT), (101, RAT), (102, RAT), (103, RAT), (104, RAT), (200, 2),
        ]
    ]
    store.write("rgd_ids", spark.createDataFrame(rgd_ids, RGD_IDS_SCHEMA))

    xrefs = [
        # (acc_xdb_key, rgd_id, acc_id, xdb_key, src_pipeline, modification_date)
        (1, 1, "h1", 3, "P", OLD_TS),
        (2, 2, "h2", 3, "P", OLD_TS),
        (3, 3, "h3", 3, "P", OLD_TS),
        (4, 100, "r100", 3, "P", OLD_TS),
        (5, 101, "r101", 3, "P", OLD_TS),
        (6, 102, "r102", 3, "P", OLD_TS),
        (7, 103, "r103", 3, "P", OLD_TS),
        (8, 104, "r104", 3, "P", OLD_TS),
        # AGR curies (xdb 63)
        (9, 1, "HGNC:1", 63, "P", OLD_TS),
        (10, 100, "RGD:100", 63, "P", OLD_TS),
        (11, 2, "HGNC:2", 63, "P", OLD_TS),
    ]
    store.write("xrefs", spark.createDataFrame(xrefs, XREFS_SCHEMA))

    orthologs = [
        # manual curator ortholog for gene 1 → tier 1 pick, immortal
        (1, 1, 100, 1, RAT, None, "RGD", "manual", 11, None, 1, OLD_TS, 1, OLD_TS),
        # pipeline HGNC ortholog for gene 2 matching the incoming pick → MATCH
        (2, 2, 101, 1, RAT, None, "HGNC", "Ensembl", 11, None, 70, OLD_TS, 70, OLD_TS),
        # pipeline NCBI ortholog for gene 3 with a different dest than the incoming
        # higher-priority HGNC pick → DELETE_EXISTING + insert
        (3, 3, 103, 1, RAT, None, "NCBI", "NCBI", 11, None, 70, OLD_TS, 70, OLD_TS),
        # two pipeline rows whose key gets no pick this run: stale pass deletes
        # down to ONE survivor (REQUIREMENT 2) — the comparator-best (more
        # evidence) 4→103 is kept, 4→104 deleted
        (4, 4, 104, 1, RAT, None, "NCBI", "NCBI", 11, None, 70, OLD_TS, 70, OLD_TS),
        (5, 4, 103, 1, RAT, None, "NCBI", "NCBI,Ensembl", 11, None, 70, OLD_TS, 70, OLD_TS),
        # sole pipeline row for gene 5's key, no pick this run → kept outright
        # (REQUIREMENT 2: cannot delete the only ortholog, Dao.java:92-99)
        (6, 5, 104, 1, RAT, None, "NCBI", "NCBI", 11, None, 70, OLD_TS, 70, OLD_TS),
        # surplus second row for gene 2's key (which gets a MATCH pick): the
        # comparator-best HGNC row survives, this NCBI loser is pruned
        # (getKeyForMatchingOrtholog, Dao.java:121-133)
        (7, 2, 103, 1, RAT, None, "NCBI", "NCBI", 11, None, 70, OLD_TS, 70, OLD_TS),
    ]
    store.write(
        "orthologs",
        spark.createDataFrame(orthologs, ORTHOLOGS_SCHEMA),
        partition_by=orthologs_layout,
    )

    store.write(
        "associations", spark.createDataFrame([], ASSOCIATIONS_SCHEMA)
    )
    agr = [
        (1, 100, "c", "Y", "Y", "Ensembl Compara|InParanoid", OLD_TS, OLD_TS),
    ]
    store.write("agr_orthologs", spark.createDataFrame(agr, AGR_ORTHOLOGS_SCHEMA))
    return store


@pytest.fixture()
def store(spark, tmp_path):
    return _seed_store(spark, tmp_path)


def _relations(spark):
    rows = [
        # gene 1 (manual tier will override): HGNC relation to rat 100
        ("h1", "r100", 1, RAT, "HGNC", "Ensembl, OrthoDB"),
        # gene 2: two HGNC candidates; r101 wins on strict evidence count
        ("h2", "r101", 1, RAT, "HGNC", "Ensembl, OrthoDB, OrthoMCL"),
        ("h2", "r104", 1, RAT, "HGNC", "Ensembl"),
        # gene 3: HGNC pick r102 (beats existing NCBI row for the key)
        ("h3", "r102", 1, RAT, "HGNC", "Ensembl, OrthoDB"),
        # gene 3 NCBI duplicate of the same pair (merges into HGNC + NCBI token)
        ("h3", "r102", 1, RAT, "NCBI", "NCBI"),
        # unresolvable side → dropped to audit
        ("h1", "r999", 1, RAT, "HGNC", "Ensembl"),
    ]
    return spark.createDataFrame(rows, RELATION_SCHEMA)


def test_species_load_end_to_end(spark, store):
    res = run_species_load(
        store, _relations(spark), RUN_TS, RAT, delete_threshold_pct=100.0
    )

    # audit stream caught the unresolved dest
    dropped = res.resolved_dropped.collect()
    assert len(dropped) == 1 and dropped[0].dest_other_id == "r999"

    # tier picks: gene 1 manual, genes 2/3 HGNC
    picks = {r.src_rgd_id: (r.tier, r.dest_rgd_id) for r in res.picks.collect()
             if r.src_rgd_id in (1, 2, 3)}
    assert picks[1] == (1, 100)
    assert picks[2] == (3, 101)
    assert picks[3] == (3, 102)

    verdicts = {
        r.src_rgd_id: r.verdict
        for r in res.verdicts.collect()
        if r.dest_species_type_key == RAT and r.src_rgd_id is not None
    }
    assert verdicts[2] == "MATCH"
    assert verdicts[3] == "DELETE_EXISTING"
    assert verdicts[4] == "STALE"
    assert verdicts[5] == "STALE"

    final = store.read("orthologs")
    rows = {(r.src_rgd_id, r.dest_rgd_id): r for r in final.collect()}
    # manual row survives untouched
    assert (1, 100) in rows and rows[(1, 100)].xref_data_src == "RGD"
    # replaced: 3→103 gone, 3→102 inserted with HGNC source
    assert (3, 103) not in rows
    assert rows[(3, 102)].xref_data_src == "HGNC"
    # stale pass deletes gene 4's weaker row but keeps the comparator-best one —
    # REQUIREMENT 2 forbids deleting the key's last ortholog (Dao.java:92-99)
    assert (4, 104) not in rows
    assert (4, 103) in rows
    # gene 5's SOLE stale row is kept outright by the same guard
    assert (5, 104) in rows
    # matched row survives; its surplus NCBI twin for the same key is pruned
    # (getKeyForMatchingOrtholog keeps only the comparator-best, Dao.java:121-133)
    assert (2, 101) in rows
    assert (2, 103) not in rows
    # every pre-existing (src, dest-species) key still has at least one row
    pre_keys = {(1, RAT), (2, RAT), (3, RAT), (4, RAT), (5, RAT)}
    post_keys = {(r.src_rgd_id, r.dest_species_type_key) for r in final.collect()}
    assert pre_keys <= post_keys

    # evidence merge for the HGNC+NCBI duplicate produced the NCBI token
    ev = rows[(3, 102)].xref_data_set
    assert "NCBI" in ev and "Ensembl" in ev

    # weak associations exist for non-strong pairs but not for strong ones
    assoc = store.read("associations")
    pairs = {(r.master_rgd_id, r.detail_rgd_id) for r in assoc.collect()}
    assert (2, 104) in pairs  # losing HGNC candidate became a weak association
    assert (3, 102) not in pairs  # covered by the new strong ortholog


def test_species_load_job_budget(spark, store):
    """Pin the flow's Spark-job count (VERDICT r4 item 1): flow wall clock is
    scheduler-floor-bound, and the r4 keygen eager-collect showed hidden
    actions creep in silently — a +2-job drift is exactly the regression class
    this pin catches. Measured via a job group + statusTracker: the caller's
    jobs and those of every `RunScope.submit`/`stage` worker, which runs with
    the caller's local properties (`pyspark.inheritable_thread_target`).
    Budget = 94: measured 88 at fixture scale with the snapshot side, the
    inserts keygen and the orthologs commit running beside the caller (79 for
    the serial chain before it), +6 headroom for AQE's data-dependent
    stage-to-job splits. If a legitimate change raises the count, re-measure
    and move the budget WITH a comment — never silently."""
    sc = spark.sparkContext
    sc.setJobGroup("species_budget", "job-count pin")
    try:
        run_species_load(
            store, _relations(spark), RUN_TS, RAT, delete_threshold_pct=100.0
        )
    finally:
        sc.setJobGroup(None, None)
    jobs = sc.statusTracker().getJobIdsForGroup("species_budget")
    assert 0 < len(jobs) <= 94, (
        f"run_species_load scheduled {len(jobs)} Spark jobs (budget 94). "
        "A hidden eager action crept into the plan — find it before raising "
        "the budget."
    )


def test_agr_load_job_budget(spark, store):
    """Same pin as test_species_load_job_budget for §3.2, over every job of the
    flow: measured 47 at fixture scale with the dims and the high-water-mark
    job running beside the caller's parse (41 for the serial chain before it).
    Budget 53 = measured + 6 of AQE headroom."""
    sc = spark.sparkContext
    sc.setJobGroup("agr_budget", "job-count pin")
    try:
        run_agr_load(store, _agr_lines(spark), RUN_TS, delete_threshold_pct=100.0)
    finally:
        sc.setJobGroup(None, None)
    jobs = sc.statusTracker().getJobIdsForGroup("agr_budget")
    assert 0 < len(jobs) <= 53, (
        f"run_agr_load scheduled {len(jobs)} Spark jobs (budget 53). "
        "A hidden eager action crept into the plan — find it before raising "
        "the budget."
    )


def test_warm_species_load_reuses_generated_classes(spark, tmp_path):
    """The session's codegen cache holds a species load's generated classes
    (`session.CODEGEN_CACHE_ENTRIES`): a second identical load compiles at
    most 5% of the classes the first one compiled. Spark's stock 100-entry
    cache is smaller than one load, so there every load recompiles them all."""
    compiled = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    counts = []
    for name in ("first", "second"):
        store = _seed_store(spark, tmp_path / name)
        before = compiled.METRIC_COMPILATION_TIME().getCount()
        run_species_load(
            store, _relations(spark), RUN_TS, RAT, delete_threshold_pct=100.0
        )
        counts.append(compiled.METRIC_COMPILATION_TIME().getCount() - before)
    first, second = counts
    assert second <= 0.05 * first, f"compiled {first} then {second} classes"


def test_flow_storage_lives_as_long_as_the_results(spark, store):
    """Flow frames are stored with round_checkpoint (operators/iterate): the
    CacheManager stays empty while the results are held, and once they are
    dropped and GC runs no RDD the flows made keeps cached partitions."""
    from test_guards_and_iterate import cached_rdds_after_gc

    spark.catalog.clearCache()
    first = spark.sparkContext.parallelize([0]).id()
    results = [
        run_species_load(
            store, _relations(spark), RUN_TS, RAT, delete_threshold_pct=100.0
        ),
        run_agr_load(store, _agr_lines(spark), RUN_TS, delete_threshold_pct=100.0),
    ]
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    del results
    assert cached_rdds_after_gc(spark, first) == []


def _verdicts_vs(picks, existing, genes):
    """The flow's conflict verdicts of ``picks`` against ``existing``."""
    sym = _symbol_dim(genes)
    return _conflict_verdicts(picks, _rank_existing(existing, sym), sym)


def test_conflict_verdict_symbol_tiebreak(spark):
    """compareOrthologs symbol stages (OrthologRelationDao.java:180-188): on a
    priority+evidence tie, existing-dest-matches-src wins, then
    incoming-dest-matches-src, then descending case-insensitive dest symbol."""
    genes = spark.createDataFrame(
        [(3, "TP53", "protein-coding", None, 1),
         (102, "Tp53", "protein-coding", None, RAT),
         (103, "Zzz1", "protein-coding", None, RAT),
         (104, "Aaa1", "protein-coding", None, RAT),
         (30, "GENE30", "protein-coding", None, 1),
         (31, "GENE31", "protein-coding", None, 1)],
        GENES_SCHEMA,
    )

    def pick(src, dest):
        return (src, RAT, 3, dest, "HGNC", "Ensembl")

    def ex(key, src, dest):
        return (key, src, dest, 1, RAT, None, "HGNC", "OrthoDB", 11, None,
                70, OLD_TS, 70, OLD_TS)

    picks = spark.createDataFrame(
        [pick(3, 102),   # inc dest Tp53 == src TP53 → incoming wins
         pick(30, 103),  # ex dest Tp53 == nothing; ex=102 matches? no (src GENE30)
         pick(31, 103)],
        "src_rgd_id int, dest_species_type_key int, tier int, dest_rgd_id int,"
        "xref_data_src string, xref_data_set string",
    )
    existing = spark.createDataFrame(
        [ex(1, 3, 103),    # vs pick 102: inc symbol match → DELETE_EXISTING
         ex(2, 30, 102),   # vs pick 103: no symbol match either side;
                           # 'zzz1' > 'tp53' → incoming wins
         ex(3, 31, 104)],  # vs pick 103: 'zzz1' > 'aaa1' → incoming wins
        ORTHOLOGS_SCHEMA,
    )
    verdicts = _verdicts_vs(picks, existing, genes)
    got = {r.src_rgd_id: r.verdict for r in verdicts.collect()}
    assert got == {3: "DELETE_EXISTING", 30: "DELETE_EXISTING", 31: "DELETE_EXISTING"}

    # and the mirror: existing dest symbol matching src downgrades the incoming
    picks2 = spark.createDataFrame(
        [pick(3, 103)],
        "src_rgd_id int, dest_species_type_key int, tier int, dest_rgd_id int,"
        "xref_data_src string, xref_data_set string",
    )
    existing2 = spark.createDataFrame([ex(1, 3, 102)], ORTHOLOGS_SCHEMA)
    verdicts2 = _verdicts_vs(picks2, existing2, genes)
    assert verdicts2.collect()[0].verdict == "DOWNGRADE"


def test_conflict_verdicts_w4_descending_alpha(spark):
    """W4's last comparator key is DESCENDING case-insensitive dest symbol
    (Dao.java:187), the opposite of W1: of two existing rows tied on source
    and evidence, 'BBB' outranks 'aaa'."""
    genes = spark.createDataFrame(
        [(10, "g", "protein-coding", None, 1),
         (20, "aaa", "protein-coding", None, RAT),
         (21, "BBB", "protein-coding", None, RAT)],
        GENES_SCHEMA,
    )
    existing = spark.createDataFrame(
        [(1, 10, 20, 1, RAT, None, "NCBI", "A", 11, None, 70, OLD_TS, 70, OLD_TS),
         (2, 10, 21, 1, RAT, None, "NCBI", "B", 11, None, 70, OLD_TS, 70, OLD_TS)],
        ORTHOLOGS_SCHEMA,
    )
    picks = spark.createDataFrame(
        [],
        "src_rgd_id int, dest_species_type_key int, tier int, dest_rgd_id int,"
        "xref_data_src string, xref_data_set string",
    )
    sym = _symbol_dim(genes)
    ex_ranked = _rank_existing(existing, sym)
    verdicts = _conflict_verdicts(picks, ex_ranked, sym)
    ranks = {r.ex_dest_rgd_id: r._rn for r in ex_ranked.collect()}
    assert ranks == {21: 1, 20: 2}
    [v] = verdicts.collect()
    assert (v.verdict, v.ex_dest_rgd_id) == ("STALE", 21)


def test_species_load_rejects_non_human_source(spark, store):
    """A relation keyed by a non-human source gene aborts the species load
    (OrthologRelationLoader.java:383-384) before either table moves."""
    before = {t: store.current_version(t) for t in ("orthologs", "associations")}
    rat_keyed = spark.createDataFrame(
        [("r100", "h1", RAT, 1, "HGNC", "Ensembl")], RELATION_SCHEMA
    )
    with pytest.raises(ValueError, match="non-human"):
        run_species_load(
            store,
            _relations(spark).unionByName(rat_keyed),
            RUN_TS,
            RAT,
            delete_threshold_pct=100.0,
        )
    assert {t: store.current_version(t) for t in before} == before


def test_species_load_keeps_orthologs_layout(spark, tmp_path):
    """The flow states no layout: on a store partitioned by dest species it
    writes the same rows as on a flat one, and stays partitioned."""
    snaps = {}
    for layout in (None, ["dest_species_type_key"]):
        store = _seed_store(
            spark, tmp_path / ("part" if layout else "flat"), orthologs_layout=layout
        )
        run_species_load(
            store, _relations(spark), RUN_TS, RAT, delete_threshold_pct=100.0
        )
        snaps[bool(layout)] = sorted(
            tuple(sorted(r.asDict().items()))
            for r in store.read("orthologs").collect()
        )
    assert is_partitioned_by(store, "orthologs", "dest_species_type_key")
    assert snaps[True] == snaps[False]


def test_species_load_delete_threshold_trips(spark, store):
    with pytest.raises(RuntimeError, match="threshold"):
        # default 10% cap: the stale + replaced deletes exceed it on this fixture
        run_species_load(store, _relations(spark), RUN_TS, RAT)


def _agr_lines(spark):
    # col 8 (algorithms) is the pipe list; col 9 (algorithms_match) is a COUNT —
    # a real Alliance file never repeats the list there, so keeping the count here
    # makes the test catch any regression that reads the wrong column.
    rows = [
        # resolvable via curie xref both sides; matches the existing AGR row's key
        ("HGNC:1", "A2M", "NCBITaxon:9606", "Homo sapiens",
         "RGD:100", "A2m", "NCBITaxon:10116", "Rattus norvegicus",
         "InParanoid|Ensembl Compara", "2", "10",
         "Yes", "Yes"),
        # new pair: curie 1 side + symbol-resolved side (Tp53, rat)
        ("HGNC:2", "BRCA2", "NCBITaxon:9606", "Homo sapiens",
         "XX:1", "Tp53", "NCBITaxon:10116", "Rattus norvegicus",
         "OrthoFinder", "1", "10", "Yes", "No"),
        # unresolvable: unknown curie and symbol
        ("FB:F1", "nope", "NCBITaxon:7227", "Drosophila melanogaster",
         "HGNC:1", "A2M", "NCBITaxon:9606", "Homo sapiens",
         "OrthoFinder", "1", "10", "No", "No"),
        # filtered out: species not in the processed set
        ("XEN:1", "x", "NCBITaxon:8364", "Xenopus tropicalis",
         "HGNC:1", "A2M", "NCBITaxon:9606", "Homo sapiens",
         "OrthoFinder", "1", "10", "No", "No"),
    ]
    return spark.createDataFrame(rows, AGR_SCHEMA)


def test_agr_load_end_to_end(spark, store):
    res = run_agr_load(store, _agr_lines(spark), RUN_TS, delete_threshold_pct=100.0)

    # the FB: fly side is MINTED (S13 new-gene creation), not left unresolved
    assert res.unresolved.count() == 0
    minted = {
        r.acc_id: r.rgd_id
        for r in store.read("xrefs").filter(F.col("acc_id") == "FB:F1").collect()
    }
    assert "FB:F1" in minted and minted["FB:F1"] > 200  # fresh id past the max
    new_gene = store.read("genes").filter(F.col("rgd_id") == minted["FB:F1"]).collect()
    assert len(new_gene) == 1 and new_gene[0].species_type_key == 10  # fruitfly

    agr = store.read("agr_orthologs")
    rows = {
        (r.gene_rgd_id_1, r.gene_rgd_id_2, r.methods_matched): r
        for r in agr.collect()
    }
    # existing row touched: methods key matches after pipe-sort canonicalization
    k = (1, 100, "Ensembl Compara|InParanoid")
    assert k in rows and rows[k].last_update_date == RUN_TS
    assert rows[k].created_date == OLD_TS  # preserved through the update
    # new pair inserted via symbol resolution (2 → Tp53=102)
    k2 = (2, 102, "OrthoFinder")
    assert k2 in rows and rows[k2].is_best_rev_score == "N"
    # confidence is the hardcoded constant (AgrTsvLoader.java:178), never the count
    assert rows[k2].confidence == "stringent"
    # the minted fly gene's pair landed too
    k3 = (minted["FB:F1"], 1, "OrthoFinder")
    assert k3 in rows
    assert res.n_stale_deleted == 0


def test_agr_freshness_gate(spark, store, tmp_path):
    # fresh enough: newest row is OLD_TS (45 days before RUN_TS) < 60-day cap
    check_agr_freshness(store, RUN_TS)
    with pytest.raises(RuntimeError, match="older"):
        check_agr_freshness(store, RUN_TS + dt.timedelta(days=120))
    empty_store = StateStore(spark, str(tmp_path / "state2"))
    from table_schemas import AGR_ORTHOLOGS_SCHEMA as S

    empty_store.write("agr_orthologs", spark.createDataFrame([], S))
    with pytest.raises(RuntimeError, match="empty"):
        check_agr_freshness(empty_store, RUN_TS)


def test_fix_xref_data_set(spark, store):
    # plant a denormalized evidence set
    orth = store.read("orthologs")
    dirty = orth.withColumn(
        "xref_data_set",
        F.when(
            F.col("genetogene_key") == 2, F.lit("OrthoDB,Ensembl,OrthoDB")
        ).otherwise(F.col("xref_data_set")),
    )
    store.write("orthologs", dirty)

    res = run_fix_xref_data_set(store)
    assert res.n_orthologs_fixed == 1
    fixed = {
        r.genetogene_key: r.xref_data_set for r in store.read("orthologs").collect()
    }
    assert fixed[2] == "Ensembl, OrthoDB"


def test_fix_xref_keeps_orthologs_layout(spark, tmp_path):
    """On the production layout the fix-xref flow's keyed updates rewrite
    orthologs within its dest_species_type_key partitions."""
    layout = ["dest_species_type_key"]
    store = _seed_store(spark, tmp_path, orthologs_layout=layout)
    dirty = store.read("orthologs").withColumn(
        "xref_data_set",
        F.when(
            F.col("genetogene_key") == 2, F.lit("OrthoDB,Ensembl,OrthoDB")
        ).otherwise(F.col("xref_data_set")),
    )
    store.write("orthologs", dirty, partition_by=layout)

    assert run_fix_xref_data_set(store).n_orthologs_fixed == 1
    assert is_partitioned_by(store, "orthologs", "dest_species_type_key")


def test_species_load_is_deterministic(spark, tmp_path):
    """Engine policy (SURVEY §7): identical inputs → identical snapshots, surrogate
    keys included (bucketed minting is order-free) — BY CONSTRUCTION, not by stable
    planning: run b delivers the same rows at a different partition count and
    shuffle parallelism, so any partitioning-dependent pick (e.g. a dropDuplicates
    keeping "whichever row came first") would flip the snapshot. The fixture's
    h3→r102 pair arrives via both HGNC and NCBI, exercising the weak-association
    subtype reduction specifically."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    snaps = []
    try:
        for run, (nparts, shuffle) in {"a": (1, prev), "b": (7, "13")}.items():
            spark.conf.set("spark.sql.shuffle.partitions", shuffle)
            store = _seed_store(spark, tmp_path / run)
            run_species_load(
                store,
                _relations(spark).repartition(nparts),
                RUN_TS,
                RAT,
                delete_threshold_pct=100.0,
            )
            orth = sorted(
                map(tuple, store.read("orthologs").collect())
            )
            assoc = sorted(map(tuple, store.read("associations").collect()))
            snaps.append((orth, assoc))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert snaps[0] == snaps[1]


def test_ortho_tool_report(spark, tmp_path):
    """OrthoTool flow (OrthoTool.java:35-117): quote-stripped gene list in, header
    line skipped via the non-numeric-first-column rule, W5 mutual-best filter per
    species, and the do-while zip that pairs mouse[i] with human[i] and leaves the
    shorter side blank."""
    from ortholog_pipeline_spark.plans import (
        read_gene_list,
        run_ortho_tool,
        write_report,
    )

    store = StateStore(spark, str(tmp_path / "state"))
    genes = [
        (100, "A2m", "protein-coding", None, RAT),
        (101, "Brca2", "protein-coding", None, RAT),
        (200, "A2m", "protein-coding", None, 2),
        (201, "A2m2", "protein-coding", None, 2),
        (1, "A2M", "protein-coding", None, 1),
        (2, "A2ML1", "protein-coding", None, 1),
    ]
    store.write("genes", spark.createDataFrame(genes, GENES_SCHEMA))
    agr = [
        # mouse partners of rat 100: 200 mutual-best, 201 not → W5 keeps only 200
        (100, 200, "stringent", "Y", "Y", "OrthoFinder", OLD_TS, OLD_TS),
        (100, 201, "stringent", "N", "Y", "OrthoFinder", OLD_TS, OLD_TS),
        # human partners of rat 100: both mutual-best → both kept, zipped 1,2
        (100, 1, "stringent", "Y", "Y", "OrthoFinder", OLD_TS, OLD_TS),
        (100, 2, "stringent", "Y", "Y", "OrthoFinder", OLD_TS, OLD_TS),
    ]
    store.write("agr_orthologs", spark.createDataFrame(agr, AGR_ORTHOLOGS_SCHEMA))

    gl = tmp_path / "genes.txt"
    gl.write_text(
        "Rat RGDID\tRat GENEID\tCurrent symbol\tCurrent name\n"
        '"100"\t"11"\t"A2m"\t"alpha-2-macroglobulin"\n'
        "101\t12\tBrca2\tbreast cancer 2\n"
    )
    gene_list = read_gene_list(spark, str(gl))
    # header skipped, quotes stripped
    assert {r.rat_rgd_id for r in gene_list.collect()} == {100, 101}
    assert {r.rat_symbol for r in gene_list.collect()} == {"A2m", "Brca2"}

    res = run_ortho_tool(store, gene_list)
    rows = {
        (r.rat_rgd_id, r.mouse_rgd_id, r.human_rgd_id): r
        for r in res.report.collect()
    }
    # gene 100: zip row 1 = (mouse 200, human 1); row 2 = (blank, human 2)
    assert (100, 200, 1) in rows and rows[(100, 200, 1)].mouse_symbol == "A2m"
    assert (100, None, 2) in rows
    # non-mutual-best mouse 201 was dropped by W5
    assert not any(k[1] == 201 for k in rows)
    # partnerless gene still emits its one blank row
    assert (101, None, None) in rows
    assert len(rows) == 3
    assert res.n_mouse_orthologs == 1 and res.n_human_orthologs == 2

    out = tmp_path / "report"
    write_report(res, str(out))
    back = spark.read.option("sep", "\t").option("header", "true").csv(str(out))
    assert back.count() == 3


def test_agr_symbol_qc_flags_disagreement(spark, store):
    # gene1_symbol 'WRONGNAME' resolves via curie but disagrees with DB 'A2M'
    rows = [
        ("HGNC:1", "WRONGNAME", "NCBITaxon:9606", "Homo sapiens",
         "RGD:100", "A2m", "NCBITaxon:10116", "Rattus norvegicus",
         "OrthoFinder", "OrthoFinder", "10", "Yes", "Yes"),
    ]
    lines = spark.createDataFrame(rows, AGR_SCHEMA)
    res = run_agr_load(store, lines, RUN_TS, delete_threshold_pct=100.0)
    qc = res.symbol_qc.collect()
    assert len(qc) == 1
    assert qc[0].file_symbol == "WRONGNAME" and qc[0].db_symbol == "a2m"


def test_corpus_prep_flow(spark):
    """Corpus-prep chain: each stage's drops + survivors partition its input, the
    summary counts the survivor ladder, and the survivors satisfy every gate."""
    from ortholog_pipeline_spark.plans.corpus_prep import run_corpus_prep

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    res = run_corpus_prep(docs, min_quality=0.35)

    n = {r.stage: r.n_docs for r in res.summary.collect()}
    assert (
        n["0_input"] >= n["1_lang"] >= n["2_quality"]
        >= n["3_exact_dedup"] >= n["4_near_dedup"]
    )
    drops = (
        res.dropped_lang.count()
        + res.dropped_quality.count()
        + res.dropped_exact.count()
        + res.dropped_near.count()
    )
    kept = res.kept.collect()
    assert n["0_input"] == len(kept) + drops
    assert n["4_near_dedup"] == len(kept) > 0
    for r in kept:
        assert r.predicted_lang == "en" and r.quality >= 0.35
    # greedy keep-lowest: the minimum id of every near-dup pair survives the chain
    ids = {r.doc_id for r in kept}
    s3_ids = ids | {r.doc_id for r in res.dropped_near.collect()}
    from ortholog_pipeline_spark.operators.dedup import minhash_lsh_dedup

    pairs = minhash_lsh_dedup(
        docs.join(
            spark.createDataFrame([(i,) for i in s3_ids], "doc_id long"), "doc_id"
        )
    ).collect()
    for p in pairs:
        assert p.id_2 not in ids  # every larger-id partner was dropped


def test_state_validation_passes_seed_and_catches_orphan(spark, tmp_path):
    """The pre-promotion gate: a freshly seeded store validates clean; an
    ortholog pointing at a nonexistent gene flips the referential check (and
    only that check) to FAIL."""
    from pyspark.sql import functions as F

    from ortholog_pipeline_spark.plans import run_state_validation

    store = _seed_store(spark, tmp_path)
    res = run_state_validation(store)
    assert res.ok, [r.check for r in res.report.collect() if not r.passed]

    orth = store.read("orthologs")
    orphan = orth.limit(1).withColumn("src_rgd_id", F.lit(999_999)).withColumn(
        "genetogene_key", F.lit(987_654)
    )
    store.apply_changes("orthologs", inserts=orphan.select(*orth.columns))
    res2 = run_state_validation(store)
    failed = {r.check for r in res2.report.collect() if not r.passed}
    assert failed == {"referential:src_rgd_id->rgd_id"}
    assert not res2.ok
