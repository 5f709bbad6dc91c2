"""§3.2 — the `--agrOrthologs` Alliance TSV load.

The reference processes lines in a parallel stream with per-line JDBC upserts and a
DuplicateKeyException retry loop (AgrTsvLoader.java:142-206); here the whole file is
one resolve-join cascade + one deterministic merge, so concurrency races disappear
(SURVEY.md §3.2 "Spark restatement", §4 retry-loop row).

Resolution cascade per curie (resolveGene, AgrTsvLoader.java:306-393):
  1. AGR curie xref (xdb_key=63) — the broadcast curie→rgd map (Dao.java:524-550);
  2. species-prefix id (``RGD:<n>`` → the id itself, validated against rgd_ids);
  3. symbol lookup within the species (case-insensitive, active genes);
  4. residue (non rat/mouse/human) → mint a new gene (S13, Dao.java:621-642).
Expressed as left joins + one ``coalesce`` precedence chain.

Execution: the snapshot-only work (the curie and symbol dims, and the key
high-water marks) runs on the run scope's workers (`RunScope.submit`) while the
calling thread parses and stores the file's lines; the two sides join at the
resolution join. The mint commits then stage in the background while the
caller builds the upsert verdicts.
"""

from __future__ import annotations

from dataclasses import dataclass
from datetime import datetime, timedelta

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ortholog_pipeline_spark.functions.strings import (
    pipe_set_sort,
    rgd_curie_suffix,
    transliterate_greek,
    yes_no_to_yn,
)
from ortholog_pipeline_spark.operators import sync
from ortholog_pipeline_spark.operators import iterate as IT
from ortholog_pipeline_spark.schemas import SPECIES, XDB_KEY_AGR_GENE
from ortholog_pipeline_spark.sources.state import StateStore, next_surrogate_keys

#: The 9 Alliance species the pipeline processes (AppConfigure.xml:53-65).
AGR_SPECIES_TAXON_IDS = {
    f"NCBITaxon:{SPECIES[s][1]}": SPECIES[s][0]
    for s in (
        "human",
        "mouse",
        "rat",
        "zebrafish",
        "fruitfly",
        "roundworm",
        "yeast",
    )
}


@dataclass
class AgrLoadResult:
    resolved: DataFrame  # parsed lines with both sides resolved
    unresolved: DataFrame  # audit: lines with an unresolvable side
    symbol_qc: DataFrame  # audit: human symbols disagreeing with the DB (validateGeneSymbol)
    n_inserted: int
    n_updated: int
    n_stale_deleted: int
    agr_version: int


def check_agr_freshness(
    store: StateStore, run_ts: datetime, max_age_days: int = 60
) -> None:
    """A5 freshness gate (Manager.java:287-298; agrMaxAgeDays, AppConfigure.xml:10):
    abort when AGR_ORTHOLOGS is empty or its newest row is older than the cap."""
    agr = store.read("agr_orthologs")
    row = agr.agg(F.max("last_update_date").alias("m")).collect()[0]
    if row.m is None:
        raise RuntimeError("AGR freshness gate: agr_orthologs is empty — aborting")
    if row.m < run_ts - timedelta(days=max_age_days):
        raise RuntimeError(
            f"AGR freshness gate: newest agr row {row.m} older than "
            f"{max_age_days} days — aborting"
        )


def _resolve_side(
    lines: DataFrame,
    side: int,
    curie_dim: DataFrame,
    symbol_dim: DataFrame,
) -> DataFrame:
    """Attach ``rgd_id_<side>`` via the precedence chain curie-xref → RGD: suffix →
    symbol-in-species."""
    curie_col = f"gene{side}_id"
    sym_col = f"gene{side}_symbol"
    sp_col = f"species_type_key_{side}"

    c = curie_dim.withColumnsRenamed(
        {"acc_id": curie_col, "rgd_id": f"_curie_rgd_{side}"}
    )
    s = symbol_dim.withColumnsRenamed(
        {
            "gene_symbol_lc": f"_sym_lc_{side}",
            "species_type_key": sp_col,
            "rgd_id": f"_sym_rgd_{side}",
        }
    )
    out = (
        lines.join(F.broadcast(c), curie_col, "left")
        .withColumn(f"_sym_lc_{side}", F.lower(transliterate_greek(F.col(sym_col))))
        .join(F.broadcast(s), [f"_sym_lc_{side}", sp_col], "left")
        .withColumn(
            f"rgd_id_{side}",
            F.coalesce(
                F.col(f"_curie_rgd_{side}"),
                rgd_curie_suffix(F.col(curie_col)),
                F.col(f"_sym_rgd_{side}"),
            ),
        )
        .drop(f"_curie_rgd_{side}", f"_sym_lc_{side}", f"_sym_rgd_{side}")
    )
    return out


def _resolution_dims(
    xrefs: DataFrame, genes: DataFrame, rgd_ids: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """The curie dim (AGR curie xref → rgd_id) and the symbol dim (lower-cased
    symbol + species → the least active rgd_id), stored and materialized.

    Both feed a broadcast join PER SIDE, and the per-side column renames make
    the two broadcast subplans non-identical, so ReuseExchange cannot dedup
    them — without the checkpoint the gene-scan + groupBy behind symbol_dim
    runs twice (measured 2 s each at sf0.1). Both frames are dimension-sized
    (bounded by the gene/xref universe, not the file)."""
    curie_dim = IT.materialized(
        xrefs.filter(F.col("xdb_key") == XDB_KEY_AGR_GENE).select("acc_id", "rgd_id")
    )
    active = rgd_ids.filter(F.col("object_status") == "ACTIVE").select("rgd_id")
    symbol_dim = IT.materialized(
        genes.join(active, "rgd_id", "left_semi")
        .select(
            F.lower("gene_symbol").alias("gene_symbol_lc"),
            "species_type_key",
            "rgd_id",
        )
        .groupBy("gene_symbol_lc", "species_type_key")
        .agg(F.min("rgd_id").alias("rgd_id"))  # first-wins determinism (§7)
    )
    return curie_dim, symbol_dim


def run_agr_load(
    store: StateStore,
    agr_lines: DataFrame,
    run_ts: datetime,
    delete_threshold_pct: float = 10.0,
) -> AgrLoadResult:
    """Parse+filter Alliance lines, resolve both curies, merge into agr_orthologs on
    the (id1, id2, methods_matched) key, then guarded stale deletion.

    The whole run is one `StateStore.run` over the four tables it writes: the
    gene/rgd_id/xref mints and the final agr_orthologs upsert stage their
    versions, and the scope publishes them together on a clean exit — a crash
    or a churn-guard abort mid-run can never leave minted genes visible
    without the ortholog rows that motivated them (SURVEY §1.4 run-snapshot
    contract; tighter than the reference's per-statement commits,
    AgrOrthologLoader semantics)."""
    with store.run(["genes", "rgd_ids", "xrefs", "agr_orthologs"]) as run:
        genes = store.read("genes")
        rgd_ids = store.read("rgd_ids")
        xrefs = store.read("xrefs")
        agr = store.read("agr_orthologs")

        # The high-water-mark job and the resolution dims read only SNAPSHOT
        # tables and share no producer edge with the file, so `run.submit`
        # runs them in the background, one per worker, while this thread parses
        # the lines; the run scope joins them before it commits or aborts. ONE
        # job serves both surrogate-key high-water marks (minting needs them
        # only in the mint branch, but the fused scan of two dimension
        # snapshots is cheaper than two separate scheduled jobs mid-flow).
        hw_job = run.submit(
            rgd_ids.agg(F.max("rgd_id").alias("_mx"))
            .select(F.lit("rgd").alias("_t"), F.col("_mx").cast("long"))
            .unionByName(
                xrefs.agg(F.max("acc_xdb_key").alias("_mx")).select(
                    F.lit("xref").alias("_t"), F.col("_mx").cast("long")
                )
            )
            .collect
        )
        dims_job = run.submit(_resolution_dims, xrefs, genes, rgd_ids)

        # F7 species filter both sides + recodes (C7 pipe-sort, C13 Yes/No).
        # Stored and written here, concurrently with the background jobs: both
        # resolution sides and the mint branch read the parsed lines.
        tax_map = F.create_map(
            *[F.lit(x) for kv in AGR_SPECIES_TAXON_IDS.items() for x in kv]
        )
        lines = IT.materialized(
            agr_lines.withColumns({
                "species_type_key_1": tax_map[F.col("gene1_species_taxon_id")],
                "species_type_key_2": tax_map[F.col("gene2_species_taxon_id")],
            })
            .filter(
                F.col("species_type_key_1").isNotNull()
                & F.col("species_type_key_2").isNotNull()
            )
            # methods_matched comes from the Algorithms pipe list (file col 8), NOT the
            # AlgorithmsMatch count (col 9) — sortAlgorithmsStr(cols[8]),
            # AgrTsvLoader.java:124,180.
            .withColumn("methods_matched", pipe_set_sort("algorithms"))
            .withColumn("is_best_score", yes_no_to_yn("is_best_score"))
            .withColumn("is_best_rev_score", yes_no_to_yn("is_best_rev_score"))
        )
        curie_dim, symbol_dim = dims_job.result()

        # consumed by minting (2 branches), resolved, unresolved, and the merge
        # input — lazily localCheckpointed so resolution runs once AND its
        # lineage drops out of every downstream plan (same plan-tree lesson as
        # plans/species_load.py: with this many consumers, planning cost compounds)
        resolved_lines = _resolve_side(
            _resolve_side(lines, 1, curie_dim, symbol_dim), 2, curie_dim, symbol_dim
        )
        resolved_lines = IT.round_checkpoint(resolved_lines)
        _hw = {r["_t"]: r["_mx"] for r in hw_job.result()}
        max_rgd_hw, max_xref_hw = _hw["rgd"] or 0, _hw["xref"] or 0

        # S13 — cascade step 4 (insertAgrGene, Dao.java:621-642): an unresolvable side
        # whose species is NOT rat/mouse/human gets a newly minted gene (id + gene row +
        # curie xref appended to the snapshots); rat/mouse/human residues stay
        # unresolved (audit stream), matching AgrTsvLoader.java:377-392.
        mintable_species = [
            k for k in AGR_SPECIES_TAXON_IDS.values() if k not in (1, 2, 3)
        ]
        to_mint = (
            resolved_lines.filter(
                F.col("rgd_id_1").isNull()
                & F.col("species_type_key_1").isin(mintable_species)
            )
            .select(
                F.col("gene1_id").alias("curie"),
                transliterate_greek(F.col("gene1_symbol")).alias("gene_symbol"),
                F.col("species_type_key_1").alias("species_type_key"),
            )
            .unionByName(
                resolved_lines.filter(
                    F.col("rgd_id_2").isNull()
                    & F.col("species_type_key_2").isin(mintable_species)
                ).select(
                    F.col("gene2_id").alias("curie"),
                    transliterate_greek(F.col("gene2_symbol")).alias("gene_symbol"),
                    F.col("species_type_key_2").alias("species_type_key"),
                )
            )
            # deterministic by construction: the same curie can appear on many
            # lines (and, in a malformed file, with differing symbols) — a
            # dropDuplicates pick would be partitioning-dependent; reduce instead
            .groupBy("curie")
            .agg(
                F.min("gene_symbol").alias("gene_symbol"),
                F.min("species_type_key").alias("species_type_key"),
            )
        )
        minted = (
            next_surrogate_keys(to_mint, max_rgd_hw, "rgd_id")
            .withColumn("rgd_id", F.col("rgd_id").cast("int"))  # match snapshot schema
        )
        # 5 consumers: 3 mint commits + 2 dims
        minted = IT.round_checkpoint(minted)
        if minted.limit(1).count():
            ts0 = F.lit(run_ts)
            new_xrefs = next_surrogate_keys(
                minted.select(
                    "rgd_id",
                    F.col("curie").alias("acc_id"),
                    F.lit(XDB_KEY_AGR_GENE).alias("xdb_key"),
                    F.lit("AGR").alias("src_pipeline"),
                    ts0.alias("modification_date"),
                ),
                max_xref_hw,
                "acc_xdb_key",
            ).withColumn("acc_xdb_key", F.col("acc_xdb_key").cast("int"))

            # the three mint commits touch three DIFFERENT snapshot tables and read
            # only the checkpointed `minted`, so they stage in the background. The
            # verdict build and its scalar-counts job below read only the CURRENT
            # published snapshots, never the staged mint versions, so they overlap
            # the staging (r11, guide §2.6); if anything in between fails — the
            # churn guard included — the run scope joins the mint writers before
            # it rolls back.
            run.stage(
                "genes",
                inserts=minted.select(
                    "rgd_id",
                    "gene_symbol",
                    F.lit("gene").alias("gene_type_lc"),
                    F.lit(None).cast("string").alias("ensembl_gene_symbol"),
                    "species_type_key",
                ),
            )
            run.stage(
                "rgd_ids",
                inserts=minted.select(
                    "rgd_id",
                    F.lit("ACTIVE").alias("object_status"),
                    "species_type_key",
                    F.lit(1).alias("object_key"),
                    F.lit(None).cast("int").alias("replaced_by_rgd_id"),
                ),
            )
            run.stage(
                "xrefs",
                inserts=new_xrefs.select(*[f.name for f in xrefs.schema.fields]),
            )
            mint_dim_1 = minted.select(
                F.col("curie").alias("gene1_id"), F.col("rgd_id").alias("_mint_1")
            )
            mint_dim_2 = minted.select(
                F.col("curie").alias("gene2_id"), F.col("rgd_id").alias("_mint_2")
            )
            resolved_lines = (
                resolved_lines.join(F.broadcast(mint_dim_1), "gene1_id", "left")
                .join(F.broadcast(mint_dim_2), "gene2_id", "left")
                .withColumn("rgd_id_1", F.coalesce("rgd_id_1", "_mint_1"))
                .withColumn("rgd_id_2", F.coalesce("rgd_id_2", "_mint_2"))
                .drop("_mint_1", "_mint_2")
            )

        resolved = resolved_lines.filter(
            F.col("rgd_id_1").isNotNull() & F.col("rgd_id_2").isNotNull()
        )
        unresolved = resolved_lines.filter(
            F.col("rgd_id_1").isNull() | F.col("rgd_id_2").isNull()
        )

        # validateGeneSymbol QC (AgrTsvLoader.java:395-435): resolved HUMAN-side lines
        # whose file symbol (transliterated, case-insensitive) matches neither the DB
        # gene symbol nor the ensembl symbol — audit stream, not a drop.
        db_syms = F.broadcast(
            genes.select(
                F.col("rgd_id").alias("rgd_id_1"),
                F.lower("gene_symbol").alias("_db_sym"),
                F.lower("ensembl_gene_symbol").alias("_db_ens"),
            )
        )
        human_side = resolved.filter(F.col("species_type_key_1") == 1).withColumn(
            "_file_sym", F.lower(transliterate_greek(F.col("gene1_symbol")))
        )
        symbol_qc = (
            human_side.join(db_syms, "rgd_id_1", "left")
            .filter(
                ~F.col("_file_sym").eqNullSafe(F.col("_db_sym"))
                & ~F.col("_file_sym").eqNullSafe(F.col("_db_ens"))
            )
            .select(
                "gene1_id",
                F.col("gene1_symbol").alias("file_symbol"),
                F.col("rgd_id_1").alias("rgd_id"),
                F.col("_db_sym").alias("db_symbol"),
            )
        )

        ts = F.lit(run_ts)
        incoming = (
            resolved.select(
                F.col("rgd_id_1").alias("gene_rgd_id_1"),
                F.col("rgd_id_2").alias("gene_rgd_id_2"),
                # the reference hardcodes confidence (AgrTsvLoader.java:178)
                F.lit("stringent").alias("confidence"),
                "is_best_score",
                "is_best_rev_score",
                "methods_matched",
            )
            # same key from multiple lines may disagree on the best-score flags
            # (the reference's parallel upsert is last-wins-racy here,
            # AgrTsvLoader.java:152-194); define the merge: Y beats N
            .groupBy("gene_rgd_id_1", "gene_rgd_id_2", "methods_matched")
            .agg(
                F.min("confidence").alias("confidence"),
                F.max("is_best_score").alias("is_best_score"),
                F.max("is_best_rev_score").alias("is_best_rev_score"),
            )
            .select(
                "gene_rgd_id_1",
                "gene_rgd_id_2",
                "confidence",
                "is_best_score",
                "is_best_rev_score",
                "methods_matched",
            )
        )

        # S12 upsert on the 3-col key (Dao.java:825-849) as a full-outer verdict join
        key3 = ["gene_rgd_id_1", "gene_rgd_id_2", "methods_matched"]
        content = ["confidence", "is_best_score", "is_best_rev_score"]
        # lazily localCheckpointed: the snapshot write (inserts + deletes +
        # updates), the scalar-counts job, and the caller's audit stream all
        # branch off this full-outer join — one materialization, short plans
        verdicts = IT.round_checkpoint(
            sync.sync_full_outer(incoming, agr, key3, content)
        )

        inserts = (
            verdicts.filter(F.col("sync_verdict") == sync.INSERT)
            .select(*key3, *content)
            .withColumn("created_date", ts)
            .withColumn("last_update_date", ts)
        )
        touched = verdicts.filter(
            F.col("sync_verdict").isin(sync.MATCH, sync.UPDATE)
        ).select(*key3, *content)
        updates = (
            touched.join(agr.select(*key3, "created_date"), key3)
            .withColumn("last_update_date", ts)
            .select(*[f.name for f in agr.schema.fields])
        )

        # stale = existing rows untouched this run (§2.9 watermark) — exactly the
        # DELETE verdicts of the full-outer sync (its incoming-null side is the
        # anti-join of the snapshot against this run's keys), so the churn
        # guard's numerator, its denominator (every verdict with an existing side
        # = every snapshot row), AND the two result counts all come from ONE
        # aggregation job over the checkpointed verdicts instead of four actions.
        verdict = F.col("sync_verdict")
        stale = verdicts.filter(verdict == sync.DELETE)
        _c = verdicts.agg(
            F.sum(F.when(verdict == sync.INSERT, 1).otherwise(0)).alias("ins"),
            F.sum(F.when(verdict == sync.UPDATE, 1).otherwise(0)).alias("upd"),
            F.sum(F.when(verdict == sync.DELETE, 1).otherwise(0)).alias("del"),
            F.sum(F.when(verdict != sync.INSERT, 1).otherwise(0)).alias("existing"),
        ).collect()[0]
        n_ins, n_upd = int(_c["ins"] or 0), int(_c["upd"] or 0)
        n_stale, n_total = int(_c["del"] or 0), int(_c["existing"] or 0)
        if n_total:
            sync.guard_delete_threshold(n_stale, n_total, delete_threshold_pct)

        run.stage(
            "agr_orthologs",
            inserts=inserts.select(*[f.name for f in agr.schema.fields]),
            deletes=stale.select(*key3),
            delete_key=key3,
            updates=updates,
            update_key=key3,
        )

    return AgrLoadResult(
        resolved=resolved,
        unresolved=unresolved,
        symbol_qc=symbol_qc,
        n_inserted=n_ins,
        n_updated=n_upd,
        n_stale_deleted=n_stale,
        agr_version=run.versions["agr_orthologs"],
    )
