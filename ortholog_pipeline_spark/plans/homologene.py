"""HomoloGene flow (HomologeneLoader.java — deprecated in the reference,
HomologeneLoader.java:21-23, but part of its historical surface): parse the
3-col homologene.data shape (S5), resolve each entry's external gene id to
exactly one gene (drop no-match / multi-match with counters,
HomologeneLoader.java:120-135), expand every group into all ordered pairs
(J13: i<j both directions, buildIncomingList :306-343; dataSet constant
'HOMOLOGENE', ortholog type 11, group_id = homologene id), then per-group CDC
against existing rows fetched by (group_id, xref_data_src='HOMOLOGENE')
(:141-166): unique key (src,dest) → match (touch last-modified), incoming-only
→ insert, existing-only → delete. Groups absent from the file — and rows of
other data sources — are never touched (the scope fence).

Spark restatement: the per-group loops become one self-join on the group key
(pair expansion is order-independent: {a,b} both directions equals the
reference's i<j-plus-clone loop for any entry order) and one full-outer CDC
join keyed (group_id, src_rgd_id, dest_rgd_id), semi-join-scoped to the file's
group ids. Scale: both wide ops shuffle on the group key; group fan-out is
n·(n−1) per group — bounded by HomoloGene's ~6-member groups, never the file
size.
"""

from __future__ import annotations

from dataclasses import dataclass
from datetime import datetime

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ortholog_pipeline_spark.operators import iterate as IT
from ortholog_pipeline_spark.schemas import (
    ORTHOLOG_TYPE_DIRECT,
    PIPELINE_USER_ID,
    XDB_KEY_ENTREZ,
)
from ortholog_pipeline_spark.sources.state import StateStore, next_surrogate_keys

#: HomoloGene supports only these taxa (HomologeneLoader.java:234-243).
TAXON_TO_SPECIES = {"9606": 1, "10090": 2, "10116": 3}

SRC = "HOMOLOGENE"


@dataclass
class HomologeneResult:
    n_bad_species: int
    n_no_rgd: int
    n_multi_rgd: int
    n_inserted: int
    n_deleted: int
    n_matched: int
    orthologs_version: int


def run_homologene_load(
    store: StateStore, entries: DataFrame, run_ts: datetime
) -> HomologeneResult:
    """``entries`` carries (homologene_id int, tax_id string, gene_id string)
    — the HOMOLOGENE_SCHEMA shape (S5)."""
    xrefs = store.read("xrefs")
    orthologs = store.read("orthologs")

    tax_map = F.create_map(*[F.lit(x) for kv in TAXON_TO_SPECIES.items() for x in kv])
    typed = entries.withColumn("species_type_key", tax_map[F.col("tax_id")])
    valid = typed.filter(F.col("species_type_key").isNotNull())

    # exactly-one gene per external id (HomologeneLoader.java:120-135)
    dim = (
        xrefs.filter(F.col("xdb_key") == XDB_KEY_ENTREZ)
        .groupBy(F.col("acc_id").alias("gene_id"))
        .agg(F.count("*").alias("_n"), F.min("rgd_id").alias("rgd_id"))
    )
    # join ALL typed rows (bad-species included) so ONE pass yields all three
    # audit counts — n_bad previously paid its own scan of the entry stream
    joined_all = typed.join(F.broadcast(dim), "gene_id", "left")
    audit_row = joined_all.agg(
        F.count(F.when(F.col("species_type_key").isNull(), 1)).alias("n_bad"),
        F.count(
            F.when(F.col("species_type_key").isNotNull() & F.col("_n").isNull(), 1)
        ).alias("n_no"),
        F.count(
            F.when(F.col("species_type_key").isNotNull() & (F.col("_n") > 1), 1)
        ).alias("n_multi"),
    ).collect()[0]
    n_bad, n_no, n_multi = audit_row.n_bad, audit_row.n_no, audit_row.n_multi
    resolved = joined_all.filter(
        F.col("species_type_key").isNotNull() & (F.col("_n") == 1)
    ).select("homologene_id", "rgd_id", "species_type_key")

    # J13 pair expansion: all unordered pairs per group, both directions
    a = resolved.select(
        F.col("homologene_id").alias("g"),
        F.col("rgd_id").alias("r1"),
        F.col("species_type_key").alias("s1"),
    )
    b = resolved.select(
        F.col("homologene_id").alias("g"),
        F.col("rgd_id").alias("r2"),
        F.col("species_type_key").alias("s2"),
    )
    fwd = a.join(b, "g").filter(F.col("r1") < F.col("r2"))
    incoming = fwd.select(
        F.col("g").alias("group_id"),
        F.col("r1").alias("src_rgd_id"),
        F.col("r2").alias("dest_rgd_id"),
        F.col("s1").alias("src_species_type_key"),
        F.col("s2").alias("dest_species_type_key"),
    ).unionByName(
        fwd.select(
            F.col("g").alias("group_id"),
            F.col("r2").alias("src_rgd_id"),
            F.col("r1").alias("dest_rgd_id"),
            F.col("s2").alias("src_species_type_key"),
            F.col("s1").alias("dest_species_type_key"),
        )
    )

    # scope fence: only file groups, only HOMOLOGENE-sourced rows (:141-146)
    file_groups = valid.select(
        F.col("homologene_id").alias("group_id")
    ).dropDuplicates()
    scope = orthologs.filter(F.col("xref_data_src") == SRC).join(
        F.broadcast(file_groups), "group_id", "left_semi"
    )

    key = ["group_id", "src_rgd_id", "dest_rgd_id"]
    # checkpointed: matches (touch), ins_raw (write), deletes (write) and the
    # fused scalar-counts job all branch off this full-outer verdict join — at
    # ~sf1 this frame is 350M+ rows, so one materialization and LogicalRDD-leaf
    # plans for every consumer (species-flow lesson)
    j = IT.round_checkpoint(incoming.withColumn("_inc", F.lit(1)).join(
        scope.select(*key, "genetogene_key").withColumn("_exi", F.lit(1)),
        key,
        "full_outer",
    ))
    matches = j.filter(F.col("_inc").isNotNull() & F.col("_exi").isNotNull())
    ins_raw = j.filter(F.col("_exi").isNull())  # species cols ride along
    deletes = j.filter(F.col("_inc").isNull()).select("genetogene_key")

    ts = F.lit(run_ts)
    # ONE job for every driver-side scalar: the three audit counts over the
    # verdict join AND the surrogate-key high-water mark (unioned 1-row aggs;
    # replaces max collect + 3 separate counts = 4 scheduled jobs)
    _rows = (
        j.agg(
            F.sum(F.when(F.col("_exi").isNull(), 1).otherwise(0)).alias("_a"),
            F.sum(F.when(F.col("_inc").isNull(), 1).otherwise(0)).alias("_b"),
            F.sum(
                F.when(F.col("_inc").isNotNull() & F.col("_exi").isNotNull(), 1)
                .otherwise(0)
            ).alias("_c"),
        )
        .select(F.lit("j").alias("_t"), "_a", "_b", "_c")
        .unionByName(
            orthologs.agg(F.max("genetogene_key").alias("_a")).select(
                F.lit("hw").alias("_t"),
                F.col("_a").cast("long"),
                F.lit(None).cast("long").alias("_b"),
                F.lit(None).cast("long").alias("_c"),
            )
        )
        .collect()
    )
    _by = {r["_t"]: r for r in _rows}
    n_ins = int(_by["j"]["_a"] or 0)
    n_del = int(_by["j"]["_b"] or 0)
    n_match = int(_by["j"]["_c"] or 0)
    max_key = _by["hw"]["_a"] or 0
    inserts = (
        next_surrogate_keys(
            ins_raw.select(
                "group_id",
                "src_rgd_id",
                "dest_rgd_id",
                "src_species_type_key",
                "dest_species_type_key",
            ),
            max_key,
            "genetogene_key",
        )
        .withColumn("xref_data_src", F.lit(SRC))
        .withColumn("xref_data_set", F.lit(SRC))
        .withColumn("ortholog_type_key", F.lit(ORTHOLOG_TYPE_DIRECT))
        .withColumn("percent_homology", F.lit(None).cast("double"))
        .withColumn("created_by", F.lit(PIPELINE_USER_ID))
        .withColumn("created_date", ts)
        .withColumn("last_modified_by", F.lit(PIPELINE_USER_ID))
        .withColumn("last_modified_date", ts)
        .select(*[f.name for f in orthologs.schema.fields])
        # not stored: consumed once (the write); keygen's internal checkpoint
        # already covers its own double-read of the subtree
    )
    touched = (
        orthologs.join(
            matches.select("genetogene_key").dropDuplicates(),
            "genetogene_key",
            "left_semi",
        )
        .withColumn("last_modified_by", F.lit(PIPELINE_USER_ID))
        .withColumn("last_modified_date", ts)
    )

    version = store.apply_changes(
        "orthologs",
        inserts=inserts,
        deletes=deletes,
        delete_key=["genetogene_key"],
        updates=touched,
        update_key=["genetogene_key"],
    )
    return HomologeneResult(
        n_bad_species=n_bad,
        n_no_rgd=n_no,
        n_multi_rgd=n_multi,
        n_inserted=n_ins,
        n_deleted=n_del,
        n_matched=n_match,
        orthologs_version=version,
    )
