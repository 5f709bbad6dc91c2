"""A1/A2 grouping + duplicate-merge and U4 complement closure.

The reference materializes a Map<humanRgdId, OrthologGroup> and mutates lists in place
(OrthologRelationLoader.java:375-398; OrthologGroup.java:20-91). Spark-first, a "group"
is just the grouping key — no per-group objects; dedup-merge is one aggregation and the
bidirectional closure is a union with swapped columns. Both are single-shuffle
operations keyed on the same (src,dest) pair, so at 100 TB they scale by partition
count alone.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def merge_duplicate_relations(relations: DataFrame) -> DataFrame:
    """A2 — merge rows with the same (src_rgd_id, dest_rgd_id).

    Reference semantics (OrthologGroup.java:20-60):
      * same data_source          → union the evidence sets
      * {HGNC, NCBI} source pair  → keep HGNC as source, evidence = HGNC evidence
                                    plus the literal token "NCBI"
      * any other source pair     → hard error

    Expressed as one groupBy: collect the distinct sources, validate the combination
    with a `when` chain, and rebuild the packed evidence string with array functions.
    """
    ev_tokens = F.transform(F.split(F.col("data_set_name"), ","), lambda t: F.trim(t))

    merged = (
        relations.withColumn("_ev_tokens", ev_tokens)
        .groupBy(
            "src_rgd_id",
            "dest_rgd_id",
            "src_species_type_key",
            "dest_species_type_key",
        )
        .agg(
            F.array_sort(F.array_distinct(F.collect_list("data_source"))).alias(
                "_sources"
            ),
            F.array_distinct(
                F.flatten(
                    F.collect_list(
                        F.when(F.col("data_source") == "HGNC", F.col("_ev_tokens"))
                        .otherwise(F.array())
                    )
                )
            ).alias("_hgnc_ev"),
            F.array_distinct(F.flatten(F.collect_list("_ev_tokens"))).alias("_all_ev"),
        )
    )

    n_src = F.size("_sources")
    is_hgnc_ncbi = (n_src == 2) & (
        F.col("_sources") == F.array(F.lit("HGNC"), F.lit("NCBI"))
    )

    out = merged.select(
        "src_rgd_id",
        "dest_rgd_id",
        "src_species_type_key",
        "dest_species_type_key",
        F.when(n_src == 1, F.element_at("_sources", 1))
        .when(is_hgnc_ncbi, F.lit("HGNC"))
        .otherwise(F.lit(None))
        .alias("data_source"),
        F.when(
            is_hgnc_ncbi,
            F.array_join(
                F.array_sort(
                    F.array_distinct(
                        F.concat(F.col("_hgnc_ev"), F.array(F.lit("NCBI")))
                    )
                ),
                ", ",
            ),
        )
        .otherwise(F.array_join(F.array_sort("_all_ev"), ", "))
        .alias("data_set_name"),
    )
    return out


def check_mergeable(merged: DataFrame) -> None:
    """OrthologGroup.java:36-38 throws on an un-mergeable source pair; here the error
    path is a filter + driver raise (SURVEY.md A2)."""
    bad = merged.filter(F.col("data_source").isNull()).limit(1).collect()
    if bad:
        r = bad[0]
        raise ValueError(
            f"cannot merge relations with conflicting sources for "
            f"({r.src_rgd_id},{r.dest_rgd_id})"
        )


def complement_closure(relations: DataFrame) -> DataFrame:
    """U4 — every human→species relation gains its synthesized species→human twin,
    deduped (OrthologGroup.java:66-91 buildComplementaryRelations)."""
    reversed_ = relations.select(
        F.col("dest_rgd_id").alias("src_rgd_id"),
        F.col("src_rgd_id").alias("dest_rgd_id"),
        F.col("dest_species_type_key").alias("src_species_type_key"),
        F.col("src_species_type_key").alias("dest_species_type_key"),
        "data_source",
        "data_set_name",
    )
    cols = [
        "src_rgd_id",
        "dest_rgd_id",
        "src_species_type_key",
        "dest_species_type_key",
        "data_source",
        "data_set_name",
    ]
    return relations.select(*cols).unionByName(reversed_).dropDuplicates(
        ["src_rgd_id", "dest_rgd_id", "data_source"]
    )
