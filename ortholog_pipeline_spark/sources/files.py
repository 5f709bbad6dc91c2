"""Schema'd file scans S2-S4 (SURVEY.md §2.1).

Each reader returns the raw typed DataFrame plus a `to_relations`-style projection
matching the reference's parser output (OrthologRelationParser.java:138-166). Filters
are applied IN the scan expression so Catalyst pushes them into the csv reader —
gzip'd sources decompress per file, so landing dirs should hold many files for
parallelism at scale (the reference's single-file download becomes a partitioned
landing path, S1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ortholog_pipeline_spark.functions.strings import sanitize_evidence_set
from ortholog_pipeline_spark.schemas import AGR_SCHEMA, HCOP_SCHEMA, HUMAN, NCBI_SCHEMA

HUMAN_TAX_ID = "9606"


def read_hcop(spark: SparkSession, path: str) -> DataFrame:
    """S2 — HCOP 16-column gz TSV (no header), all columns typed string."""
    return (
        spark.read.option("sep", "\t")
        .option("header", "false")
        .schema(HCOP_SCHEMA)
        .csv(path)
    )


def hcop_to_relations(
    hcop: DataFrame, target_tax_id: str, target_species_key: int
) -> DataFrame:
    """F1 species filter + F11 projection to relation shape with C2 evidence sanitize
    (OrthologRelationParser.java:57-83, 106-153). Source is tagged HGNC."""
    return (
        hcop.filter(F.col("species_tax_id") == target_tax_id)
        .select(
            F.col("human_entrez_gene_id").alias("src_other_id"),
            F.col("ortholog_entrez_gene_id").alias("dest_other_id"),
            F.lit(HUMAN).alias("src_species_type_key"),
            F.lit(target_species_key).alias("dest_species_type_key"),
            F.lit("HGNC").alias("data_source"),
            sanitize_evidence_set("assert_sources").alias("data_set_name"),
        )
    )


def read_ncbi_orthologs(spark: SparkSession, path: str) -> DataFrame:
    """S3 — NCBI gene_orthologs 5-col gz TSV; header line starts with '#'."""
    return (
        spark.read.option("sep", "\t")
        .option("comment", "#")
        .option("header", "false")
        .schema(NCBI_SCHEMA)
        .csv(path)
    )


def ncbi_to_relations(
    ncbi: DataFrame, target_tax_id: str, target_species_key: int
) -> DataFrame:
    """Keep human rows (col0=9606) whose partner is the target species
    (OrthologRelationParser.java:84-101, 155-166). Source is tagged NCBI; the
    file's `relationship` column (typically "Ortholog") becomes the stored data
    set name (OrthologRelationParser.java:160-166)."""
    return (
        ncbi.filter(
            (F.col("tax_id") == HUMAN_TAX_ID)
            & (F.col("other_tax_id") == target_tax_id)
        )
        .select(
            F.col("gene_id").alias("src_other_id"),
            F.col("other_gene_id").alias("dest_other_id"),
            F.lit(HUMAN).alias("src_species_type_key"),
            F.lit(target_species_key).alias("dest_species_type_key"),
            F.lit("NCBI").alias("data_source"),
            F.col("relationship").alias("data_set_name"),
        )
    )


def read_agr_tsv(spark: SparkSession, path: str) -> DataFrame:
    """S4 — Alliance combined TSV: '#' comment lines then one header line then 13
    tab-separated columns (AgrTsvLoader.java:231-260).

    The header line does not start with '#', so `comment` alone can't skip it; the
    reader uses header=false + a filter on the first column's header token, which
    Catalyst pushes into the scan.
    """
    df = (
        spark.read.option("sep", "\t")
        .option("comment", "#")
        .option("header", "false")
        .schema(AGR_SCHEMA)
        .csv(path)
    )
    return df.filter(F.col("gene1_id") != "Gene1ID")


def check_sanity_floor(relations: DataFrame, minimum: int = 5000) -> int:
    """Parse sanity floor (OrthologRelationParser.java:47-49): abort if fewer than
    ``minimum`` relations parsed. Returns the count."""
    n = relations.count()
    if n < minimum:
        raise RuntimeError(
            f"sanity floor: parsed only {n} relations (< {minimum}) — aborting run"
        )
    return n


def read_homologene(spark: SparkSession, path: str) -> DataFrame:
    """S5 — HomoloGene ``homologene.data`` scan (deprecated flow,
    HomologeneLoader.java:21-23, 70-95): 3 used columns of the tab file —
    group id, taxonomic id, gene id."""
    from ortholog_pipeline_spark.schemas import HOMOLOGENE_SCHEMA

    return (
        spark.read.option("sep", "\t")
        .option("header", "false")
        .schema(HOMOLOGENE_SCHEMA)
        .csv(path)
    )
