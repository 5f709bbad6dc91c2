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
from ortholog_pipeline_spark.operators import iterate as IT
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


def homologene_to_relations(homologene: DataFrame, tax_to_species: dict[str, int]) -> DataFrame:
    """J13 — each HomoloGene group expands to all n·(n−1) directed member pairs
    (HomologeneLoader.java:306-343): a per-group self-join on the group id with an
    index inequality, then both directions via union. ``tax_to_species`` maps
    taxonomic ids to species keys; unmapped rows are dropped (the reference skips
    unsupported species)."""
    mapping = F.create_map(
        *[F.lit(x) for kv in tax_to_species.items() for x in kv]
    )
    members = homologene.select(
        "homologene_id",
        F.col("gene_id"),
        mapping[F.col("tax_id")].alias("species_type_key"),
    ).filter(F.col("species_type_key").isNotNull())

    a = members.select(
        "homologene_id",
        F.col("gene_id").alias("src_other_id"),
        F.col("species_type_key").alias("src_species_type_key"),
    )
    b = members.select(
        "homologene_id",
        F.col("gene_id").alias("dest_other_id"),
        F.col("species_type_key").alias("dest_species_type_key"),
    )
    pairs = a.join(b, "homologene_id").filter(
        F.col("src_other_id") != F.col("dest_other_id")
    )
    return pairs.select(
        "src_other_id",
        "dest_other_id",
        "src_species_type_key",
        "dest_species_type_key",
        F.lit("HomoloGene").alias("data_source"),
        F.concat(F.lit("homologene:"), F.col("homologene_id")).alias("data_set_name"),
    )


# ---------------------------------------------------------------------------
# Training-corpus ingest: JSONL documents (the common LLM-corpus interchange)
# ---------------------------------------------------------------------------

def _documents_jsonl_schema():
    """documents-table shape plus the corrupt-record capture column."""
    from pyspark.sql import types as T

    return T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
            T.StructField("_corrupt_record", T.StringType()),
        ]
    )


def read_jsonl_documents(
    spark: SparkSession, path: str
) -> tuple[DataFrame, DataFrame]:
    """JSONL corpus scan → (documents, corrupt_lines).

    Explicit schema (never inferred — inference is a full extra pass at 100 TB),
    PERMISSIVE mode with the corrupt line captured whole, gzip handled by the
    codec from the extension. The split mirrors the engine's audit-stream
    pattern: bad lines land in a reviewable frame instead of killing the run.
    The scan is checkpointed before filtering — Spark requires the
    corrupt-record column be materialized before it can be referenced in a
    filter."""
    raw = IT.round_checkpoint(
        spark.read.schema(_documents_jsonl_schema())
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
    )
    good = raw.filter(F.col("_corrupt_record").isNull()).drop("_corrupt_record")
    bad = raw.filter(F.col("_corrupt_record").isNotNull()).select(
        F.col("_corrupt_record").alias("line")
    )
    return good, bad


def write_jsonl_documents(df: DataFrame, path: str, compress: bool = True) -> None:
    """JSONL corpus sink (gzip by default) — the write half of the interchange."""
    w = df.write.mode("overwrite")
    if compress:
        w = w.option("compression", "gzip")
    w.json(path)
