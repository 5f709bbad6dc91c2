"""Schemas the tests build their fixture frames and state tables with.

The package declares no state-table schema: the flows read whatever the
snapshots hold (`StateStore.read` infers it from the parquet files). These
are the columns the flows use, in the reference's order (SURVEY.md §1.2;
FIXTURES.md state-table fixtures).
"""

from __future__ import annotations

from pyspark.sql import types as T

#: In-flight relation record (OrthologRelation.java:7-16).
RELATION_SCHEMA = T.StructType(
    [
        T.StructField("src_other_id", T.StringType()),
        T.StructField("dest_other_id", T.StringType()),
        T.StructField("src_species_type_key", T.IntegerType()),
        T.StructField("dest_species_type_key", T.IntegerType()),
        T.StructField("data_source", T.StringType()),
        T.StructField("data_set_name", T.StringType()),
    ]
)

GENES_SCHEMA = T.StructType(
    [
        T.StructField("rgd_id", T.IntegerType()),
        T.StructField("gene_symbol", T.StringType()),
        T.StructField("gene_type_lc", T.StringType()),
        T.StructField("ensembl_gene_symbol", T.StringType()),
        T.StructField("species_type_key", T.IntegerType()),
    ]
)

RGD_IDS_SCHEMA = T.StructType(
    [
        T.StructField("rgd_id", T.IntegerType()),
        T.StructField("object_status", T.StringType()),  # ACTIVE/WITHDRAWN/RETIRED
        T.StructField("species_type_key", T.IntegerType()),
        T.StructField("object_key", T.IntegerType()),
        T.StructField("replaced_by_rgd_id", T.IntegerType()),  # nullable; 0/null=none
    ]
)

XREFS_SCHEMA = T.StructType(
    [
        T.StructField("acc_xdb_key", T.IntegerType()),
        T.StructField("rgd_id", T.IntegerType()),
        T.StructField("acc_id", T.StringType()),
        T.StructField("xdb_key", T.IntegerType()),  # 3=EntrezGene, 63=AGR curie
        T.StructField("src_pipeline", T.StringType()),
        T.StructField("modification_date", T.TimestampType()),
    ]
)

ORTHOLOGS_SCHEMA = T.StructType(
    [
        T.StructField("genetogene_key", T.LongType()),
        T.StructField("src_rgd_id", T.IntegerType()),
        T.StructField("dest_rgd_id", T.IntegerType()),
        T.StructField("src_species_type_key", T.IntegerType()),
        T.StructField("dest_species_type_key", T.IntegerType()),
        T.StructField("group_id", T.IntegerType()),
        T.StructField("xref_data_src", T.StringType()),  # RGD/Alliance/HGNC/NCBI
        T.StructField("xref_data_set", T.StringType()),  # ", "-joined sorted set
        T.StructField("ortholog_type_key", T.IntegerType()),  # 11=direct
        T.StructField("percent_homology", T.DoubleType()),
        T.StructField("created_by", T.IntegerType()),  # 70 = this pipeline
        T.StructField("created_date", T.TimestampType()),
        T.StructField("last_modified_by", T.IntegerType()),
        T.StructField("last_modified_date", T.TimestampType()),
    ]
)

ASSOCIATIONS_SCHEMA = T.StructType(
    [
        T.StructField("assoc_key", T.LongType()),
        T.StructField("assoc_type", T.StringType()),  # 'weak_ortholog'
        T.StructField("assoc_subtype", T.StringType()),  # evidence set
        T.StructField("master_rgd_id", T.IntegerType()),
        T.StructField("detail_rgd_id", T.IntegerType()),
        T.StructField("creation_date", T.TimestampType()),
        T.StructField("src_pipeline", T.StringType()),
    ]
)

AGR_ORTHOLOGS_SCHEMA = T.StructType(
    [
        T.StructField("gene_rgd_id_1", T.IntegerType()),
        T.StructField("gene_rgd_id_2", T.IntegerType()),
        T.StructField("confidence", T.StringType()),
        T.StructField("is_best_score", T.StringType()),  # 'Y'/'N'
        T.StructField("is_best_rev_score", T.StringType()),
        T.StructField("methods_matched", T.StringType()),  # '|'-joined sorted set
        T.StructField("created_date", T.TimestampType()),
        T.StructField("last_update_date", T.TimestampType()),
    ]
)

#: A media row: opaque payload + typed metadata (the "documents with binary columns"
#: table shape a training-data pipeline carries).
MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("media_type", T.StringType()),  # image|audio|video
        T.StructField("payload", T.BinaryType()),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("format", T.StringType()),
                    T.StructField("width", T.IntegerType()),
                    T.StructField("height", T.IntegerType()),
                    T.StructField("sample_rate", T.IntegerType()),
                    T.StructField("n_frames", T.IntegerType()),
                ]
            ),
        ),
    ]
)
