"""Explicit schemas for the landing files, and the engine's shared constants.

The reference hard-codes column positions in its parsers (HCOP cols 0/1/8/15 at
OrthologRelationParser.java:139-143; NCBI cols 0-4 at :86-101; Alliance cols 0-12 at
AgrTsvLoader.java:97-128), so the engine declares fixed StructTypes — never inferred —
and lets the csv/parquet scans prune to exactly the used columns.
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Source files (SURVEY.md §2.1 S2-S4, FIXTURES.md)
# ---------------------------------------------------------------------------

#: HCOP 16-column gz TSV (OrthologRelationParser.java:14-21). The engine declares all
#: 16 so positional reads are stable; Catalyst prunes to the 4 used.
HCOP_SCHEMA = T.StructType(
    [
        T.StructField("species_tax_id", T.StringType()),  # col 0 — filter F1
        T.StructField("human_entrez_gene_id", T.StringType()),  # col 1 — src key
        T.StructField("human_ensembl", T.StringType()),
        T.StructField("human_hgnc", T.StringType()),
        T.StructField("human_gene_name", T.StringType()),
        T.StructField("human_gene_symbol", T.StringType()),
        T.StructField("human_chr", T.StringType()),
        T.StructField("human_assert_ids", T.StringType()),
        T.StructField("ortholog_entrez_gene_id", T.StringType()),  # col 8 — dest key
        T.StructField("ortholog_ensembl", T.StringType()),
        T.StructField("ortholog_ext", T.StringType()),
        T.StructField("ortholog_gene_name", T.StringType()),
        T.StructField("ortholog_gene_symbol", T.StringType()),
        T.StructField("ortholog_chr", T.StringType()),
        T.StructField("ortholog_assert_ids", T.StringType()),
        T.StructField("assert_sources", T.StringType()),  # col 15 — evidence set
    ]
)

#: NCBI gene_orthologs 5-column gz TSV (OrthologRelationParser.java:84-101).
NCBI_SCHEMA = T.StructType(
    [
        T.StructField("tax_id", T.StringType()),
        T.StructField("gene_id", T.StringType()),
        T.StructField("relationship", T.StringType()),
        T.StructField("other_tax_id", T.StringType()),
        T.StructField("other_gene_id", T.StringType()),
    ]
)

#: Alliance combined ortholog TSV, 13 columns (AgrTsvLoader.java:95-128).
AGR_SCHEMA = T.StructType(
    [
        T.StructField("gene1_id", T.StringType()),
        T.StructField("gene1_symbol", T.StringType()),
        T.StructField("gene1_species_taxon_id", T.StringType()),
        T.StructField("gene1_species_name", T.StringType()),
        T.StructField("gene2_id", T.StringType()),
        T.StructField("gene2_symbol", T.StringType()),
        T.StructField("gene2_species_taxon_id", T.StringType()),
        T.StructField("gene2_species_name", T.StringType()),
        T.StructField("algorithms", T.StringType()),
        T.StructField("algorithms_match", T.StringType()),
        T.StructField("out_of_algorithms", T.StringType()),
        T.StructField("is_best_score", T.StringType()),
        T.StructField("is_best_rev_score", T.StringType()),
    ]
)

#: Species constants (decompiled rgdcore SpeciesType; SURVEY.md §1.2).
SPECIES = {
    "human": (1, 9606, "Homo sapiens"),
    "mouse": (2, 10090, "Mus musculus"),
    "rat": (3, 10116, "Rattus norvegicus"),
    "chinchilla": (4, 34839, "Chinchilla lanigera"),
    "bonobo": (5, 9597, "Pan paniscus"),
    "dog": (6, 9615, "Canis lupus familiaris"),
    "squirrel": (7, 43179, "Ictidomys tridecemlineatus"),
    "zebrafish": (8, 7955, "Danio rerio"),
    "pig": (9, 9823, "Sus scrofa"),
    "fruitfly": (10, 7227, "Drosophila melanogaster"),
    "roundworm": (11, 6239, "Caenorhabditis elegans"),
    "yeast": (12, 559292, "Saccharomyces cerevisiae"),
    "vervet": (13, 60711, "Chlorocebus sabaeus"),
    "naked_mole_rat": (14, 10181, "Heterocephalus glaber"),
    "black_rat": (17, 10117, "Rattus rattus"),
}

HUMAN = 1
XDB_KEY_ENTREZ = 3
XDB_KEY_AGR_GENE = 63
PIPELINE_USER_ID = 70  # created_by for pipeline-owned rows (AppConfigure.xml:17)
ORTHOLOG_TYPE_DIRECT = 11

#: HomoloGene homologene.data (deprecated flow, HomologeneLoader.java:70-95).
HOMOLOGENE_SCHEMA = T.StructType(
    [
        T.StructField("homologene_id", T.IntegerType()),
        T.StructField("tax_id", T.StringType()),
        T.StructField("gene_id", T.StringType()),
    ]
)
