"""W1/W2/W5 — per-group top-1 selection windows, the semantic heart of the pipeline.

Reference: the best-fit picker (OrthologRelationLoader.java:537-588), the in-DB
duplicate cleanup window (OrthologRelationDao.java:798-819) and the prefer-mutual-best
subset (OrthoTool.java:150-164). The W3/W4 ortholog comparator (Dao.java:164-188)
lives in the species load's conflict join (`plans.species_load._conflict_verdicts`).

All are expressed as `row_number()` windows. The W1 tie-break subtlety (SURVEY.md §7):
the reference takes the greatest-evidence candidate only when it is a *strict* winner;
otherwise it falls through to the symbol rules over ALL candidates, not just the tied
ones. Encoded with a partition-max + count-at-max pair of window aggregates feeding a
single composite orderBy — still one shuffle per window key.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ortholog_pipeline_spark.functions.strings import evidence_count, source_priority


def pick_best(
    df: DataFrame,
    partition_cols: list[str],
    evidence: Column,
    prefer: Column,
    order_cols: list[Column],
) -> DataFrame:
    """Generalized W1 picker: top-1 per partition where ``evidence`` wins only when it
    is a STRICT maximum; otherwise ``prefer`` (a 0/1 column) then ``order_cols`` decide
    over ALL candidates. This is the reference's two-phase tie-break shape
    (OrthologRelationLoader.java:537-578) independent of the ortholog column names.
    """
    w = Window.partitionBy(*partition_cols)
    df = (
        df.withColumn("_ev", evidence)
        .withColumn("_ev_max", F.max("_ev").over(w))
        .withColumn(
            "_n_at_max",
            F.sum(F.when(F.col("_ev") == F.col("_ev_max"), 1).otherwise(0)).over(w),
        )
        .withColumn("_pref", prefer)
    )
    order: list[Column] = [
        F.when(F.col("_n_at_max") == 1, F.col("_ev")).otherwise(F.lit(0)).desc(),
        F.col("_pref").desc(),
        *order_cols,
    ]
    rn = F.row_number().over(w.orderBy(*order))
    return (
        df.withColumn("_rn", rn)
        .filter(F.col("_rn") == 1)
        .drop("_ev", "_ev_max", "_n_at_max", "_pref", "_rn")
    )


def best_fit(
    relations: DataFrame,
    partition_cols: list[str],
    evidence_col: str = "data_set_name",
    src_symbol_col: str = "src_gene_symbol",
    dest_symbol_col: str = "dest_gene_symbol",
    final_tiebreak_col: str = "dest_rgd_id",
) -> DataFrame:
    """W1 — pick exactly one relation per partition (src gene × dest species × source).

    Tie-break cascade (OrthologRelationLoader.java:537-578):
      1. single candidate wins outright;
      2. the candidate with strictly greatest evidence count (commas+1 in the packed
         evidence string, :580-588) wins;
      3. otherwise, among ALL candidates: dest symbol equals src symbol
         (case-insensitive) wins;
      4. otherwise alphabetically first dest symbol (case-insensitive), with
         ``final_tiebreak_col`` ascending for full determinism.
    """
    return pick_best(
        relations,
        partition_cols,
        evidence=evidence_count(evidence_col),
        prefer=F.when(
            F.lower(F.col(dest_symbol_col)) == F.lower(F.col(src_symbol_col)), 1
        ).otherwise(0),
        order_cols=[
            F.lower(F.col(dest_symbol_col)).asc_nulls_last(),
            F.col(final_tiebreak_col).asc(),
        ],
    )


def duplicate_cleanup(
    orthologs: DataFrame,
    pipeline_user_id: int,
    created_by_col: str = "created_by",
) -> tuple[DataFrame, DataFrame]:
    """W2 — the reference's literal Oracle window cleanup
    (OrthologRelationDao.java:798-819):

    ``ROW_NUMBER() OVER (PARTITION BY src_rgd_id, dest_rgd_id ORDER BY
    CASE xref_data_src RGD=4/Alliance=3/HGNC=2/NCBI=1 END DESC, genetogene_key ASC)``
    — delete rows with rn>1 AND created_by = pipeline (ownership fence).

    Returns (kept, deleted).
    """
    w = Window.partitionBy("src_rgd_id", "dest_rgd_id").orderBy(
        source_priority("xref_data_src").desc(), F.col("genetogene_key").asc()
    )
    ranked = orthologs.withColumn("_rn", F.row_number().over(w))
    doomed = (F.col("_rn") > 1) & (F.col(created_by_col) == pipeline_user_id)
    return (
        ranked.filter(~doomed).drop("_rn"),
        ranked.filter(doomed).drop("_rn"),
    )


def prefer_mutual_best(
    df: DataFrame,
    partition_cols: list[str],
    best_col: str = "is_best_score",
    best_rev_col: str = "is_best_rev_score",
) -> DataFrame:
    """W5 — if any partner in the partition is mutual-best ('Y'/'Y'), drop the others
    (OrthoTool.java:150-164)."""
    is_best = (
        (F.col(best_col) == "Y") & (F.col(best_rev_col) == "Y")
    ).cast("int")
    w = Window.partitionBy(*partition_cols)
    return (
        df.withColumn("_best", is_best)
        .withColumn("_any_best", F.max("_best").over(w))
        .filter((F.col("_any_best") == 0) | (F.col("_best") == 1))
        .drop("_best", "_any_best")
    )
