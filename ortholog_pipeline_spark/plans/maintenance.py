"""§3.3 — the `--fixXRefDataSet` maintenance flow.

One fixed-rows frame per table, counted and staged as keyed updates — the Spark
restatement of the full-scan UPDATE loops at OrthologRelationDao.java:707-767. The
update rule is the reference's exact guard: replace the packed evidence set only when
the sanitized form is STRICTLY shorter (Dao.java:720-732).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ortholog_pipeline_spark.functions.strings import sanitize_if_shorter
from ortholog_pipeline_spark.sources.state import StateStore


@dataclass
class FixXrefResult:
    n_orthologs_fixed: int
    n_associations_fixed: int
    orthologs_version: int
    associations_version: int


def _fixed_rows(df: DataFrame, col: str, fixed: Column) -> DataFrame:
    """The rows whose ``col`` the fix changes, carrying the fixed value."""
    return df.filter(~fixed.eqNullSafe(F.col(col))).withColumn(col, fixed)


def run_fix_xref_data_set(store: StateStore) -> FixXrefResult:
    """Both tables' fixed rows stage as keyed updates in one `StateStore.run`:
    readers see both tables fixed or neither."""
    fixed_o = _fixed_rows(
        store.read("orthologs"),
        "xref_data_set",
        sanitize_if_shorter("xref_data_set"),
    )
    fixed_a = _fixed_rows(
        store.read("associations").filter(F.col("assoc_type") == "weak_ortholog"),
        "assoc_subtype",
        sanitize_if_shorter("assoc_subtype"),
    )
    n_o, n_a = fixed_o.count(), fixed_a.count()
    with store.run(["orthologs", "associations"]) as run:
        run.stage("orthologs", updates=fixed_o, update_key=["genetogene_key"])
        run.stage("associations", updates=fixed_a, update_key=["assoc_key"])
    return FixXrefResult(
        n_o, n_a, run.versions["orthologs"], run.versions["associations"]
    )
