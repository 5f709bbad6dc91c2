"""CDC / sync operators — J5-J10: the incremental insert/update/delete reconciliation
that the reference performs with per-row JDBC probes and in-loop mutation, restated as
set algebra over immutable snapshots (SURVEY.md §3.1 restatement, §7 hard parts).

Key design point for scale: every probe the reference runs per group
(`getKeyForMatchingOrtholog`, `areGenesOrthologous`, `findAssociation`, ...) becomes ONE
dataset-wide join keyed on the probe key, so 100 TB of incoming rows cost a constant
number of shuffles rather than O(rows) round trips.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Sync verdicts (rgdcore RgdObjectSyncer.qc semantics, SURVEY.md J10).
MATCH = "match"
UPDATE = "update"
INSERT = "insert"
DELETE = "delete"


def sync_full_outer(
    incoming: DataFrame,
    existing: DataFrame,
    unique_key: list[str],
    content_cols: list[str],
) -> DataFrame:
    """J10 — AssociationSyncer.qc as one full-outer join.

    Unique key for associations = (master_rgd_id, detail_rgd_id, assoc_type,
    src_pipeline) (decompiled rgdcore ``Association.equals``); content columns
    compare case-insensitively as strings (``objectsAreEqualByContent``). Verdicts:
    both + equal content → match; both + different content → update (take incoming
    content); incoming-only → insert; existing-only → delete.

    Output: unique_key columns + ``<col>`` (incoming value) and ``old_<col>`` (existing
    value) for each content col + ``sync_verdict``.
    """
    inc = incoming.select(
        *unique_key, *[F.col(c).alias(f"_inc_{c}") for c in content_cols]
    ).withColumn("_inc", F.lit(1))
    exi = existing.select(
        *unique_key, *[F.col(c).alias(f"_exi_{c}") for c in content_cols]
    ).withColumn("_exi", F.lit(1))

    j = inc.join(exi, unique_key, "full_outer")

    def _eq(c: str) -> F.Column:
        a = F.lower(F.col(f"_inc_{c}").cast("string"))
        b = F.lower(F.col(f"_exi_{c}").cast("string"))
        return (a == b) | (a.isNull() & b.isNull())

    content_equal = F.lit(True)
    for c in content_cols:
        content_equal = content_equal & _eq(c)

    verdict = (
        F.when(F.col("_inc").isNull(), F.lit(DELETE))
        .when(F.col("_exi").isNull(), F.lit(INSERT))
        .when(content_equal, F.lit(MATCH))
        .otherwise(F.lit(UPDATE))
    )

    out_cols = (
        [F.col(k) for k in unique_key]
        + [F.col(f"_inc_{c}").alias(c) for c in content_cols]
        + [F.col(f"_exi_{c}").alias(f"old_{c}") for c in content_cols]
        + [verdict.alias("sync_verdict")]
    )
    return j.select(*out_cols)


def drop_covered_by_strong(
    associations: DataFrame,
    orthologs: DataFrame,
    master_col: str = "master_rgd_id",
    detail_col: str = "detail_rgd_id",
) -> DataFrame:
    """J5 — remove weak-ortholog candidates whose pair already has a strong ortholog
    (OrthologRelationLoader.java:138-149) — one anti-join."""
    strong = orthologs.select(
        F.col("src_rgd_id").alias(master_col), F.col("dest_rgd_id").alias(detail_col)
    ).dropDuplicates()
    return associations.join(strong, [master_col, detail_col], "left_anti")


def missing_reverse(
    orthologs: DataFrame,
    src_col: str = "src_rgd_id",
    dest_col: str = "dest_rgd_id",
) -> DataFrame:
    """J8 — rows (A→B) lacking their complement (B→A)
    (OrthologRelationDao.java:230-299): a reversed self-anti-join. The caller splits
    the result on ``xref_data_src=='RGD'`` (manual rows are logged, never downgraded).
    """
    reverse_keys = orthologs.select(
        F.col(dest_col).alias(src_col), F.col(src_col).alias(dest_col)
    ).dropDuplicates()
    return orthologs.join(reverse_keys, [src_col, dest_col], "left_anti")


def reconcile_reverse_associations(
    assoc_inserts: DataFrame,
    assoc_deletes: DataFrame,
    key_cols: tuple[str, str] = ("master_rgd_id", "detail_rgd_id"),
) -> tuple[DataFrame, DataFrame]:
    """J9 — the reference detaches an (insert, delete) pair that are each other's
    reverse before applying deletes (OrthologRelationDao.java:301-350,
    detachAssociation :398-409): inserting A→B while deleting B→A is a no-op pair.

    Computed as fixpoint set algebra (SURVEY.md §7): drop from BOTH sets any insert
    whose reversed key is queued for delete. Returns (inserts, deletes) purged.
    """
    m, d = key_cols
    rev_deletes = assoc_deletes.select(
        F.col(d).alias(m), F.col(m).alias(d)
    ).dropDuplicates()
    kept_inserts = assoc_inserts.join(rev_deletes, [m, d], "left_anti")
    cancelled = assoc_inserts.join(rev_deletes, [m, d], "left_semi").select(
        F.col(d).alias(m), F.col(m).alias(d)
    )
    kept_deletes = assoc_deletes.join(cancelled, [m, d], "left_anti")
    return kept_inserts, kept_deletes


def touch_last_modified(
    existing: DataFrame,
    touched_keys: DataFrame,
    key_cols: list[str],
    run_ts,
    modified_by: int,
) -> DataFrame:
    """S10 — rows matched this run get their last-modified stamp refreshed
    (``updateLastModified``, OrthologRelationDao.java:498-500): a semi-join selects
    the touched rows, two withColumns restamp them. The result feeds
    ``StateStore.apply_changes(updates=...)``."""
    return (
        existing.join(touched_keys.select(*key_cols).dropDuplicates(), key_cols, "left_semi")
        .withColumn("last_modified_by", F.lit(modified_by))
        .withColumn("last_modified_date", F.lit(run_ts))
    )


def guard_delete_threshold(
    n_delete: int, n_total: int, threshold_pct: float = 10.0
) -> None:
    """Mass-delete safety valve (AgrTsvLoader.java:282-297, AppConfigure.xml:52):
    refuse stale deletion when it exceeds ``threshold_pct`` of the table. Driver-side
    commit gate — runs BEFORE any snapshot write."""
    if n_total > 0 and n_delete * 100.0 > threshold_pct * n_total:
        raise RuntimeError(
            f"stale-delete threshold exceeded: {n_delete}/{n_total} rows "
            f"(> {threshold_pct}%) — refusing to commit snapshot"
        )
