"""S14 — per-concern audit outputs.

The reference fans run events into 18 per-concern log4j files (log4j2.xml appenders;
README.md:137-144: matched/unmatched/multipleMatch/withdrawn/inserted/deleted/...).
The engine's equivalent: each concern is a DataFrame side-output written as a
parquet audit table under ``<root>/audit/<run_id>/<concern>/`` — queryable,
schema'd, and cheap (each is a filter over an already-checkpointed frame, no extra
lineage recomputation).
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from ortholog_pipeline_spark.operators import resolve, sync
from ortholog_pipeline_spark.plans.species_load import SpeciesLoadResult


def write_species_load_audit(
    result: SpeciesLoadResult, audit_root: str, run_id: str
) -> dict[str, int]:
    """Write the §3.1 run's per-concern audit tables; returns concern → row count
    (the reference's summary-log counters, Manager.java:157-171)."""
    base = os.path.join(audit_root, run_id)
    dropped = result.resolved_dropped
    concerns = {
        # J1 resolution concerns (one per verdict, either side)
        "unmatched": dropped.filter(
            (F.col("src_verdict") == resolve.UNMATCHED)
            | (F.col("dest_verdict") == resolve.UNMATCHED)
        ),
        "multiple_match": dropped.filter(
            (F.col("src_verdict") == resolve.MULTIPLE)
            | (F.col("dest_verdict") == resolve.MULTIPLE)
        ),
        "withdrawn": dropped.filter(
            (F.col("src_verdict") == resolve.WITHDRAWN)
            | (F.col("dest_verdict") == resolve.WITHDRAWN)
        ),
        # J7 verdict concerns
        "matched": result.verdicts.filter(F.col("verdict") == "MATCH"),
        "inserted": result.inserted,
        "deleted": result.deleted,
        "downgraded": result.downgraded,
        # J10 association concerns
        "assoc_inserted": result.assoc_verdicts.filter(
            F.col("sync_verdict") == sync.INSERT
        ),
        "assoc_updated": result.assoc_verdicts.filter(
            F.col("sync_verdict") == sync.UPDATE
        ),
        "assoc_deleted": result.assoc_verdicts.filter(
            F.col("sync_verdict") == sync.DELETE
        ),
    }
    counts: dict[str, int] = {}
    for concern, df in concerns.items():
        path = os.path.join(base, concern)
        df.write.mode("overwrite").parquet(path)
        counts[concern] = df.count()
    # run-metrics table (A6): the resolution counter pool
    result.resolution_metrics.write.mode("overwrite").parquet(
        os.path.join(base, "resolution_metrics")
    )
    return counts
