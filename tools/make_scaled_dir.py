"""Materialize an ~10x-scaled testdata directory from an existing sf_dir, so
`python -m ortholog_pipeline_spark.oracle` can run the driver's EXACT oracle
comparison at the next scale up (sf0.1 -> ~sf1): both engines read the SAME
scaled parquet files, so the Spark-vs-DuckDB comparison stays exact at any
scale — this lifts the "correctness sweeps are bounded by the largest
generated sf" limit noted in VERDICT r2.

Replication uses the rotation set of `tools/probes.py` (the shapes bench's
10x probes use, chosen to isolate volume growth rather than manufacture
pathologies):

- every table key is offset by i*10_000_000 per replica i, and FOREIGN keys get
  the same offset, so joins stay within a replica (referential integrity);
- c_name / s_name get a per-replica 2-char tag differing in two positions — no
  cross-replica edit-distance-1 pairs, per-replica ER pair density unchanged;
- document text is word-rotated per replica — a doc and its rotations share
  ~95% of their trigram shingles, so every doc forms a near-dup clique
  across replicas;
- embeddings are component-rotated per replica — norms and neighborhood
  structure preserved, different LSH buckets;
- events keep their timestamps (10x density per window, same window set) but
  are rewritten with microsecond timestamps via the engine's events
  normalization, which both engines read identically;
- nation/region are dimension tables and copy as-is.

Run: python tools/make_scaled_dir.py [src_sf_dir] [dst_dir] [replicas]
Then: python -m ortholog_pipeline_spark.oracle <dst_dir> [query ...]
(the check sees the Spark-written table directories and runs the five
declared-quadratic oracles as their slice twins, float-free outputs by
checksum)
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ortholog_pipeline_spark.queries import _t  # noqa: E402
from ortholog_pipeline_spark.session import get_spark  # noqa: E402
from tools import probes as P  # noqa: E402

#: each table's replica variant; nation and region are dimensions, copied as-is
VARIANTS = {
    "customer": P.tagged("c_custkey", "c_name"),
    "supplier": P.tagged("s_suppkey", "s_name"),
    "part": P.offset("p_partkey"),
    "orders": P.offset("o_orderkey", "o_custkey"),
    "lineitem": P.offset("l_orderkey", "l_partkey", "l_suppkey"),
    "events": P.offset("event_id", "user_id"),  # _t normalizes NANOS ts
    "documents": P.rotated_words,
    "embeddings": P.rotated_components,
}


def replicate(spark, src: str, dst: str, replicas: int = 10) -> None:
    os.makedirs(dst, exist_ok=True)
    for t in ("nation", "region", *VARIANTS):
        df = _t(spark, src, t)
        if t in VARIANTS:
            df = P.replicate(df, replicas, VARIANTS[t])
        df.write.mode("overwrite").parquet(os.path.join(dst, f"{t}.parquet"))


def main() -> None:
    src = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    dst = sys.argv[2] if len(sys.argv) > 2 else "/tmp/sf_scaled_10x"
    replicas = int(sys.argv[3]) if len(sys.argv) > 3 else 10
    spark = get_spark(app_name="make-scaled-dir")
    replicate(spark, src, dst, replicas)
    for t in sorted(os.listdir(dst)):
        n = spark.read.parquet(os.path.join(dst, t)).count()
        print(f"{t}: {n}")
    spark.stop()


if __name__ == "__main__":
    main()
