"""Materialize an ~10x-scaled testdata directory from an existing sf_dir, so
`python -m ortholog_pipeline_spark.oracle` can run the driver's EXACT oracle
comparison at the next scale up (sf0.1 -> ~sf1): both engines read the SAME
scaled parquet files, so the Spark-vs-DuckDB comparison stays exact at any
scale — this lifts the "correctness sweeps are bounded by the largest
generated sf" limit noted in VERDICT r2.

Replication mirrors bench.py's scaling-probe formulas (the shapes chosen there
to isolate volume growth rather than manufacture pathologies):

- every table key is offset by i*10_000_000 per replica i, and FOREIGN keys get
  the same offset, so joins stay within a replica (referential integrity);
- c_name / s_name get a per-replica 2-char tag differing in two positions — no
  cross-replica edit-distance-1 pairs, per-replica ER pair density unchanged;
- document text is word-rotated per replica — rotated texts share almost no
  trigram shingles, near-dup density stays that of the original corpus;
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

from pyspark.sql import functions as F  # noqa: E402

from ortholog_pipeline_spark.queries import _t  # noqa: E402
from ortholog_pipeline_spark.session import get_spark  # noqa: E402

OFF = 10_000_000


def _union(parts):
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def replicate(spark, src: str, dst: str, replicas: int = 10) -> None:
    os.makedirs(dst, exist_ok=True)

    def write(name, df):
        df.write.mode("overwrite").parquet(os.path.join(dst, f"{name}.parquet"))

    # dims copy as-is
    for t in ("nation", "region"):
        write(t, _t(spark, src, t))

    cust = _t(spark, src, "customer")
    write(
        "customer",
        _union(
            [cust]
            + [
                cust.select(
                    (F.col("c_custkey") + i * OFF).alias("c_custkey"),
                    F.concat(
                        F.lit(chr(97 + i) * 2 + "~"), F.col("c_name")
                    ).alias("c_name"),
                    "c_nationkey",
                    "c_acctbal",
                    "c_mktsegment",
                )
                for i in range(1, replicas)
            ]
        ),
    )

    supp = _t(spark, src, "supplier")
    write(
        "supplier",
        _union(
            [supp]
            + [
                supp.select(
                    (F.col("s_suppkey") + i * OFF).alias("s_suppkey"),
                    F.concat(
                        F.lit(chr(97 + i) * 2 + "~"), F.col("s_name")
                    ).alias("s_name"),
                    "s_nationkey",
                    "s_acctbal",
                )
                for i in range(1, replicas)
            ]
        ),
    )

    part = _t(spark, src, "part")
    write(
        "part",
        _union(
            [part]
            + [
                part.select(
                    (F.col("p_partkey") + i * OFF).alias("p_partkey"),
                    "p_name",
                    "p_brand",
                    "p_type",
                    "p_size",
                    "p_retailprice",
                )
                for i in range(1, replicas)
            ]
        ),
    )

    orders = _t(spark, src, "orders")
    write(
        "orders",
        _union(
            [orders]
            + [
                orders.select(
                    (F.col("o_orderkey") + i * OFF).alias("o_orderkey"),
                    (F.col("o_custkey") + i * OFF).alias("o_custkey"),
                    "o_orderstatus",
                    "o_totalprice",
                    "o_orderdate",
                    "o_orderpriority",
                )
                for i in range(1, replicas)
            ]
        ),
    )

    li = _t(spark, src, "lineitem")
    write(
        "lineitem",
        _union(
            [li]
            + [
                li.select(
                    (F.col("l_orderkey") + i * OFF).alias("l_orderkey"),
                    (F.col("l_partkey") + i * OFF).alias("l_partkey"),
                    (F.col("l_suppkey") + i * OFF).alias("l_suppkey"),
                    "l_linenumber",
                    "l_quantity",
                    "l_extendedprice",
                    "l_discount",
                    "l_tax",
                    "l_returnflag",
                    "l_linestatus",
                    "l_shipdate",
                )
                for i in range(1, replicas)
            ]
        ),
    )

    ev = _t(spark, src, "events")  # normalizes NANOS -> session timestamps
    write(
        "events",
        _union(
            [ev]
            + [
                ev.select(
                    (F.col("event_id") + i * OFF).alias("event_id"),
                    "ts",
                    (F.col("user_id") + i * OFF).alias("user_id"),
                    "event_type",
                    "value",
                    "props",
                )
                for i in range(1, replicas)
            ]
        ),
    )

    docs = _t(spark, src, "documents")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    dparts = [docs]
    for i in range(1, replicas):
        rotated = F.array_join(
            F.concat(F.slice(toks, i + 1, 1 << 20), F.slice(toks, 1, i)), " "
        )
        dparts.append(
            docs.select(
                (F.col("doc_id") + i * OFF).alias("doc_id"),
                rotated.alias("text"),
                "lang",
                "source",
                F.length(rotated).alias("n_chars"),
            )
        )
    write("documents", _union(dparts))

    emb = _t(spark, src, "embeddings")
    eparts = [emb]
    for i in range(1, replicas):
        rotated = F.concat(
            F.slice("embedding", i + 1, 1 << 20), F.slice("embedding", 1, i)
        )
        eparts.append(
            emb.select(
                (F.col("vec_id") + i * OFF).alias("vec_id"),
                rotated.alias("embedding"),
                "label",
            )
        )
    write("embeddings", _union(eparts))


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
