"""Deterministic, engine-portable sampling for training-data pipelines.

``df.sample()`` is seed-and-partitioning dependent — rerun the job with a
different file split and the sample changes, which poisons train/holdout
hygiene. These operators derive membership from a content hash (md5 of the row
key + a salt string), so the same row lands in the same split on any cluster,
any partitioning, any engine — DuckDB reproduces every decision bit-for-bit,
which is what the registry oracles check.

Scale shapes:
  * hash-Bernoulli: pure map-side filter — no shuffle at all, pushes through
    any plan, works on a stream.
  * exact stratified: one shuffle (window over the stratum key); exact
    ceil(n·f) rows per stratum with a deterministic hash order, so reruns and
    resizes return the identical sample. A pathologically hot stratum behaves
    like any partitioned window — salt upstream if one stratum is ~the corpus.
  * train/holdout split: the Bernoulli hash as a LABEL (no filter), so one scan
    feeds both sides without re-reading.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ortholog_pipeline_spark.operators.dedup import hex_hash64

#: Denominator for hash-bucket fractions: hash mod 1e6 < f·1e6.
BUCKETS = 1_000_000


def sample_bucket(key: Column, salt: str) -> Column:
    """Uniform bucket in [0, 1e6) from md5(salt || key) — the portable coin."""
    return F.pmod(hex_hash64(F.concat(F.lit(salt), key.cast("string"))), F.lit(BUCKETS))


def train_holdout_split(
    df: DataFrame, key_col: str, holdout_fraction: float = 0.1, salt: str = "s0"
) -> DataFrame:
    """Label every row 'train' / 'holdout' by hash bucket (no filter): one scan
    serves both splits, and a document can never migrate between them."""
    return df.withColumn(
        "split",
        F.when(
            sample_bucket(F.col(key_col), salt) < int(holdout_fraction * BUCKETS),
            F.lit("holdout"),
        ).otherwise(F.lit("train")),
    )


def stratified_exact_sample(
    df: DataFrame,
    strata_cols: list[str],
    key_col: str,
    fraction: float,
    salt: str = "s0",
) -> DataFrame:
    """Exactly ceil(n·fraction) rows from every stratum, chosen by hash order —
    a deterministic quota sample that preserves small strata (ceil keeps ≥1 row
    of any non-empty stratum). One window shuffle on the strata key."""
    w = Window.partitionBy(*strata_cols).orderBy(
        sample_bucket(F.col(key_col), salt), F.col(key_col)
    )
    wc = Window.partitionBy(*strata_cols)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .withColumn("_n", F.count("*").over(wc))
        .filter(F.col("_rn") <= F.ceil(F.col("_n") * F.lit(fraction)))
        .drop("_rn", "_n")
    )


def weighted_sample_topk(
    df: DataFrame,
    key_col: str,
    weight_col: Column,
    k: int,
    salt: str = "w0",
) -> DataFrame:
    """Weighted sampling without replacement (Efraimidis–Spirakis A-ES): draw a
    uniform u in (0,1] from the content hash, rank by priority ln(u)/w
    descending, keep the global top-k. Items with twice the weight are twice as
    likely to be drawn — the standard shape for token-budget-weighted corpus
    sampling (weight = document length).

    Scale shape: priorities are map-side; the global top-k is orderBy+limit,
    which Spark executes as TakeOrderedAndProject (per-partition heaps + a k-row
    merge on the driver) — no single-partition global window, no full sort.

    Determinism: u is the md5 bucket -> priorities are engine-portable modulo
    libm ln() last-ulp differences; rounding to 6 decimals before ranking (with
    the key as tiebreak) absorbs that, so DuckDB draws the identical sample."""
    u = (sample_bucket(F.col(key_col), salt) + 1).cast("double") / F.lit(
        float(BUCKETS)
    )
    w = F.greatest(weight_col.cast("double"), F.lit(1.0))
    # + 0.0 canonicalizes IEEE negative zero: round(-1e-9, 6) is -0.0, which
    # engines (and the driver's "%.6f" hashing) render differently from 0.0
    prio = F.round(F.log(u) / w, 6) + F.lit(0.0)
    return (
        df.withColumn("_prio", prio)
        .orderBy(F.col("_prio").desc(), F.col(key_col).asc())
        .limit(k)
    )


def reservoir_per_key(
    df: DataFrame,
    key_cols: list[str],
    id_col: str,
    k: int,
    salt: str = "s0",
) -> DataFrame:
    """Fixed-size k-sample per key — the deterministic stand-in for a per-key
    reservoir. A classic streaming reservoir (Vitter's algorithm R) is
    arrival-order dependent: rerun the job with different file splits and the
    sample changes. Ranking by the content hash instead draws the same uniform
    without-replacement k rows per key on any partitioning, any engine, any
    run — and it IS the reservoir distribution (each hash order is a uniform
    random permutation of the key's rows under the md5 coin).

    Scale shape: one shuffle (window over the key). A pathologically hot key
    concentrates on one task like any partitioned window; since only k rows
    survive, pre-filter skewed keys with a per-partition local top-k first
    (same two-stage trick as similarity.brute_force_topk) if a key is ~the
    corpus."""
    w = Window.partitionBy(*key_cols).orderBy(
        sample_bucket(F.col(id_col), salt), F.col(id_col)
    )
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def kfold_assign(
    df: DataFrame, key_col: str, k: int = 5, salt: str = "fold|"
) -> DataFrame:
    """Cross-validation fold labels: fold = md5(salt||key) mod k. Same hash
    contract as the Bernoulli sampler — membership is a pure function of the
    row key, so folds are disjoint BY CONSTRUCTION and identical on any
    cluster, any partitioning, any engine, and any rerun (no seed state to
    persist). Map-side only: the label costs one md5 and no shuffle."""
    return df.withColumn(
        "fold",
        F.pmod(
            hex_hash64(F.concat(F.lit(salt), F.col(key_col).cast("string"))),
            F.lit(k),
        ),
    )
