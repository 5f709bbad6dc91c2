"""Skew-handling join utilities for 100 TB inputs.

AQE's skew-join splitting (on in `session.py`) handles most cases at runtime; this
module covers the case AQE cannot: a SHUFFLE join where one side has a few massive
hot keys and the other side is too big to broadcast. The classic fix is salting —
explode the small-ish side R times, scatter the big side's hot rows across R
sub-keys — expressed here as plain DataFrame ops so Catalyst still optimizes around
it.

Usage shape (driver decides the hot keys from stats, not per-row logic):

    hot = big.groupBy("k").count().filter("count > 1000000").select("k")
    out = salted_join(big, dim, ["k"], num_salts=16, hot_keys=hot)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SALT_COL = "_salt"


def salted_join(
    big: DataFrame,
    other: DataFrame,
    key_cols: list[str],
    num_salts: int = 16,
    hot_keys: DataFrame | None = None,
    how: str = "inner",
) -> DataFrame:
    """Equi-join with hot keys scattered across ``num_salts`` sub-partitions.

    ``big`` rows on a hot key get a deterministic salt (xxhash64 of the whole row
    modulo R); ``other`` rows on a hot key are replicated R times (explode), so every
    salted sub-key finds its match. Non-hot keys join with salt 0 — no replication
    cost. With ``hot_keys=None`` every key is salted (uniform R× replication of
    ``other`` — simpler, use when the whole key space is skew-prone)."""
    big_cols, other_cols = list(big.columns), list(other.columns)

    if hot_keys is not None:
        hot_b = F.broadcast(
            hot_keys.select(*key_cols).withColumn("_hot_b", F.lit(1))
        )
        hot_o = F.broadcast(
            hot_keys.select(*key_cols).withColumn("_hot_o", F.lit(1))
        )
        big = big.join(hot_b, key_cols, "left")
        other = other.join(hot_o, key_cols, "left")
        is_hot_big = F.col("_hot_b").isNotNull()
        is_hot_other = F.col("_hot_o").isNotNull()
    else:
        is_hot_big = F.lit(True)
        is_hot_other = F.lit(True)

    salted_big = big.withColumn(
        SALT_COL,
        F.when(
            is_hot_big,
            F.pmod(F.xxhash64(*[F.col(c) for c in big_cols]), F.lit(num_salts)),
        )
        .otherwise(F.lit(0))
        .cast("int"),
    ).drop("_hot_b")
    salts = F.array(*[F.lit(i) for i in range(num_salts)])
    salted_other = other.withColumn(
        SALT_COL,
        F.explode(F.when(is_hot_other, salts).otherwise(F.array(F.lit(0)))),
    ).drop("_hot_o")
    out = salted_big.join(salted_other, [*key_cols, SALT_COL], how)
    return out.select(
        *key_cols,
        *[c for c in big_cols if c not in key_cols],
        *[c for c in other_cols if c not in key_cols],
    )
