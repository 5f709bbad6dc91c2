"""salted_join equivalence with the plain join; the HomoloGene scan."""

from __future__ import annotations

from pyspark.sql import functions as F

from ortholog_pipeline_spark.operators.skew import salted_join


def test_salted_join_matches_plain_join(spark):
    # one massive hot key (0) + uniform tail
    big = spark.range(0, 5000).select(
        (F.when(F.col("id") < 4000, 0).otherwise(F.col("id") % 50)).alias("k"),
        F.col("id").alias("payload"),
    )
    other = spark.range(0, 50).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )

    hot = big.groupBy("k").count().filter("count > 1000").select("k")
    assert [r.k for r in hot.collect()] == [0]

    plain = big.join(other, "k").select("k", "payload", "v")
    salted = salted_join(big, other, ["k"], num_salts=8, hot_keys=hot)
    assert sorted(map(tuple, plain.collect())) == sorted(
        map(tuple, salted.collect())
    )

    # uniform mode (hot_keys=None) must agree too
    salted_all = salted_join(big, other, ["k"], num_salts=4)
    assert sorted(map(tuple, plain.collect())) == sorted(
        map(tuple, salted_all.collect())
    )


def test_salted_join_left_outer(spark):
    big = spark.range(0, 100).select((F.col("id") % 10).alias("k"), F.col("id").alias("p"))
    other = spark.range(0, 3).select(F.col("id").alias("k"), F.lit("x").alias("v"))
    plain = big.join(other, "k", "left").select("k", "p", "v")
    salted = salted_join(big, other, ["k"], num_salts=4, how="left")
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_homologene_scan_reads_every_member_row(spark, tmp_path):
    import gzip as _gz

    from ortholog_pipeline_spark.sources.files import read_homologene

    p = tmp_path / "homologene.data.gz"
    lines = [
        "1\t9606\tg_h1",
        "1\t10116\tg_r1",
        "1\t10090\tg_m1",
        "2\t9606\tg_h2",
        "1\t9999\tg_x",  # unmapped species — kept by the scan, dropped by the flow
    ]
    with _gz.open(p, "wt") as f:
        f.write("\n".join(lines) + "\n")

    hg = read_homologene(spark, str(p))
    assert hg.columns == ["homologene_id", "tax_id", "gene_id"]
    assert sorted(map(tuple, hg.collect())) == sorted(
        (int(g), t, x) for g, t, x in (ln.split("\t") for ln in lines)
    )
