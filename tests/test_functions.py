"""Unit tests for the scalar function library (SURVEY.md §2.8 C1-C14)."""

from __future__ import annotations

from pyspark.sql import functions as F

from ortholog_pipeline_spark.functions import strings as S


def _one(spark, col):
    return spark.range(1).select(col.alias("v")).collect()[0].v


def test_sanitize_evidence_set(spark):
    df = spark.createDataFrame(
        [("OrthoDB,OrthoMCL,Ensembl,Ensembl",), ("B, A,A",), ("",)], ["s"]
    )
    out = [r.v for r in df.select(S.sanitize_evidence_set("s").alias("v")).collect()]
    assert out == ["Ensembl, OrthoDB, OrthoMCL", "A, B", ""]


def test_sanitize_if_shorter_keeps_equal_length(spark):
    # already canonical → unchanged; messy → replaced only when strictly shorter
    df = spark.createDataFrame([("A, B",), ("B,A,A",)], ["s"])
    out = [r.v for r in df.select(S.sanitize_if_shorter("s").alias("v")).collect()]
    assert out[0] == "A, B"
    assert out[1] == "A, B"  # 'B,A,A' (5) → 'A, B' (4): strictly shorter → replaced


def test_evidence_count(spark):
    df = spark.createDataFrame(
        [("a, b, c",), ("solo",), (None,), ("",)], ["s"]
    )
    out = [r.v for r in df.select(S.evidence_count("s").alias("v")).collect()]
    assert out == [3, 1, 0, 0]


def test_pipe_set_sort(spark):
    assert (
        _one(
            spark,
            S.pipe_set_sort(F.lit("ZFIN|Ensembl Compara|InParanoid|Ensembl Compara")),
        )
        == "Ensembl Compara|InParanoid|ZFIN"
    )


def test_rgd_curie_suffix(spark):
    df = spark.createDataFrame([("RGD:1584999",), ("MGI:97490",)], ["c"])
    out = [r.v for r in df.select(S.rgd_curie_suffix("c").alias("v")).collect()]
    assert out == [1584999, None]


def test_yes_no(spark):
    df = spark.createDataFrame([("Yes",), ("No",), (None,)], ["c"])
    out = [r.v for r in df.select(S.yes_no_to_yn("c").alias("v")).collect()]
    assert out == ["Y", "N", "N"]


def test_source_priority(spark):
    df = spark.createDataFrame(
        [("RGD",), ("Alliance",), ("HGNC",), ("NCBI",), ("other",)], ["c"]
    )
    out = [r.v for r in df.select(S.source_priority("c").alias("v")).collect()]
    assert out == [4, 3, 2, 1, 0]


def test_transliterate_greek_preserves_reference_eta_bug(spark):
    # codepoint 951 (η) maps to "lambda" in the reference (AgrTsvLoader.java:461-462)
    df = spark.createDataFrame([("TNF-α",), ("GABR-η1",), ("Δex4",)], ["c"])
    out = [r.v for r in df.select(S.transliterate_greek("c").alias("v")).collect()]
    assert out == ["TNF-alpha", "GABR-lambda1", "DELTAex4"]


def test_strip_quotes(spark):
    assert _one(spark, S.strip_quotes(F.lit(' "Abc def" '))) == "Abc def"


# ---------------------------------------------------------------------------
# PII scrubbing
# ---------------------------------------------------------------------------


def test_pii_scrub_redacts_and_counts(spark):
    from ortholog_pipeline_spark.functions.pii import pii_count, scrub_pii

    rows = [
        (1, "mail bob.smith+x@sub.example.co.uk now"),
        (2, "server at 192.168.001.1 responded"),
        (3, "call +4915123456789 today"),
        (4, "clean text, no pii 1.2 not-an-ip"),
        (5, "a@b.io and 10.0.0.7 and +12345678"),
    ]
    df = spark.createDataFrame(rows, ["i", "t"])
    got = {
        r.i: (r.s, r.n)
        for r in df.select(
            "i", scrub_pii("t").alias("s"), pii_count("t").alias("n")
        ).collect()
    }
    assert got[1] == ("mail <EMAIL> now", 1)
    assert got[2] == ("server at <IP> responded", 1)
    assert got[3] == ("call <PHONE> today", 1)
    assert got[4] == ("clean text, no pii 1.2 not-an-ip", 0)
    assert got[5] == ("<EMAIL> and <IP> and <PHONE>", 3)
