"""Corpus-preparation flow: the end-to-end cleaning pipeline a training-data run
applies to a raw documents table, composed from the engine's text/dedup operators
the same way ``species_load`` composes the ortholog operators.

Stages (each emits an audit stream, mirroring the §3.1 flows' dropped-row audit):
  1. language gate   — ``lang_id`` argmax heuristic, keep configured languages;
  2. quality floor   — ``quality_score`` composite, keep ≥ threshold (compared on
                       the 6dp-rounded score so the cut is engine-stable);
  3. exact dedup     — normalized-md5 fingerprint, keep the MIN doc id per group;
  4. near-dup dedup  — MinHash+LSH pairs ≥ Jaccard threshold; greedy keep-lowest:
                       any doc appearing as the larger id of a pair is dropped.
                       (Pairs always order id_1 < id_2, so the least id of every
                       duplicate chain provably survives; mid-chain members drop
                       even when only transitively similar — the standard greedy
                       LSH-dedup semantics, cheaper at scale than connected
                       components and deterministic.)

Scale shape: stages 1-3 are pure map+groupBy over the documents scan (one
shuffle, on the fingerprint); stage 4 reuses ``minhash_lsh_dedup``'s banded-LSH
plan. Nothing here is quadratic and nothing collects to the driver.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ortholog_pipeline_spark.functions import text as TXT
from ortholog_pipeline_spark.operators import dedup as DD
from ortholog_pipeline_spark.operators import iterate as IT


@dataclass
class CorpusPrepResult:
    kept: DataFrame  # surviving documents (doc_id, text, predicted_lang, quality)
    dropped_lang: DataFrame
    dropped_quality: DataFrame
    dropped_exact: DataFrame
    dropped_near: DataFrame
    summary: DataFrame  # (stage, n_docs) survivor counts per stage


def run_corpus_prep(
    docs: DataFrame,
    keep_langs: tuple[str, ...] = ("en",),
    min_quality: float = 0.35,
    jaccard_threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> CorpusPrepResult:
    annotated = IT.round_checkpoint(docs.select(
        id_col,
        text_col,
        TXT.lang_id(text_col).alias("predicted_lang"),
        F.round(TXT.quality_score(text_col), 6).alias("quality"),
        TXT.fingerprint(text_col).alias("fp"),
    ))

    lang_ok = F.col("predicted_lang").isin(*keep_langs)
    dropped_lang = annotated.filter(~lang_ok)
    s1 = annotated.filter(lang_ok)

    qual_ok = F.col("quality") >= min_quality
    dropped_quality = s1.filter(~qual_ok)
    s2 = s1.filter(qual_ok)

    # exact dedup: keep the min id per fingerprint group (one shuffle on fp)
    w_fp = Window.partitionBy("fp")
    s2_ranked = s2.withColumn("_keep_id", F.min(id_col).over(w_fp))
    dropped_exact = s2_ranked.filter(F.col(id_col) != F.col("_keep_id")).drop(
        "_keep_id"
    )
    s3 = s2_ranked.filter(F.col(id_col) == F.col("_keep_id")).drop("_keep_id")

    pairs = DD.minhash_lsh_dedup(
        s3.select(id_col, text_col), threshold=jaccard_threshold
    )
    losers = pairs.select(F.col("id_2").alias(id_col)).dropDuplicates()
    dropped_near = s3.join(losers, id_col, "left_semi")
    kept = s3.join(losers, id_col, "left_anti").drop("fp")

    def _n(df: DataFrame, stage: str) -> DataFrame:
        return df.agg(
            F.lit(stage).alias("stage"), F.count("*").cast("long").alias("n_docs")
        )

    summary = (
        _n(docs, "0_input")
        .unionByName(_n(s1, "1_lang"))
        .unionByName(_n(s2, "2_quality"))
        .unionByName(_n(s3, "3_exact_dedup"))
        .unionByName(_n(kept, "4_near_dedup"))
    )
    return CorpusPrepResult(
        kept=kept,
        dropped_lang=dropped_lang,
        dropped_quality=dropped_quality,
        dropped_exact=dropped_exact,
        dropped_near=dropped_near,
        summary=summary,
    )
