"""Multimodal plumbing: schema, mapInPandas batch shape, determinism, partition
sizing. The codec is stubbed (no PIL in the container) — these tests pin the
distributed behavior, not pixel values.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ortholog_pipeline_spark import multimodal as MM
from table_schemas import MEDIA_SCHEMA


def _media(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    return MM.synthesize_media_from_documents(docs.limit(60))


def test_media_schema_and_types(spark):
    m = _media(spark)
    # nullability flags differ between literal-built and declared schemas;
    # the structural shape is what the contract pins
    assert m.schema.simpleString() == MEDIA_SCHEMA.simpleString()
    types = {r.media_type for r in m.select("media_type").distinct().collect()}
    assert types == {"image", "audio", "video"}


def test_decode_image_features_deterministic(spark):
    m = _media(spark)
    a = MM.decode_image_features(m).orderBy("media_id").collect()
    b = MM.decode_image_features(m).orderBy("media_id").collect()
    assert a == b
    assert len(a) == m.filter(F.col("media_type") == "image").count()
    r = a[0]
    assert r.channels == 3 and 0 <= r.mean_intensity <= 255
    assert r.is_fake_decode  # container has no codec → the stub path marked itself


def test_sample_frames_every_nth(spark):
    m = _media(spark)
    frames = MM.sample_frames(m, every_nth=10)
    got = frames.groupBy("media_id").count().collect()
    vids = {
        r.media_id: r.n_frames
        for r in m.filter(F.col("media_type") == "video")
        .select("media_id", F.col("meta.n_frames").alias("n_frames"))
        .collect()
    }
    assert len(got) == len(vids)
    for r in got:
        expected = (vids[r.media_id] + 9) // 10
        assert r["count"] == expected
