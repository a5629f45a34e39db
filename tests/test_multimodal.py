"""Multimodal plumbing: schema, batch shapes, deterministic stub codec."""

import pytest
from pyspark.sql import functions as F

from mantic_sh_spark.operators import multimodal

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def media(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet").filter(F.col("doc_id") < 50)
    return multimodal.as_media(docs).cache()


def test_media_schema(media):
    assert media.schema.simpleString() == (
        "struct<doc_id:bigint,kind:string,payload:binary,mime:string,n_bytes:bigint>"
    )
    r = media.filter(F.col("doc_id") == 7).first()
    assert bytes(r.payload).startswith(b"FAKE")
    assert r.n_bytes == len(bytes(r.payload))


def test_decode_metadata(media):
    meta = {r.doc_id: r for r in multimodal.decode_metadata(media).collect()}
    assert len(meta) == 50
    r = meta[7]
    assert r.width == 7 % 640 + 1 and r.height == (7 * 7) % 480 + 1
    assert len(r.sha256) == 64


def test_decode_rejects_real_formats(spark):
    import pandas as pd

    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1], "payload": [b"\x89PNG real image bytes"]})
    )
    with pytest.raises(Exception, match="(?i)not(Implemented| installed)|FAKE|codec"):
        multimodal.decode_metadata(df).collect()


def test_features_shape(media):
    rows = multimodal.extract_features(media, dim=16).collect()
    assert len(rows) == 50
    for r in rows[:5]:
        assert len(r.features) == 16
        assert abs(sum(r.features) - 1.0) < 1e-3


def test_frame_sampling(media):
    frames = multimodal.sample_frames(media, every=64, max_frames=4).collect()
    by_doc = {}
    for r in frames:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert all(len(v) <= 4 for v in by_doc.values())
    assert all(len(bytes(r.frame)) <= 64 for r in frames)
