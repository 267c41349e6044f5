"""Multimodal column plumbing: the typed media struct and the
Arrow-batched feature kernel."""

from __future__ import annotations

import hashlib

import pytest

from hrtech_etl_spark.operators import multimodal as mm

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(50)


def test_media_schema_and_checksum(spark, docs):
    m = mm.attach_fake_media(docs)
    media_type = m.schema["media"].dataType
    # same structure; nullability flags differ between declared schema
    # and expression-derived struct (md5/octet_length are non-null)
    def shape(dt):
        return [(f.name, f.dataType.simpleString()) for f in dt.fields]
    assert shape(media_type) == shape(mm.MEDIA_SCHEMA)
    row = m.select("media", "text").first()
    assert bytes(row["media"]["content"]) == row["text"].encode()
    assert row["media"]["meta"]["n_bytes"] == len(row["text"].encode())
    assert (
        row["media"]["meta"]["checksum"]
        == hashlib.md5(row["text"].encode()).hexdigest()
    )


def test_media_features_batch_shape_and_values(spark, docs):
    m = mm.attach_fake_media(docs)
    feats = mm.media_features(m, dim=8)
    assert [f.name for f in feats.schema.fields] == [
        "doc_id", "mime", "n_bytes", "features",
    ]
    got = {r["doc_id"]: r for r in feats.collect()}
    for r in docs.select("doc_id", "text").limit(5).collect():
        want = mm.fake_image_features(r["text"].encode(), dim=8)
        assert got[r["doc_id"]]["features"] == want
        assert got[r["doc_id"]]["n_bytes"] == len(r["text"].encode())
        assert got[r["doc_id"]]["mime"] == "image/fake"
