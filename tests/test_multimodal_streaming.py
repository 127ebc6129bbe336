"""Multimodal plumbing + structured-streaming ingest."""

import json

import pyspark.sql.functions as F

from kgx_spark.operators.multimodal import (
    FEATURE_DIM,
    MEDIA_SCHEMA,
    _decode_stub,
    decode_features,
    frame_sample,
    media_stats,
)
from kgx_spark.streaming.ingest import stream_kgx_jsonl


def _media(spark):
    rows = [
        ("m1", "image", b"\x89PNGfakebytes1", "image/png", (640, 480, None, None)),
        ("m2", "image", b"\x89PNGfakebytes2", "image/png", (800, 600, None, None)),
        ("m3", "video", b"RIFFfakevideo", "video/mp4", (None, None, 3500, None)),
        ("m4", "audio", b"RIFFfakeaudio", "audio/wav", (None, None, 2000, 16000)),
    ]
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def test_decode_features_deterministic(spark):
    media = _media(spark)
    feats = decode_features(media)
    rows = {r["media_id"]: r["feature"] for r in feats.collect()}
    assert all(len(v) == FEATURE_DIM for v in rows.values())
    # matches the pure function, and repartitioning doesn't change results
    expected = [round(x, 4) for x in _decode_stub(b"\x89PNGfakebytes1")]  # float32 column
    assert [round(x, 4) for x in rows["m1"]] == expected
    rows2 = {r["media_id"]: r["feature"] for r in decode_features(media.repartition(3)).collect()}
    assert rows == rows2


def test_frame_sample(spark):
    plan = frame_sample(_media(spark), every_ms=1000)
    rows = plan.collect()
    assert {r["media_id"] for r in rows} == {"m3"}
    assert sorted(r["frame_ts_ms"] for r in rows) == [0, 1000, 2000, 3000]


def test_resize_images(spark):
    from kgx_spark.operators.multimodal import resize_images

    out = resize_images(_media(spark), 32, 32)
    rows = {r["media_id"]: r for r in out.collect()}
    assert rows["m1"]["meta"]["width"] == 32 and rows["m1"]["meta"]["height"] == 32
    assert rows["m1"]["content"] != b"\x89PNGfakebytes1"  # content transformed
    assert rows["m3"]["meta"]["duration_ms"] == 3500  # non-images untouched
    assert rows["m3"]["content"] == b"RIFFfakevideo"
    # deterministic: same input → same resized bytes
    out2 = {r["media_id"]: r["content"] for r in resize_images(_media(spark), 32, 32).collect()}
    assert out2["m1"] == rows["m1"]["content"]


def test_media_stats(spark):
    stats = {r["kind"]: r["n"] for r in media_stats(_media(spark)).collect()}
    assert stats == {"image": 2, "video": 1, "audio": 1}


def test_stream_kgx_jsonl(spark, tmp_path):
    landing = tmp_path / "landing"
    landing.mkdir()
    recs = [
        {"subject": "A:1", "predicate": "biolink:related_to", "object": "B:1"},
        {"subject": "A:2", "predicate": "biolink:related_to", "object": "B:2"},
    ]
    (landing / "drop1.jsonl").write_text("\n".join(json.dumps(r) for r in recs))
    out = tmp_path / "out"
    ckpt = tmp_path / "ckpt"
    stream = stream_kgx_jsonl(spark, str(landing), kind="edges")
    assert stream.isStreaming
    q = (
        stream.writeStream.format("parquet")
        .option("path", str(out))
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(str(out))
    assert got.count() == 2
    assert set(got.columns) >= {"subject", "predicate", "object"}

