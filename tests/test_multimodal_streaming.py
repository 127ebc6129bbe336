"""Structured-streaming ingest of KGX JSON Lines drops."""

import json

from kgx_spark.streaming.ingest import stream_kgx_jsonl


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

