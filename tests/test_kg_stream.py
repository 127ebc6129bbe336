"""Streaming KG construction (streaming/kg_stream.py): the batch pipeline's
extract→triples→validate lifted over a file-source stream, with
watermark dedup and foreachBatch incremental merge.

Checked against the BATCH operators on the same pages (the reference
semantics): the streamed triple log matches batch distinct (s,p,o), a
re-dropped page adds nothing, and the incrementally-merged edges snapshot
matches the batch merge over the full corpus — including replay
idempotence through the recorded batchId high-water mark and recovery from
a snapshot swap or a high-water-mark write cut short by a crash."""

import glob
import json
import os
import shutil
from types import SimpleNamespace

import pyspark.sql.functions as F
import pytest
from pyspark.errors import StreamingQueryException

from kgx_spark.operators.merge import merge_edges
from kgx_spark.operators.validate import validate_edges
from kgx_spark.pipeline.extract import extract_text
from kgx_spark.pipeline.synth import synth_pages
from kgx_spark.pipeline.triples import extract_triples
from kgx_spark.streaming import kg_stream
from kgx_spark.streaming.kg_stream import run_triples_stream, stream_kg_update

SF = "/root/testdata/sf0.001"


def _drops(spark, tmpdir):
    """Split the synth pages into two deterministic drops; return
    (landing_dir, dropA_dir, dropB_dir, batch_pages_df)."""
    pages = synth_pages(spark, SF).select("url", "warc_ts", "html")
    half = F.crc32(F.col("url")) % 2 == 0
    a_dir, b_dir = f"{tmpdir}/a", f"{tmpdir}/b"
    pages.where(half).write.parquet(a_dir)
    pages.where(~half).write.parquet(b_dir)
    landing = f"{tmpdir}/landing"
    os.makedirs(landing)
    return landing, a_dir, b_dir, pages


def _copy_drop(src_dir, landing, tag):
    for i, f in enumerate(sorted(glob.glob(f"{src_dir}/part-*.parquet"))):
        shutil.copy(f, f"{landing}/{tag}_{i}.parquet")


def _batch_spo(pages_df):
    triples = extract_triples(extract_text(pages_df))
    valid, _ = validate_edges(triples)
    return {
        (r.subject, r.predicate, r.object)
        for r in valid.select("subject", "predicate", "object").distinct().collect()
    }


def _read_spo(spark, path):
    return {
        (r.subject, r.predicate, r.object)
        for r in spark.read.parquet(path).select("subject", "predicate", "object").collect()
    }


def test_stream_triples_incremental_and_dedup(spark, tmp_path):
    tmpdir = str(tmp_path)
    landing, a_dir, b_dir, pages = _drops(spark, tmpdir)
    out, ckpt = f"{tmpdir}/triples", f"{tmpdir}/ckpt"

    _copy_drop(a_dir, landing, "dropA")
    run_triples_stream(spark, landing, out, ckpt)
    got_a = _read_spo(spark, out)
    want_a = _batch_spo(spark.read.parquet(a_dir))
    assert got_a == want_a
    # streamed rows are (s,p,o)-unique (the watermark dedup)
    n_rows = spark.read.parquet(out).count()
    assert n_rows == len(got_a)

    # drop B plus a RE-DROP of drop A (a re-crawl inside the watermark):
    # only B's new assertions may appear
    _copy_drop(b_dir, landing, "dropB")
    _copy_drop(a_dir, landing, "dropA_again")
    run_triples_stream(spark, landing, out, ckpt)
    got_all = _read_spo(spark, out)
    want_all = _batch_spo(pages)
    assert got_all == want_all
    assert spark.read.parquet(out).count() == len(want_all)


def test_stream_kg_update_matches_batch_merge(spark, tmp_path):
    tmpdir = str(tmp_path)
    landing, a_dir, b_dir, pages = _drops(spark, tmpdir)
    edges, ckpt = f"{tmpdir}/edges", f"{tmpdir}/ckpt"

    _copy_drop(a_dir, landing, "dropA")
    stream_kg_update(spark, landing, edges, ckpt)
    assert _read_spo(spark, edges) == _batch_spo(spark.read.parquet(a_dir))

    _copy_drop(b_dir, landing, "dropB")
    stream_kg_update(spark, landing, edges, ckpt)
    got = spark.read.parquet(edges)
    want_spo = _batch_spo(pages)
    assert _read_spo(spark, edges) == want_spo

    # merged snapshot carries the batch merge kernel's shape: deterministic
    # sha2 ids, provenance arrays
    batch_triples = extract_triples(extract_text(pages))
    valid, _ = validate_edges(batch_triples)
    want = merge_edges([valid])
    w = {r.id: r for r in want.collect()}
    for r in got.collect():
        assert r.id == w[r.id].id

    # replay idempotence: draining an unchanged landing dir changes nothing
    before = sorted(map(tuple, got.collect()))
    stream_kg_update(spark, landing, edges, ckpt)
    after = sorted(map(tuple, spark.read.parquet(edges).collect()))
    assert after == before


@pytest.mark.parametrize("crash_state", ["live_renamed_away", "stale_old_left_behind"])
def test_stream_kg_update_recovers_interrupted_swap(spark, tmp_path, crash_state):
    """A kill inside the snapshot swap must not lose the graph: between the
    two renames only ``edges.old`` holds it; after them a stale
    ``edges.old`` sits beside the live snapshot. The next update must merge
    into the full graph either way."""
    tmpdir = str(tmp_path)
    landing, a_dir, b_dir, pages = _drops(spark, tmpdir)
    edges, ckpt = f"{tmpdir}/edges", f"{tmpdir}/ckpt"

    _copy_drop(a_dir, landing, "dropA")
    stream_kg_update(spark, landing, edges, ckpt)
    spo_a = _read_spo(spark, edges)
    assert spo_a

    if crash_state == "live_renamed_away":
        os.rename(edges, edges + ".old")
    else:
        shutil.copytree(edges, edges + ".old")

    _copy_drop(b_dir, landing, "dropB")
    stream_kg_update(spark, landing, edges, ckpt)
    got = _read_spo(spark, edges)
    assert spo_a <= got
    assert got == _batch_spo(pages)
    assert not os.path.exists(edges + ".old")


def test_stream_kg_update_survives_kill_mid_hwm_write(spark, tmp_path, monkeypatch):
    """A kill while the high-water mark is being written must not wedge the
    stream: the next update still reads the mark, re-runs the cut batch and
    leaves the graph of both drops."""
    tmpdir = str(tmp_path)
    landing, a_dir, b_dir, pages = _drops(spark, tmpdir)
    edges, ckpt = f"{tmpdir}/edges", f"{tmpdir}/ckpt"

    _copy_drop(a_dir, landing, "dropA")
    stream_kg_update(spark, landing, edges, ckpt)

    def torn_dump(obj, fh):
        fh.write(json.dumps(obj)[:5])
        raise OSError("killed mid-write")

    _copy_drop(b_dir, landing, "dropB")
    with monkeypatch.context() as m:
        m.setattr(kg_stream, "json", SimpleNamespace(load=json.load, dump=torn_dump))
        with pytest.raises(StreamingQueryException, match="killed mid-write"):
            stream_kg_update(spark, landing, edges, ckpt)

    stream_kg_update(spark, landing, edges, ckpt)
    assert _read_spo(spark, edges) == _batch_spo(pages)


def test_stream_kg_update_into_empty_edges_dir(spark, tmp_path):
    """A pre-created, empty edges directory is no snapshot yet: the first
    drop starts the graph instead of failing to infer a parquet schema."""
    tmpdir = str(tmp_path)
    landing, a_dir, b_dir, pages = _drops(spark, tmpdir)
    edges, ckpt = f"{tmpdir}/edges", f"{tmpdir}/ckpt"
    os.makedirs(edges)

    _copy_drop(a_dir, landing, "dropA")
    stream_kg_update(spark, landing, edges, ckpt)
    assert _read_spo(spark, edges) == _batch_spo(spark.read.parquet(a_dir))


def test_drop_rewrites_snapshot_once(spark, tmp_path, monkeypatch):
    """A drop rewrites the snapshot once; Spark's no-data batch after it, a
    drain of an unchanged landing dir and a re-crawl the watermark dedup
    absorbs rewrite nothing."""
    tmpdir = str(tmp_path)
    landing, a_dir, b_dir, pages = _drops(spark, tmpdir)
    edges, ckpt = f"{tmpdir}/edges", f"{tmpdir}/ckpt"
    swaps = []
    real_swap = kg_stream._swap_snapshot

    def counted_swap(df, live_dir):
        swaps.append(live_dir)
        real_swap(df, live_dir)

    monkeypatch.setattr(kg_stream, "_swap_snapshot", counted_swap)

    _copy_drop(a_dir, landing, "dropA")
    stream_kg_update(spark, landing, edges, ckpt)
    assert len(swaps) == 1
    before = sorted(map(tuple, spark.read.parquet(edges).collect()))

    stream_kg_update(spark, landing, edges, ckpt)
    assert len(swaps) == 1

    _copy_drop(a_dir, landing, "dropA_again")
    stream_kg_update(spark, landing, edges, ckpt)
    assert len(swaps) == 1
    assert sorted(map(tuple, spark.read.parquet(edges).collect())) == before
