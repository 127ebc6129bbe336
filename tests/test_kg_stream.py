"""Streaming KG construction (streaming/kg_stream.py): the batch pipeline's
extract→triples→validate lifted over a file-source stream, with
watermark dedup and foreachBatch incremental merge.

Checked against the BATCH operators on the same pages (the reference
semantics): a re-dropped page adds nothing, a key re-asserted past the
watermark merges, and the incrementally-merged edges snapshot matches the
batch merge over the full corpus — including the idempotence of a batch
Spark replays after a crash, and recovery from a snapshot swap cut short
by a crash."""

import glob
import os
import shutil
import time
from datetime import datetime, timedelta

import pyspark.sql.functions as F
import pytest

from kgx_spark.operators.merge import merge_edges
from kgx_spark.operators.validate import validate_edges
from kgx_spark.pipeline.extract import extract_text
from kgx_spark.pipeline.synth import synth_pages
from kgx_spark.pipeline.triples import extract_triples
from kgx_spark.streaming import kg_stream
from kgx_spark.streaming.kg_stream import (
    PAGES_STREAM_SCHEMA,
    stream_kg_update,
    stream_pages_to_triples,
)

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


def test_stream_kg_update_replays_a_batch_merged_before_a_kill(spark, tmp_path):
    """A kill after a batch's merge is swapped in but before Spark commits
    the batch: the restart replays it. The replay must leave the snapshot
    as it was, and must still commit its dedup state, or every restart
    fails."""
    tmpdir = str(tmp_path)
    landing, a_dir, b_dir, pages = _drops(spark, tmpdir)
    edges, ckpt = f"{tmpdir}/edges", f"{tmpdir}/ckpt"

    _copy_drop(a_dir, landing, "dropA")
    stream_kg_update(spark, landing, edges, ckpt)
    # the newest commit is Spark's no-data batch after the drop; the batch
    # before it merged the drop
    merged = max(int(n) for n in os.listdir(f"{ckpt}/commits") if n.isdigit()) - 1
    # roll Spark's logs back to the kill: no commit of the merged batch,
    # and no trace of the no-data batch after it
    for log, n in (("commits", merged), ("commits", merged + 1), ("offsets", merged + 1)):
        os.remove(f"{ckpt}/{log}/{n}")
        os.remove(f"{ckpt}/{log}/.{n}.crc")
    before = sorted(map(tuple, spark.read.parquet(edges).collect()))

    stream_kg_update(spark, landing, edges, ckpt)
    assert sorted(map(tuple, spark.read.parquet(edges).collect())) == before

    _copy_drop(b_dir, landing, "dropB")
    stream_kg_update(spark, landing, edges, ckpt)
    assert _read_spo(spark, edges) == _batch_spo(pages)


def test_warm_drop_reads_its_snapshot_without_a_job(spark, tmp_path):
    """A committed snapshot is read with the schema its commit record
    holds, so reading it launches no Spark job; without the record, a bare
    read infers the schema with one."""
    tmpdir = str(tmp_path)
    landing, a_dir, b_dir, pages = _drops(spark, tmpdir)
    edges, ckpt = f"{tmpdir}/edges", f"{tmpdir}/ckpt"
    _copy_drop(a_dir, landing, "dropA")
    stream_kg_update(spark, landing, edges, ckpt)
    # the checkpoint holds Spark's logs and state only (and their .crc files)
    assert {n for n in os.listdir(ckpt) if not n.startswith(".")} == {
        "commits", "metadata", "offsets", "sources", "state"
    }
    scheduler = spark.sparkContext._jsc.sc().dagScheduler()
    schema = spark.read.parquet(edges).schema

    first = scheduler.nextJobId()
    snapshot = kg_stream._read_snapshot(spark, edges, schema)
    assert scheduler.nextJobId() - first == 0
    assert snapshot.schema == schema

    os.remove(f"{edges}/_commit.json")
    first = scheduler.nextJobId()
    assert kg_stream._read_snapshot(spark, edges, schema).schema == schema
    assert scheduler.nextJobId() - first == 1


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


def _land_page(spark, landing, tmpdir, url, ts, text):
    """Land a one-page drop whose html holds ``text``."""
    page = spark.createDataFrame([(url, ts, f"<p>{text} filler words</p>".encode())], PAGES_STREAM_SCHEMA)
    src = f"{tmpdir}/{url.replace(':', '_')}"
    page.coalesce(1).write.parquet(src)
    _copy_drop(src, landing, url.replace(":", "_"))


def _provenance(spark, edges):
    return {
        (r.subject, r.object): list(r.provided_by)
        for r in spark.read.parquet(edges).select("subject", "object", "provided_by").collect()
    }


def test_key_past_watermark_still_merges(spark, tmp_path):
    """A key re-asserted after its dedup state expired merges its new
    provenance; one re-asserted inside the watermark is absorbed. Spark's
    no-data batch after each drop is what evicts the expired state before
    the next drop's data batch."""
    tmpdir = str(tmp_path)
    landing, edges, ckpt = f"{tmpdir}/landing", f"{tmpdir}/edges", f"{tmpdir}/ckpt"
    os.makedirs(landing)
    t0 = datetime(2024, 1, 1)
    drops = [
        ("u:a", t0, "P:1 interacts with S:1."),
        ("u:b", t0 + timedelta(hours=2), "P:2 interacts with S:2."),
        ("u:c", t0 + timedelta(hours=2, minutes=5), "P:1 interacts with S:1. P:2 interacts with S:2."),
    ]
    for url, ts, text in drops:
        _land_page(spark, landing, tmpdir, url, ts, text)
        stream_kg_update(spark, landing, edges, ckpt)

    assert _provenance(spark, edges) == {("P:1", "S:1"): ["u:a", "u:c"], ("P:2", "S:2"): ["u:b"]}


def test_dedup_state_writes_snapshots(spark, tmp_path):
    """State-store maintenance runs between drops: once a stream's dedup
    state holds 10 deltas (``minDeltasForSnapshot``) it gets a
    ``.snapshot``, so a drop's state load does not replay every delta since
    the stream began. Spark's default 60 s maintenance never runs inside a
    call's one-second query. The first stateful query of a process fixes
    the maintenance interval for all, so this test runs before
    test_checkpoint_with_callers_state_partitions_resumes, whose query on
    the caller's session would fix it at 60 s."""
    tmpdir = str(tmp_path)
    landing, edges, ckpt = f"{tmpdir}/landing", f"{tmpdir}/edges", f"{tmpdir}/ckpt"
    os.makedirs(landing)
    t0 = datetime(2024, 1, 1)
    for i in range(6):  # a data and a no-data batch each: 12 deltas
        _land_page(spark, landing, tmpdir, f"u:{i}", t0 + timedelta(minutes=i), f"P:{i} interacts with S:{i}.")
        stream_kg_update(spark, landing, edges, ckpt)
    state = f"{ckpt}/state/0/0"
    assert len(glob.glob(f"{state}/*.delta")) >= 10
    deadline = time.monotonic() + 5
    while not glob.glob(f"{state}/*.snapshot") and time.monotonic() < deadline:
        time.sleep(0.1)
    assert glob.glob(f"{state}/*.snapshot")


def _state_partitions(ckpt):
    """Partition directories of the dedup operator's state store."""
    return sorted(d for d in os.listdir(f"{ckpt}/state/0") if d.isdigit())


def test_checkpoint_with_callers_state_partitions_resumes(spark, tmp_path):
    """A checkpoint whose dedup state has the caller's shuffle partition
    count (the layout of a stream started on the caller's session) resumes:
    its state still absorbs a re-crawl, new keys merge, and the recorded
    partition count is kept."""
    tmpdir = str(tmp_path)
    landing, a_dir, b_dir, pages = _drops(spark, tmpdir)
    edges, ckpt = f"{tmpdir}/edges", f"{tmpdir}/ckpt"
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))

    _copy_drop(a_dir, landing, "dropA")
    q = (
        stream_pages_to_triples(spark, landing)
        .writeStream.foreachBatch(lambda batch, batch_id: batch.write.format("noop").mode("overwrite").save())
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert len(_state_partitions(ckpt)) == n_parts

    _copy_drop(a_dir, landing, "dropA_again")
    stream_kg_update(spark, landing, edges, ckpt)
    assert not kg_stream._has_snapshot(edges)

    _copy_drop(b_dir, landing, "dropB")
    stream_kg_update(spark, landing, edges, ckpt)
    spo_a, spo_b = _batch_spo(spark.read.parquet(a_dir)), _batch_spo(spark.read.parquet(b_dir))
    assert spo_b - spo_a
    assert _read_spo(spark, edges) == spo_b - spo_a
    assert len(_state_partitions(ckpt)) == n_parts


def _n_files(root):
    return sum(len(files) for _, _, files in os.walk(root))


# files a warm drop adds under a one-partition checkpoint. Per micro-batch
# (the drop's data batch and Spark's no-data batch): an offset and a commit
# log entry, each with its .crc, and one state delta with its .crc, Spark's
# checksum file and that file's .crc. Plus the data batch's source log entry
# and its .crc: 2 * (2 + 2 + 4) + 2. With the caller's N state partitions
# the delta term is 4 * N.
WARM_DROP_CHECKPOINT_FILES = 18


def test_stream_settings_stay_on_the_stream(spark, tmp_path):
    """The stream runs on a session of its own: one dedup state partition
    and a checkpoint file manager that renames in place. The caller's
    session keeps its settings, and its stream session is made once."""
    keys = (
        "spark.sql.shuffle.partitions",
        "spark.sql.streaming.checkpointFileManagerClass",
        "spark.sql.streaming.stateStore.maintenanceInterval",
    )
    before = {k: spark.conf.get(k, None) for k in keys}
    tmpdir = str(tmp_path)
    landing, a_dir, b_dir, pages = _drops(spark, tmpdir)
    edges, ckpt = f"{tmpdir}/edges", f"{tmpdir}/ckpt"

    _copy_drop(a_dir, landing, "dropA")
    stream_kg_update(spark, landing, edges, ckpt)
    assert {k: spark.conf.get(k, None) for k in keys} == before
    assert _state_partitions(ckpt) == ["0"]

    n_files = _n_files(ckpt)
    _copy_drop(b_dir, landing, "dropB")
    stream_kg_update(spark, landing, edges, ckpt)
    assert _n_files(ckpt) - n_files == WARM_DROP_CHECKPOINT_FILES
    assert kg_stream._stream_session(spark) is kg_stream._stream_session(spark)
    assert _read_spo(spark, edges) == _batch_spo(pages)

