"""Continuous KG construction from a stream of crawled pages.

The north-rule batch pipeline (pages → extract_text → extract_triples →
validate → merge) re-expressed as Structured Streaming over a landing
directory of page drops. The transformation functions are the batch
operators themselves — extract/triples/validate are narrow (built-in regex
expressions + filters, no Python worker), so they lift into a stream
unchanged; only dedup and merge need streaming-specific forms:

- ``stream_pages_to_triples``: append-mode triple stream with
  ``dropDuplicatesWithinWatermark`` on (subject, predicate, object) so a
  page re-crawled inside the watermark cannot duplicate its assertions.
  State is bounded by the watermark; everything else is stateless.
- ``stream_kg_update``: ``foreachBatch`` incremental merge of each
  micro-batch into a persistent edges snapshot using the batch merge
  kernel (`merge_edges`, the reference's (s,p,o) identity,
  graph_merge.py:151-213). Only the snapshot rows whose key the batch
  touches are re-aggregated with it; the rest are copied through (the
  merge is idempotent on its own one-row-per-key output), and an empty
  micro-batch — Spark's no-data batch, or a re-crawl the watermark dedup
  absorbed — leaves the snapshot alone. The same idempotence makes a
  micro-batch that Spark replays after a crash re-merge to the snapshot it
  already merged: provenance is a sorted distinct union and the snapshot's
  ids are kept. Each merged snapshot is swapped in by the batch pipeline's
  stage commit (pipeline/stages.py ``commit``, with its commit record);
  ``recover`` finishes a swap a crash cut short, and the next update reads
  the snapshot with the schema its record holds. On a cluster the
  read-merge-rewrite becomes an Iceberg/Delta MERGE INTO against the edges
  table.

Scale notes: the stream is narrow until the per-batch merge, so executors
process page files wherever they land — no shuffle before dedup. The
watermark dedup keys on three strings (bounded state, evicted by event
time); provided_by keeps the FIRST sighting inside a watermark window
(the batch merge unions across all sightings — a documented divergence,
re-converged at the merge stage which unions provenance per (s,p,o)).

The stream query runs on a session of its own (``_stream_session``) with
three fixed settings; the merge stays on the caller's session, so its
shuffle, AQE and broadcast joins are the caller's:

- ``spark.sql.shuffle.partitions = 1``. Spark reads it only when it
  creates a checkpoint, and records it there as the dedup state's
  partition count. A drop holds a few thousand keys, so more state
  partitions buy no parallelism worth their cost: each adds a state-store
  load, delta file, checksums and renames per micro-batch. A checkpoint
  that already exists keeps its recorded count.
- ``FileSystemBasedCheckpointFileManager``. Its rename is an atomic local
  ``rename(2)``. With the default ``FileContext`` manager, Hadoop's local
  file system forks a ``readlink`` process per rename when its native
  library is missing, and a checkpoint renames every file it writes. Every
  checksum file stays.
- ``spark.sql.streaming.stateStore.maintenanceInterval = 1s``. A call's
  query lives about a second, so Spark's default 60 s maintenance never
  runs: no state ``.snapshot`` is ever written, each drop's state load
  replays every delta since the stream began, and the previous calls'
  state providers are never unloaded. Maintenance writes a snapshot once
  ``minDeltasForSnapshot`` deltas pile up and unloads a provider whose
  query has stopped.

No-data micro-batches stay on: the one after a drop evicts the dedup state
its watermark expired. Without it eviction waits until the end of the next
data batch, so a key re-asserted after its state expired would be dropped
as a duplicate instead of merging its new provenance.
"""

from __future__ import annotations

import glob
import os
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kgx_spark.functions.keys import generate_edge_identifiers
from kgx_spark.operators.merge import merge_edges
from kgx_spark.operators.validate import validate_edges
from kgx_spark.pipeline.extract import extract_text
from kgx_spark.pipeline.stages import commit, read_record, recover
from kgx_spark.pipeline.triples import extract_triples

# the pages table contract (pipeline/synth.py synth_pages; in production an
# Iceberg table fed by the crawler): url + capture timestamp + raw html
PAGES_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("html", T.BinaryType()),
    ]
)


# event-time horizon of the dedup: a key sighted again within it is dropped
_WATERMARK = "1 hour"


def stream_pages_to_triples(spark: SparkSession, landing_dir: str) -> DataFrame:
    """→ streaming DataFrame of validated, watermark-deduped triples.

    Columns: subject, predicate, object, provided_by, warc_ts (event time).
    Callers attach a sink; ``stream_kg_update`` wires the snapshot merge.
    """
    pages = spark.readStream.schema(PAGES_STREAM_SCHEMA).parquet(landing_dir)
    text = extract_text(pages).select("url", "warc_ts", "extracted_text")
    triples = extract_triples(text, carry_cols=("warc_ts",))
    valid, _errors = validate_edges(triples)  # error stream: attach via foreachBatch
    return valid.withWatermark("warc_ts", _WATERMARK).dropDuplicatesWithinWatermark(
        ["subject", "predicate", "object"]
    )


_KEY = ["subject", "predicate", "object"]


def _merge_into(existing: DataFrame, new: DataFrame) -> DataFrame:
    """``merge_edges([existing, new])`` for a one-row-per-key snapshot,
    re-aggregating only the keys ``new`` touches.

    A key the batch lacks groups to its snapshot row alone, and the merge
    is idempotent on its own output (sorted distinct lists, id set), so
    those rows are copied through with only a missing id filled. The
    batch's keys broadcast into a semi and an anti join; duplicates among
    them change neither."""
    keys = F.broadcast(new.select(*_KEY))
    touched = existing.join(keys, _KEY, "left_semi")
    kept = generate_edge_identifiers(existing.join(keys, _KEY, "left_anti"))
    return kept.unionByName(merge_edges([touched, new]), allowMissingColumns=True)


def _has_snapshot(edges_dir: str) -> bool:
    """A snapshot exists iff the directory holds parquet files; an empty,
    pre-created directory is no snapshot yet."""
    return bool(glob.glob(os.path.join(edges_dir, "**", "*.parquet"), recursive=True))


# The stream's snapshot commit, looked up here at each merge so a tracer can
# wrap it (kgbench's traced run does).
_swap_snapshot = commit


# The stream query's own settings; the merge keeps the caller's session.
_STREAM_CONF = {
    "spark.sql.shuffle.partitions": "1",
    "spark.sql.streaming.checkpointFileManagerClass": (
        "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager"
    ),
    "spark.sql.streaming.stateStore.maintenanceInterval": "1s",
}
_stream_sessions: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def _stream_session(spark: SparkSession) -> SparkSession:
    """The session the stream query runs on: ``spark.newSession()`` with
    ``_STREAM_CONF``, made once per caller session. Every session that
    starts a query adds a listener to the application's listener bus that
    is never removed, so a new session per update would leak one per drop."""
    stream = _stream_sessions.get(spark)
    if stream is None:
        stream = spark.newSession()
        for key, value in _STREAM_CONF.items():
            stream.conf.set(key, value)
        _stream_sessions[spark] = stream
    return stream


def _read_snapshot(spark: SparkSession, edges_dir: str, schema: T.StructType) -> DataFrame:
    """The live snapshot on ``spark``, read with the schema its commit
    record holds, so no schema-inference job runs; a snapshot without a
    record (one copied in from elsewhere) is read bare. Before the first
    drop, an empty one of the batch's schema. Either way the merge is
    planned on ``spark``, not on the micro-batch's stream session with its
    one shuffle partition."""
    record = read_record(edges_dir)
    if record is not None:
        return spark.read.schema(T.StructType.fromJson(record["schema"])).parquet(edges_dir)
    if _has_snapshot(edges_dir):
        return spark.read.parquet(edges_dir)
    return spark.createDataFrame(spark.sparkContext.emptyRDD(), schema)


def stream_kg_update(
    spark: SparkSession,
    landing_dir: str,
    edges_dir: str,
    checkpoint_dir: str,
) -> None:
    """Continuous KG maintenance: drain page drops and MERGE their triples
    into the persistent edges snapshot (reference merge semantics per
    (s,p,o): provenance unions, deterministic ids). A micro-batch that
    Spark replays after a crash merges again, and the merge's idempotence
    leaves the snapshot as the first merge wrote it."""
    recover(edges_dir)

    def merge_batch(batch: DataFrame, batch_id: int) -> None:
        # one run of the extraction and the dedup state commit
        new = batch.drop("warc_ts").localCheckpoint()
        if new.isEmpty():
            return
        _swap_snapshot(_merge_into(_read_snapshot(spark, edges_dir, new.schema), new), edges_dir)

    q = (
        stream_pages_to_triples(_stream_session(spark), landing_dir)
        .writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
