"""Continuous KG construction from a stream of crawled pages.

The north-rule batch pipeline (pages → extract_text → extract_triples →
validate → merge) re-expressed as Structured Streaming over a landing
directory of page drops. The transformation functions are the batch
operators themselves — extract/triples/validate are narrow (pandas UDF +
regex + filters), so they lift into a stream unchanged; only dedup and
merge need streaming-specific forms:

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
  absorbed — leaves the snapshot alone. Per-batch idempotence via a
  recorded batchId high-water mark, so a replayed micro-batch after a
  crash cannot double-merge. On a cluster the read-merge-rewrite becomes
  an Iceberg/Delta MERGE INTO against the edges table — the local
  parquet snapshot-swap emulates that commit, same as the batch
  pipeline's stage snapshots (pipeline/stages.py).

Scale notes: the stream is narrow until the per-batch merge, so executors
process page files wherever they land — no shuffle before dedup. The
watermark dedup keys on three strings (bounded state, evicted by event
time); provided_by keeps the FIRST sighting inside a watermark window
(the batch merge unions across all sightings — a documented divergence,
re-converged at the merge stage which unions provenance per (s,p,o)).
"""

from __future__ import annotations

import glob
import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kgx_spark.functions.keys import generate_edge_identifiers
from kgx_spark.operators.merge import merge_edges
from kgx_spark.operators.validate import validate_edges
from kgx_spark.pipeline.extract import extract_text
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


def stream_pages_to_triples(
    spark: SparkSession, landing_dir: str, watermark: str = "1 hour"
) -> DataFrame:
    """→ streaming DataFrame of validated, watermark-deduped triples.

    Columns: subject, predicate, object, provided_by, warc_ts (event time).
    Callers attach a sink; ``run_triples_stream`` wires the parquet one.
    """
    pages = spark.readStream.schema(PAGES_STREAM_SCHEMA).parquet(landing_dir)
    text = extract_text(pages).select("url", "warc_ts", "extracted_text")
    triples = extract_triples(text, carry_cols=("warc_ts",))
    valid, _errors = validate_edges(triples)  # error stream: attach via foreachBatch
    return valid.withWatermark("warc_ts", watermark).dropDuplicatesWithinWatermark(
        ["subject", "predicate", "object"]
    )


def run_triples_stream(
    spark: SparkSession,
    landing_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    watermark: str = "1 hour",
) -> None:
    """Drain everything currently in the landing dir into a parquet triple
    log (exactly-once via the checkpoint), then stop — the
    ``availableNow`` production pattern for scheduled incremental runs; a
    24/7 deployment uses the same query with a processing-time trigger."""
    q = (
        stream_pages_to_triples(spark, landing_dir, watermark)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


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


def _swap_snapshot(df: DataFrame, live_dir: str) -> None:
    """Write df next to the live snapshot, then swap directories — the
    local emulation of a table-format commit (same contract as the batch
    stage snapshots). The write completes before the first rename, so df
    may lazily read the live snapshot it replaces."""
    tmp, old = live_dir + ".tmp", live_dir + ".old"
    df.write.mode("overwrite").parquet(tmp)
    if os.path.isdir(live_dir):
        os.rename(live_dir, old)
    os.rename(tmp, live_dir)
    shutil.rmtree(old, ignore_errors=True)


def _recover_snapshot(live_dir: str) -> None:
    """Finish a snapshot swap that a crash cut short. A kill between the
    two renames leaves the graph only in ``.old``: move it back. A kill
    after them leaves a stale ``.old`` that the next swap's rename would
    fail on: remove it."""
    old = live_dir + ".old"
    if not os.path.isdir(old):
        return
    if os.path.isdir(live_dir):
        shutil.rmtree(old)
    else:
        os.rename(old, live_dir)


def stream_kg_update(
    spark: SparkSession,
    landing_dir: str,
    edges_dir: str,
    checkpoint_dir: str,
    watermark: str = "1 hour",
) -> None:
    """Continuous KG maintenance: drain page drops and MERGE their triples
    into the persistent edges snapshot (reference merge semantics per
    (s,p,o): provenance unions, deterministic ids). Idempotent per
    micro-batch: a batchId at or below the recorded high-water mark is a
    no-op, so foreachBatch replays after a crash cannot double-merge."""
    hwm_path = os.path.join(checkpoint_dir, "_merged_batch.json")
    _recover_snapshot(edges_dir)

    def merge_batch(batch: DataFrame, batch_id: int) -> None:
        if os.path.exists(hwm_path):
            with open(hwm_path) as fh:
                if batch_id <= json.load(fh)["batch_id"]:
                    return
        # one run of the extraction and the dedup state commit
        new = batch.drop("warc_ts").localCheckpoint()
        if new.isEmpty():
            return
        if _has_snapshot(edges_dir):
            merged = _merge_into(spark.read.parquet(edges_dir), new)
        else:
            merged = merge_edges([new])
        _swap_snapshot(merged, edges_dir)
        # write-then-rename: a kill mid-write must not leave a truncated
        # high-water mark that every later update fails to parse
        with open(hwm_path + ".tmp", "w") as fh:
            json.dump({"batch_id": batch_id}, fh)
        os.replace(hwm_path + ".tmp", hwm_path)

    q = (
        stream_pages_to_triples(spark, landing_dir, watermark)
        .writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
