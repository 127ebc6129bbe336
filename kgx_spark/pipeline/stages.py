"""Staged execution with per-stage snapshots, metrics, and kill-resume.

North rule: "Every stage checkpoints per-partition lineage and counters to a
metrics table so a killed run resumes from the last committed Iceberg
snapshot."

Reference analogue: the per-source TSV checkpoint flag
(kgx/cli/cli_utils.py:953-956, 1330-1333).

This sandbox has no Iceberg catalog jar, so a snapshot commit is emulated
with a directory swap, and stage snapshots and the stream's edges snapshot
(streaming/kg_stream.py) share it. ``commit`` writes the frame to
``<dir>.tmp``, writes a commit record ``_commit.json`` into the same
directory (Spark and pyarrow skip files named ``_*``), then renames the live
``<dir>`` to ``<dir>.old``, ``<dir>.tmp`` to ``<dir>``, and removes
``.old``. The record is the stage's metrics row — rows, file count, wall
time, per-file lineage read from the parquet footers — plus the frame's
schema, a fresh ``version`` id and the ``parent`` version it was built from,
so the data and its metrics land in one rename. ``recover`` finishes a swap
a crash cut short. On a real cluster, swap ``commit`` for
``df.writeTo(f"{catalog}.{stage}").createOrReplace()``.

Resume: a stage is LOADED, not recomputed, when its record exists and its
``parent`` is the version of the stage loaded or committed just before it;
otherwise it recomputes, and so does every stage after it, so no snapshot is
ever built from another run's upstream output. Every stage, loaded or fresh,
is read with its recorded schema, so a resume runs no Spark job.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import time
import uuid
from dataclasses import dataclass
from datetime import datetime, timezone
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

RECORD = "_commit.json"


@dataclass
class Stage:
    name: str
    fn: Callable[[SparkSession, dict[str, DataFrame]], DataFrame]


def snapshot_lineage(path: str, stage: str) -> list[dict]:
    """Per-FILE lineage for a written parquet snapshot, read from parquet
    footers driver-side (no Spark job, no data scan — row counts live in the
    file metadata, exactly like Iceberg's per-file manifest stats)."""
    import pyarrow.parquet as pq

    out = []
    for i, f in enumerate(sorted(glob.glob(os.path.join(path, "*.parquet")))):
        md = pq.ParquetFile(f).metadata
        out.append(
            {
                "stage": stage,
                "partition_id": i,
                "file": os.path.basename(f),
                "rows": md.num_rows,
                "bytes": os.path.getsize(f),
            }
        )
    return out


def commit(df: DataFrame, path: str, parent: str | None = None, t0: float | None = None) -> dict:
    """Write df as the snapshot at ``path`` and swap it in; → its record.

    The write completes before the first rename, so df may lazily read the
    snapshot it replaces. ``wall_sec`` counts from ``t0`` (default: now)."""
    t0 = time.monotonic() if t0 is None else t0
    tmp, old = path + ".tmp", path + ".old"
    stage = os.path.basename(path).removesuffix(".parquet")
    df.write.mode("overwrite").parquet(tmp)
    lineage = snapshot_lineage(tmp, stage)
    record = {
        "stage": stage,
        "rows": sum(r["rows"] for r in lineage),
        "partitions": len(lineage),
        "wall_sec": round(time.monotonic() - t0, 3),
        "lineage": lineage,
        "committed_at": datetime.now(timezone.utc).strftime("%Y-%m-%dT%H:%M:%S.%fZ"),
        "schema": df.schema.jsonValue(),
        "version": uuid.uuid4().hex,
        "parent": parent,
    }
    with open(os.path.join(tmp, RECORD), "w") as fh:
        json.dump(record, fh)
    if os.path.isdir(path):
        os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old, ignore_errors=True)
    return record


def recover(path: str) -> None:
    """Finish a commit that a crash cut short. A kill between the two
    renames leaves the snapshot only in ``.old``: move it back. A kill after
    them leaves a stale ``.old`` that the next commit's rename would fail
    on: remove it. A ``.tmp`` is an uncommitted write: remove it."""
    old = path + ".old"
    if os.path.isdir(old):
        if os.path.isdir(path):
            shutil.rmtree(old)
        else:
            os.rename(old, path)
    shutil.rmtree(path + ".tmp", ignore_errors=True)


def read_record(path: str) -> dict | None:
    try:
        with open(os.path.join(path, RECORD)) as fh:
            return json.load(fh)
    except FileNotFoundError:
        return None


def read_metrics(workdir: str) -> list[dict]:
    """The records of the newest run's stages in ``workdir``, in run order:
    the newest record and its ``parent`` chain. A stage the newest run
    skipped keeps its snapshot and record, but no stage of that run names
    it as parent, so it is left out."""
    records = [r for r in map(read_record, glob.glob(os.path.join(workdir, "*.parquet"))) if r]
    by_version = {r["version"]: r for r in records}
    chain = []
    r = max(records, key=lambda r: r["committed_at"], default=None)
    while r is not None:
        chain.append(r)
        r = by_version.get(r["parent"])
    return chain[::-1]


def run_stages(
    spark: SparkSession,
    workdir: str,
    stages: list[Stage],
    force: bool = False,
) -> dict[str, DataFrame]:
    """Execute stages in order; a stage whose record names the version
    before it as its parent is loaded from its snapshot (kill-resume), the
    rest are recomputed and committed. Returns {stage_name: DataFrame}."""
    os.makedirs(workdir, exist_ok=True)
    ctx: dict[str, DataFrame] = {}
    parent = None
    for stage in stages:
        # Stage boundary: later stages read committed snapshots, never the
        # previous stage's cached frames. A gc.collect() here would walk the
        # driver's whole Python heap (~0.8 CPU-s per crawl build) for
        # nothing: a traced build spills 0 MB in every layer without it.
        spark.catalog.clearCache()
        path = os.path.join(workdir, f"{stage.name}.parquet")
        recover(path)
        record = None if force else read_record(path)
        if record is None or record["parent"] != parent:
            t0 = time.monotonic()
            record = commit(stage.fn(spark, ctx), path, parent, t0)
        # a file source's schema comes out nullable either way, so the
        # recorded schema is the one a bare read would infer with a job
        ctx[stage.name] = spark.read.schema(T.StructType.fromJson(record["schema"])).parquet(path)
        parent = record["version"]
    return ctx
