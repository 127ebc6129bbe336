"""Staged execution with per-stage snapshots, metrics, and kill-resume.

North rule: "Every stage checkpoints per-partition lineage and counters to a
metrics table so a killed run resumes from the last committed Iceberg
snapshot."

Reference analogue: the per-source TSV checkpoint flag
(kgx/cli/cli_utils.py:953-956, 1330-1333).

This sandbox has no Iceberg catalog jar, so a snapshot commit is emulated
with the same atomicity contract: stage output is written to
``<workdir>/<stage>.parquet`` and a ``_COMMITTED`` marker is placed only
after the write fully succeeds (Spark's own _SUCCESS covers the data files;
the marker covers the metrics row too). On a real cluster, swap
``_write_snapshot`` for ``df.writeTo(f"{catalog}.{stage}").createOrReplace()``
— the orchestration logic is identical because Iceberg commits are atomic.

Resume = stages whose marker exists are LOADED, not recomputed, up to the
first stage that must run; that stage and every later one recompute, so no
snapshot is ever built from another run's upstream output. A stage computed
in this run is read back with the schema of the frame that wrote it, so its
commit runs no schema-inference job; a loaded stage has no such frame and
infers its schema from the snapshot. Metrics rows
record per-stage row counts, file counts, and wall time; per-file lineage
rows record (stage, partition_id, file, rows, bytes), read from the committed
snapshot's parquet footers without a Spark job.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession


@dataclass
class Stage:
    name: str
    fn: Callable[[SparkSession, dict[str, DataFrame]], DataFrame]


def _stage_dir(workdir: str, name: str) -> str:
    return os.path.join(workdir, f"{name}.parquet")


def _marker(workdir: str, name: str) -> str:
    return os.path.join(workdir, f"{name}._COMMITTED")


def snapshot_lineage(path: str, stage: str) -> list[dict]:
    """Per-FILE lineage for a committed parquet snapshot, read from parquet
    footers driver-side (no Spark job, no data scan — row counts live in the
    file metadata, exactly like Iceberg's per-file manifest stats)."""
    import glob as _glob
    import os as _os

    import pyarrow.parquet as pq

    out = []
    for i, f in enumerate(sorted(_glob.glob(_os.path.join(path, "*.parquet")))):
        md = pq.ParquetFile(f).metadata
        out.append(
            {
                "stage": stage,
                "partition_id": i,
                "file": _os.path.basename(f),
                "rows": md.num_rows,
                "bytes": _os.path.getsize(f),
            }
        )
    return out


def append_metrics(workdir: str, record: dict) -> None:
    """Metrics table: JSONL appended atomically per stage commit (the local
    stand-in for an Iceberg metrics table append)."""
    with open(os.path.join(workdir, "metrics.jsonl"), "a") as fh:
        fh.write(json.dumps(record) + "\n")


def scrub_stage_metrics(workdir: str, stage: str) -> None:
    """Drop metrics rows for a stage that is about to be recomputed.

    A run killed between the metrics append and the marker write leaves an
    orphan metrics row (the window is real: write → lineage → metrics →
    marker). Without the scrub, the re-run would append a second row for the
    same stage and the metrics table would double-count it."""
    path = os.path.join(workdir, "metrics.jsonl")
    if not os.path.exists(path):
        return
    rows = [r for r in read_metrics(workdir) if r.get("stage") != stage]
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        for r in rows:
            fh.write(json.dumps(r) + "\n")
    os.replace(tmp, path)


def read_metrics(workdir: str) -> list[dict]:
    path = os.path.join(workdir, "metrics.jsonl")
    if not os.path.exists(path):
        return []
    with open(path) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def run_stages(
    spark: SparkSession,
    workdir: str,
    stages: list[Stage],
    force: bool = False,
) -> dict[str, DataFrame]:
    """Execute stages in order; previously committed stages are loaded from
    their snapshot (kill-resume) until the first stage that recomputes, after
    which every stage recomputes. Returns {stage_name: DataFrame}."""
    os.makedirs(workdir, exist_ok=True)
    ctx: dict[str, DataFrame] = {}
    recompute = force
    for stage in stages:
        # Stage boundary: later stages read committed snapshots, never the
        # previous stage's cached frames. A gc.collect() here would walk the
        # driver's whole Python heap (~0.8 CPU-s per crawl build) for
        # nothing: a traced build spills 0 MB in every layer without it.
        spark.catalog.clearCache()
        out_path = _stage_dir(workdir, stage.name)
        marker = _marker(workdir, stage.name)
        if not recompute and os.path.exists(marker):
            ctx[stage.name] = spark.read.parquet(out_path)
            continue
        # this stage's snapshot is about to be replaced, and every later
        # snapshot was built from the old one: unmark this stage before its
        # data changes (a kill now leaves it unmarked), recompute the rest
        recompute = True
        if os.path.exists(marker):
            os.remove(marker)
        # no marker ⇒ any existing stage dir is a KILLED partial write:
        # mode("overwrite") below replaces the data atomically enough for
        # this emulation (a real Iceberg commit is atomic), and the stale
        # metrics row — appended before the kill — must go so the recompute
        # doesn't double-count the stage
        scrub_stage_metrics(workdir, stage.name)
        t0 = time.monotonic()
        df = stage.fn(spark, ctx)
        df.write.mode("overwrite").parquet(out_path)
        # read back with the written frame's schema: a bare read runs a
        # one-task schema-inference job, and a file source's schema comes
        # out nullable either way, so the two are identical
        committed = spark.read.schema(df.schema).parquet(out_path)
        wall = time.monotonic() - t0
        lineage_rows = snapshot_lineage(out_path, stage.name)
        append_metrics(
            workdir,
            {
                "stage": stage.name,
                "rows": sum(r["rows"] for r in lineage_rows),
                "partitions": len(lineage_rows),
                "wall_sec": round(wall, 3),
                "lineage": lineage_rows,
                "committed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            },
        )
        with open(marker, "w") as fh:
            fh.write("committed\n")
        ctx[stage.name] = committed
    return ctx
