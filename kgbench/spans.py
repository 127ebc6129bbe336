"""Span tracing for the traced (``--trace 1``) runs.

A span is (name, start, end, parent, run id) plus the range of Spark job ids
it launched. Jobs are attributed by job-id range rather than job group: the
benchmark launches jobs from one driver thread, and StreamExecution sets its
own job group on micro-batch jobs. Per-stage figures come from Spark's own
status store (``AppStatusStore``), read through the JVM gateway after the
listener bus drains. Spans are kept in memory and written as JSON lines when
the run ends.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

# Layers are named after the engine's modules.
LAYERS = (
    "session",
    "pipeline.extract",
    "pipeline.triples",
    "pipeline.link",
    "operators.validate",
    "operators.clique",
    "operators.merge",
    "pipeline.stages",
    "sources",
    "sinks",
    "streaming",
)
LAYER_FIELDS = ("wall_s", "busy_frac", "jobs", "tasks", "failed_tasks", "shuffle_write_mb", "spill_mb", "rows_out")
MB = 1024 * 1024


class Tracer:
    def __init__(self, spark, cores: int, run_id: str):
        self.spark = spark
        self.cores = cores
        self.run_id = run_id
        self.spans: list[dict] = []
        self._open: list[dict] = []

    # -- Spark status store ------------------------------------------------

    def _jsc(self):
        return self.spark.sparkContext._jsc.sc()

    def last_job_id(self) -> int:
        # submitted-job counter: no listener-bus round trip needed
        return self._jsc().dagScheduler().nextJobId() - 1

    def _job_stats(self, lo: int, hi: int) -> dict:
        """Sum stage figures over the jobs with lo < id <= hi."""
        jsc = self._jsc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        stage_ids: set[int] = set()
        for job_id in range(lo + 1, hi + 1):
            try:
                text = store.job(job_id).stageIds().mkString(",")
            except Exception:  # evicted past spark.ui.retainedJobs
                continue
            stage_ids.update(int(s) for s in text.split(",") if s)
        out = {"jobs": hi - lo, "tasks": 0, "failed_tasks": 0, "run_ms": 0, "shuffle_write": 0, "spill": 0}
        for sid in sorted(stage_ids):
            try:
                st = store.lastStageAttempt(sid)
            except Exception:  # skipped stage: never attempted, no figures
                continue
            out["tasks"] += st.numCompleteTasks()
            out["failed_tasks"] += st.numFailedTasks()
            out["run_ms"] += st.executorRunTime()
            out["shuffle_write"] += st.shuffleWriteBytes()
            out["spill"] += st.diskBytesSpilled()
        return out

    # -- spans -------------------------------------------------------------

    def open(self, name: str) -> dict:
        span = {
            "name": name,
            "run": self.run_id,
            "parent": self._open[-1]["name"] if self._open else None,
            "start": time.monotonic(),
            "job_lo": self.last_job_id(),
            "rows_out": 0,
        }
        self._open.append(span)
        return span

    def close(self, span: dict, rows_out: int | None = None) -> dict:
        span["end"] = time.monotonic()
        span["job_hi"] = self.last_job_id()
        if rows_out is not None:
            span["rows_out"] = rows_out
        span.update(self._job_stats(span["job_lo"], span["job_hi"]))
        self._open.remove(span)
        self.spans.append(span)
        return span

    @contextmanager
    def span(self, name: str):
        s = self.open(name)
        try:
            yield s
        finally:
            self.close(s, s.get("rows_out"))

    def add(self, name: str, start: float, end: float, rows_out: int = 0) -> None:
        """Record a span measured without Spark jobs (e.g. session set-up)."""
        self.spans.append(
            {"name": name, "run": self.run_id, "parent": None, "start": start, "end": end,
             "rows_out": rows_out, "jobs": 0, "tasks": 0, "failed_tasks": 0, "run_ms": 0,
             "shuffle_write": 0, "spill": 0}
        )

    # -- report ------------------------------------------------------------

    def layer_metrics(self) -> dict[str, float]:
        """``<layer>.<field>`` for every layer; layers a workload never
        enters report 0. A child span's jobs and wall are subtracted from its
        parent layer so no work counts twice."""
        acc = {layer: dict.fromkeys(("wall", "jobs", "tasks", "failed_tasks", "run_ms",
                                     "shuffle_write", "spill", "rows_out"), 0) for layer in LAYERS}
        for s in self.spans:
            a = acc[s["name"]]
            a["wall"] += s["end"] - s["start"]
            for k in ("jobs", "tasks", "failed_tasks", "run_ms", "shuffle_write", "spill", "rows_out"):
                a[k] += s[k]
            if s["parent"]:
                p = acc[s["parent"]]
                p["wall"] -= s["end"] - s["start"]
                for k in ("jobs", "tasks", "failed_tasks", "run_ms", "shuffle_write", "spill"):
                    p[k] -= s[k]
        out: dict[str, float] = {}
        for layer, a in acc.items():
            wall = a["wall"]
            out[f"{layer}.wall_s"] = wall
            out[f"{layer}.busy_frac"] = (a["run_ms"] / 1000.0) / (wall * self.cores) if wall > 0 else 0.0
            out[f"{layer}.jobs"] = a["jobs"]
            out[f"{layer}.tasks"] = a["tasks"]
            out[f"{layer}.failed_tasks"] = a["failed_tasks"]
            out[f"{layer}.shuffle_write_mb"] = a["shuffle_write"] / MB
            out[f"{layer}.spill_mb"] = a["spill"] / MB
            out[f"{layer}.rows_out"] = a["rows_out"]
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s, sort_keys=True) + "\n")
