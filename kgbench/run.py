"""Benchmark of the kgx_spark knowledge-graph construction engine.

Run from the repository root:

    python3 kgbench/run.py --workload crawl_build --seed 1 --seconds 10 --trace 0
    python3 kgbench/run.py --workload all --seed 1 --seconds 10 --trace 1

Each run starts one Spark session at ``local[<usable cores>]`` in this
process, runs one workload through the engine's public entry points, checks
every output against the seeded generator's ground truth, and prints one JSON
object as the last line of stdout: ``{"correct", "attempted", "failed",
"metrics"}``. ``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer ones (see README.md). The line before it records the pinned
settings and the input generation time.
"""

import time

T_START = time.monotonic()

import argparse  # noqa: E402
import glob  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
from typing import NamedTuple  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
CACHE = os.path.join(HERE, ".cache")

import checks  # noqa: E402
import gen  # noqa: E402

CORES = len(os.sched_getaffinity(0))
DRIVER_MEM_MB = 2048
# heap + JVM off-heap + python workers + page cache for shuffle files
MIN_MEM_AVAILABLE_MB = DRIVER_MEM_MB + 2048
SETTINGS = {
    "master": f"local[{CORES}]",
    "SPARK_GRAFT_DRIVER_MEM": f"{DRIVER_MEM_MB}m",
    "SPARK_GRAFT_LOCAL_DIR": os.path.relpath(os.path.join(WORK, "spark-local"), ROOT),
    "shuffle_partitions": CORES,
    # C1-only JIT: on 4 slow cores the C2 compiler threads compete with the
    # job itself; measured session start 15-19 s -> 9.5 s and a cold crawl
    # pipeline 61 s -> 36 s, which is what lets every run fit its budget.
    # Serial GC: G1's pause-time driven young-generation sizing made peak
    # RSS swing 1.1-1.6 GB between runs of one workload.
    # No perf-data file: the JVM would write it under /tmp.
    "jvm_opts": "-XX:TieredStopAtLevel=1 -XX:+UseSerialGC -XX:-UsePerfData",
    # the whole heap from the start: with a growing heap, when the serial
    # collector resized it decided peak RSS (+-0.4 GB between runs)
    "driver_java_options": f"-Xms{DRIVER_MEM_MB}m",
}
SIZES = {
    # 600 pages x 150 facts: ~90k canonical triples, a 20k-alias dictionary
    "crawl_build": {"n_pages": 600, "n_parts": 20000, "n_supp": 1000, "facts_per_page": 150},
    # ~64k-edge start snapshot; 25-page drops of ~3.2k triples, half re-asserted
    "incremental_update": {
        "n_bulk": 500, "n_drops": 12, "drop_pages": 25, "n_parts": 20000, "n_supp": 1000, "facts_per_page": 128,
    },
}
WORKLOADS = tuple(SIZES)
MIN_WARM_DROPS = 2
# crawl_build stage -> layer (module) that does its work
STAGE_LAYER = {
    "extract": "pipeline.extract",
    "triples": "pipeline.triples",
    "linked": "pipeline.link",
    "edges_raw": "operators.validate",
    "canonical": "operators.clique",
    "edges": "operators.merge",
    "nodes": "operators.merge",
}


def log(msg: str) -> None:
    print(f"[kgbench] {msg}", file=sys.stderr, flush=True)


# ------------------------------------------------------------------ setup


def pin_environment() -> None:
    """Everything the run writes stays under kgbench/.work."""
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(ROOT, SETTINGS["SPARK_GRAFT_LOCAL_DIR"])
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ.update(
        {
            "SPARK_GRAFT_DRIVER_MEM": SETTINGS["SPARK_GRAFT_DRIVER_MEM"],
            "SPARK_GRAFT_LOCAL_DIR": local,
            # Spark prefers SPARK_LOCAL_DIRS over spark.local.dir when set
            "SPARK_LOCAL_DIRS": local,
            "SPARK_GRAFT_CPUS": str(CORES),
            "TMPDIR": tmp,
            "JAVA_TOOL_OPTIONS": f"{SETTINGS['jvm_opts']} -Djava.io.tmpdir={tmp}",
            "PYSPARK_PYTHON": sys.executable,
        }
    )


def mem_available_mb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemAvailable:"):
                return int(line.split()[1]) // 1024
    return 0


def start_session(master: str):
    from kgx_spark.session import get_spark

    return get_spark(
        "kgbench",
        master=master,
        shuffle_partitions=SETTINGS["shuffle_partitions"],
        extra_conf={
            "spark.driver.defaultJavaOptions": SETTINGS["driver_java_options"],
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        },
    )


def stop_session(spark) -> None:
    """Stop the context, then the JVM, and wait for it to exit (its python
    daemon and workers go down with it)."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def process_tree(root_pid: int) -> list[int]:
    """The JVM and its live descendants (the python daemon and UDF workers)."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo += children.get(pid, [])
    return out


def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            return next((int(line.split()[1]) for line in fh if line.startswith(field)), 0)
    except OSError:
        return 0


def _is_python(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().startswith("python")
    except OSError:
        return False


class RssSampler:
    """Peak memory of the driver JVM plus its python daemon and workers: the
    JVM's own high-water mark plus the largest summed RSS of the python
    processes, sampled every 0.2 s. Sampling catches workers Spark reaps
    after a minute idle; other short-lived children of the JVM (forked
    helpers that briefly share its pages) are left out."""

    def __init__(self, root_pid: int):
        import threading

        self.root_pid = root_pid
        self.python_peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _sample(self) -> None:
        kb = sum(_status_kb(p, "VmRSS:") for p in process_tree(self.root_pid)[1:] if _is_python(p))
        self.python_peak_kb = max(self.python_peak_kb, kb)

    def _run(self) -> None:
        while not self._stop.wait(0.2):
            self._sample()

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()
        return (_status_kb(self.root_pid, "VmHWM:") + self.python_peak_kb) / 1024


def cpu_s(root_pid: int) -> float:
    """CPU seconds used by the process tree, reaped children included.
    Unlike wall time it does not count time the host steals from the VM."""
    ticks = 0
    for pid in process_tree(root_pid):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in f[11:15])  # utime stime cutime cstime
    return ticks / os.sysconf("SC_CLK_TCK")


# -------------------------------------------------------------- helpers


class Job(NamedTuple):
    wall: float  # s
    cpu: float  # CPU s of this process plus the JVM tree


def metered(fn, *args, **kw) -> Job:
    pid = jvm_pid()
    c0, p0, t0 = cpu_s(pid), time.process_time(), time.monotonic()
    fn(*args, **kw)
    wall = time.monotonic() - t0
    return Job(wall, cpu_s(pid) + time.process_time() - p0 - c0)


def parquet_rows(path: str) -> int:
    import pyarrow.parquet as pq

    return sum(pq.read_metadata(f).num_rows for f in glob.glob(os.path.join(path, "*.parquet")))


# ------------------------------------------------------------ crawl_build


def crawl_job(spark, inputs: dict, workdir: str, wrap_stages=None) -> tuple[Job, dict]:
    """One ``run_kg_pipeline(link_entities=True)`` with per-stage snapshots,
    then its check. ``wrap_stages`` swaps in traced Stage wrappers."""
    from kgx_spark.pipeline.kg_pipeline import build_stages, run_kg_pipeline
    from kgx_spark.pipeline.stages import run_stages

    shutil.rmtree(workdir, ignore_errors=True)

    def job():
        pages = spark.read.parquet(inputs["pages"])
        if wrap_stages is None:
            run_kg_pipeline(spark, inputs["sf_dir"], workdir, pages_df=pages, link_entities=True, force=True)
        else:
            stages = build_stages(inputs["sf_dir"], pages_df=pages, link_entities=True)
            run_stages(spark, workdir, wrap_stages(stages), force=True)

    run_ = metered(job)
    log(f"crawl job: wall {run_.wall:.3f} s cpu {run_.cpu:.3f} s")
    return run_, checks.crawl(checks.read_edges(os.path.join(workdir, "edges.parquet")), inputs["truth"])


def crawl_build(spark, inputs: dict, seconds: float) -> dict:
    """The first pipeline run in the fresh session is the cold job (what a
    spark-submit user pays); warm runs of the same job follow until
    ``seconds`` have passed, at least one."""
    wd = os.path.join(WORK, "crawl")
    cold, check = crawl_job(spark, inputs, wd)
    jobs, checks_ = [], [check]
    t_warm = time.monotonic()
    while not jobs or time.monotonic() - t_warm < seconds:
        job, check = crawl_job(spark, inputs, wd)
        jobs.append(job)
        checks_.append(check)
    return {"cold": cold, "jobs": jobs, "checks": checks_, "final": check}


def traced_crawl_build(spark, inputs: dict, tracer) -> tuple[dict, dict]:
    """cold untraced job (warm-up) → untraced warm job (overhead reference
    and local[N] stage walls) → traced job → one untraced job on local[1]
    (scaling)."""
    from kgx_spark.pipeline.stages import Stage, read_metrics

    wd = os.path.join(WORK, "crawl")
    cold, first = crawl_job(spark, inputs, wd)
    untraced, warm_check = crawl_job(spark, inputs, wd)
    walls_n = {m["stage"]: m["wall_sec"] for m in read_metrics(wd)}

    spans: dict[str, dict] = {}
    commits: dict[str, dict] = {}
    state: dict = {"commit": None}

    def wrap(stages):
        out = []
        for st in stages:
            def fn(spark_, ctx, st=st):
                if state["commit"] is not None:
                    tracer.close(state["commit"])
                # force the lazy layer at its boundary: the snapshot write
                # that follows is the commit, not the layer's compute
                span = tracer.open(STAGE_LAYER[st.name])
                df = st.fn(spark_, ctx).localCheckpoint(eager=True)
                tracer.close(span)
                spans[st.name] = span
                state["commit"] = commits[st.name] = tracer.open("pipeline.stages")
                return df
            out.append(Stage(st.name, fn))
        return out

    traced, traced_check = crawl_job(spark, inputs, wd, wrap_stages=wrap)
    tracer.close(state["commit"])
    traced_metrics = {m["stage"]: m for m in read_metrics(wd)}
    for name in spans:
        spans[name]["rows_out"] = commits[name]["rows_out"] = traced_metrics[name]["rows"]
    extra = crawl_ratios(wd, traced_metrics)
    extra["trace.overhead_s"] = traced.wall - untraced.wall
    result = {"cold": cold, "jobs": [untraced], "checks": [first, warm_check, traced_check], "final": traced_check}

    spark.stop()  # keep the JVM: only the master changes
    spark1 = start_session("local[1]")
    _, one_check = crawl_job(spark1, inputs, wd)
    result["checks"].append(one_check)
    for m in read_metrics(wd):
        extra[f"{m['stage']}.scaling_eff"] = m["wall_sec"] / (CORES * walls_n[m["stage"]])
    return result, extra


def crawl_ratios(workdir: str, metrics: dict) -> dict:
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    text = pq.read_table(os.path.join(workdir, "extract.parquet"), columns=["extracted_text"])
    ngrams = 0
    for s in text.column("extracted_text").to_pylist():
        n = len((s or "").split())
        ngrams += sum(max(0, n - k + 1) for k in (1, 2, 3))
    raw = pq.read_table(os.path.join(workdir, "edges_raw.parquet"), columns=["subject", "predicate", "object"])
    same = raw.filter(pc.equal(raw.column("predicate"), gen.SAME_AS))
    pairs = set(zip(same.column("subject").to_pylist(), same.column("object").to_pylist()))
    return {
        "pipeline.link.kept_frac": metrics["linked"]["rows"] / ngrams if ngrams else 0.0,
        "operators.clique.distinct_pair_frac": len(pairs) / same.num_rows if same.num_rows else 0.0,
        "operators.merge.dedup_frac": metrics["edges"]["rows"] / metrics["canonical"]["rows"],
        "streaming.rewrite_amp": 0.0,
    }


# ----------------------------------------------------- incremental_update


class UpdateState:
    """The live edges snapshot, the landing directory and the stream
    checkpoint, reset to the same start state for every run."""

    def __init__(self, inputs: dict):
        self.base = os.path.join(WORK, "update")
        shutil.rmtree(self.base, ignore_errors=True)
        self.edges = os.path.join(self.base, "edges")
        self.landing = os.path.join(self.base, "landing")
        self.checkpoint = os.path.join(self.base, "checkpoint")
        for d in (self.edges, self.landing, self.checkpoint):
            os.makedirs(d)
        shutil.copyfile(inputs["snapshot"], os.path.join(self.edges, "part-00000.parquet"))
        self.truth = dict(inputs["bulk_truth"])

    def land(self, src: str, name: str) -> None:
        """Atomic landing: copy beside the landing dir, then rename in."""
        staged = os.path.join(self.base, name)
        shutil.copyfile(src, staged)
        os.replace(staged, os.path.join(self.landing, name))


def update_drop(spark, state: UpdateState, src: str, name: str) -> Job:
    from kgx_spark.streaming.kg_stream import stream_kg_update

    def drop():
        state.land(src, name)
        stream_kg_update(spark, state.landing, state.edges, state.checkpoint)

    job = metered(drop)
    log(f"{name}: wall {job.wall:.3f} s cpu {job.cpu:.3f} s")
    return job


def incremental_update(spark, inputs: dict, seconds: float, on_drop=None) -> dict:
    """The first drop is the cold job; then drops land one after another
    until ``seconds`` have passed (at least MIN_WARM_DROPS), each followed by
    ``stream_kg_update``. The snapshot is checked after every drop. Then the
    last drop's bytes land again under a new file name, so the stream reads
    them through its watermark dedup and the merge: the snapshot must not
    change."""
    state = UpdateState(inputs)
    jobs, checks_ = [], []
    prior = {k: frozenset(v) for k, v in inputs["bulk_truth"].items()}
    streamed: set = set()  # keys the stream has seen, kept in its dedup state
    t_warm = None
    for i, src in enumerate(inputs["drops"]):
        if t_warm is not None and len(jobs) > MIN_WARM_DROPS and time.monotonic() - t_warm >= seconds:
            break
        traced = on_drop is not None and on_drop(i)
        jobs.append((traced or update_drop)(spark, state, src, f"drop_{i:04d}.parquet"))
        t_warm = t_warm or time.monotonic()
        drop = inputs["drop_truth"][i]
        fresh = {k: urls for k, urls in drop.items() if k not in streamed}
        streamed.update(drop)
        state.truth = checks.merged_truth(state.truth, drop)
        edges = checks.read_edges(state.edges)
        checks_.append(checks.snapshot(edges, state.truth, prior, fresh))
        prior = edges.rows
    last = len(jobs) - 1
    update_drop(spark, state, inputs["drops"][last], f"drop_{last:04d}_replay.parquet")
    checks_.append(checks.snapshot(checks.read_edges(state.edges), state.truth, prior, {}))
    return {"cold": jobs[0], "jobs": jobs[1:], "checks": checks_, "final": checks_[-1], "state": state}


def traced_incremental_update(spark, inputs: dict, tracer, seconds: float) -> tuple[dict, dict]:
    """Odd (warm) drops traced, even ones untraced — drop 0 is the cold job,
    the others are the overhead reference; then the snapshot is published as
    KGX TSV (sinks) and read back (sources)."""
    from kgx_spark import transform
    from kgx_spark.streaming import kg_stream

    counts = {"written": 0, "batch": 0, "merge_in": 0}
    real_merge, real_swap = kg_stream.merge_edges, kg_stream._swap_snapshot
    merge_span: dict = {}

    def traced_merge(dfs, *a, **kw):
        existing, new = dfs if len(dfs) == 2 else (None, dfs[0])
        new = new.localCheckpoint(eager=True)  # the batch's extraction, forced
        n_new = new.count()
        counts["batch"] += n_new
        counts["merge_in"] += n_new + (parquet_rows(merge_span["edges"]) if existing is not None else 0)
        merge_span["span"] = tracer.open("operators.merge")
        return real_merge([existing, new] if existing is not None else [new], *a, **kw)

    def traced_swap(df, live_dir):
        rows = df.count()
        tracer.close(merge_span["span"], rows)
        counts["written"] += rows
        real_swap(df, live_dir)

    traced_walls: list[float] = []

    def traced_drop(spark_, state, src, name):
        merge_span["edges"] = state.edges
        kg_stream.merge_edges, kg_stream._swap_snapshot = traced_merge, traced_swap
        try:
            with tracer.span("streaming") as span:
                job = update_drop(spark_, state, src, name)
                span["rows_out"] = parquet_rows(state.edges)
        finally:
            kg_stream.merge_edges, kg_stream._swap_snapshot = real_merge, real_swap
        traced_walls.append(job.wall)
        return job

    result = incremental_update(spark, inputs, seconds, on_drop=lambda i: traced_drop if i % 2 else None)
    untraced = [j.wall for j in result["jobs"][1::2]]
    state = result["state"]

    published = os.path.join(state.base, "published")
    with tracer.span("sinks") as span:
        edges = spark.read.parquet(state.edges)
        transform.write_sink(None, edges, {"format": "tsv", "filename": os.path.join(published, "graph")})
        span["rows_out"] = parquet_rows(state.edges)
    with tracer.span("sources") as span:
        _, back = transform.read_source(spark, {"format": "tsv", "filename": published})
        back = back.localCheckpoint(eager=True)
        span["rows_out"] = back.count()
    result["checks"].append({"ok": span["rows_out"] == len(state.truth), "published": True})

    extra = {
        "pipeline.link.kept_frac": 0.0,
        "operators.clique.distinct_pair_frac": 0.0,
        "operators.merge.dedup_frac": counts["written"] / counts["merge_in"] if counts["merge_in"] else 0.0,
        "streaming.rewrite_amp": counts["written"] / counts["batch"] if counts["batch"] else 0.0,
        "trace.overhead_s": statistics.median(traced_walls) - statistics.median(untraced),
    }
    extra.update({f"{st}.scaling_eff": 0.0 for st in STAGE_LAYER})
    return result, extra


# -------------------------------------------------------------- reporting

# Job costs are CPU seconds of the engine's processes (driver python + JVM +
# python workers): on this class of VM, host steal swings wall time by up to
# 2x between runs minutes apart, and steal is not charged to a process.
END_TO_END = {
    "setup_s": "s",
    "job_cpu_s": "s",
    "triples_per_cpu_s": "1/s",
    "peak_rss_mb": "MB",
    "triple_precision": "ratio",
    "triple_recall": "ratio",
}


def end_to_end(result: dict, setup_s: float, rss_mb: float) -> dict:
    job = statistics.median(j.cpu for j in result["jobs"])
    final = result["final"]
    return {
        "setup_s": setup_s,
        "job_cpu_s": job,
        "triples_per_cpu_s": final["distinct_triples"] / job,
        "peak_rss_mb": rss_mb,
        "triple_precision": final["precision"],
        "triple_recall": final["recall"],
    }


RATIOS = (
    "pipeline.link.kept_frac",
    "operators.clique.distinct_pair_frac",
    "operators.merge.dedup_frac",
    "streaming.rewrite_amp",
)


def per_layer_names() -> list[str]:
    from spans import LAYER_FIELDS, LAYERS

    return (
        [f"{layer}.{field}" for layer in LAYERS for field in LAYER_FIELDS]
        + list(RATIOS)
        + [f"{stage}.scaling_eff" for stage in STAGE_LAYER]
        + ["session.cold_job_cpu_s", "trace.overhead_s"]
    )


def unit_of(name: str) -> str:
    if name in END_TO_END:
        return END_TO_END[name]
    field = name.rsplit(".", 1)[-1]
    return {
        "wall_s": "s", "busy_frac": "ratio", "jobs": "count", "tasks": "count", "failed_tasks": "count",
        "shuffle_write_mb": "MB", "spill_mb": "MB", "rows_out": "count", "overhead_s": "s", "cold_job_cpu_s": "s",
    }.get(field, "ratio")


# ------------------------------------------------------------------ main


def run(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    if not os.path.isfile(os.path.join(ROOT, "kgx_spark", "__init__.py")):
        raise SystemExit(f"kgbench: no kgx_spark package under {ROOT}; run from a full checkout")
    avail = mem_available_mb()
    if avail < MIN_MEM_AVAILABLE_MB:
        raise SystemExit(f"kgbench: MemAvailable {avail} MB < {MIN_MEM_AVAILABLE_MB} MB needed")
    pin_environment()
    sys.path.insert(0, ROOT)

    import kgx_spark.session  # noqa: F401  (import cost is part of set-up)

    import_wall, import_cpu = time.monotonic() - T_START, time.process_time()

    t = time.monotonic()
    sizes = "-".join(str(v) for v in SIZES[workload].values())
    cache = os.path.join(CACHE, f"{workload}-v{gen.VERSION}-{sizes}-seed{seed}")
    inputs = (gen.crawl_inputs if workload == "crawl_build" else gen.update_inputs)(seed, cache, **SIZES[workload])
    gen_s = time.monotonic() - t

    t, c = time.monotonic(), time.process_time()
    spark = start_session(SETTINGS["master"])
    setup_wall = import_wall + time.monotonic() - t
    # set-up cost in CPU seconds, like the job costs: this process's
    # (interpreter start, imports, session building) plus the JVM's up to
    # the ready session
    setup_s = import_cpu + time.process_time() - c + cpu_s(jvm_pid())
    print(json.dumps({"workload": workload, "seed": seed, "settings": SETTINGS, "gen_s": round(gen_s, 3),
                      "setup_wall_s": round(setup_wall, 3)}), flush=True)

    pid = jvm_pid()
    rss = RssSampler(pid)
    try:
        if trace:
            from spans import Tracer

            tracer = Tracer(spark, CORES, f"{workload}-seed{seed}")
            tracer.add("session", T_START, T_START + setup_wall)
            if workload == "crawl_build":
                result, extra = traced_crawl_build(spark, inputs, tracer)
            else:
                result, extra = traced_incremental_update(spark, inputs, tracer, seconds)
            tracer.write(os.path.join(WORK, f"spans-{workload}-seed{seed}.jsonl"))
            metrics = {**tracer.layer_metrics(), **extra, "session.cold_job_cpu_s": result["cold"].cpu}
        else:
            result = (crawl_build if workload == "crawl_build" else incremental_update)(spark, inputs, seconds)
            metrics = end_to_end(result, setup_s, rss.stop())
    finally:
        rss.stop()
        from pyspark.sql import SparkSession

        active = SparkSession.getActiveSession()
        stop_session(active or spark)

    expected = per_layer_names() if trace else list(END_TO_END)
    if sorted(metrics) != sorted(expected):
        raise RuntimeError(f"kgbench: metric set drifted: {sorted(set(metrics) ^ set(expected))}")
    attempted = len(result["checks"])
    failed = sum(1 for c in result["checks"] if not c["ok"])
    return {
        "correct": failed == 0 and result["final"]["ok"],
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": unit_of(k)} for k, v in metrics.items()},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=30)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.workload == "all":
        # one process per workload: every run gets its own fresh session
        worst = 0
        for w in WORKLOADS:
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", w, "--seed", str(args.seed),
                   "--seconds", str(args.seconds), "--trace", str(args.trace)]
            worst = max(worst, subprocess.run(cmd).returncode)
        return worst
    print(json.dumps(run(args.workload, args.seed, args.seconds, bool(args.trace))), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
