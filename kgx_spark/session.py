"""SparkSession factory tuned for the kgx_spark engine.

Local-mode defaults mirror what we'd set on a real cluster:
- AQE on (runtime re-plan, skew-join splitting, partition coalescing);
- Arrow on (all Python↔JVM transfer is vectorized);
- UTC session timezone (oracle comparisons against DuckDB are UTC-naive);
- shuffle partitions sized to cores locally (overridden per-job at scale).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Local mode runs every task inside the driver heap; past this size a bigger
# heap buys nothing for the engine's local jobs.
MAX_DRIVER_MEM_MB = 16 * 1024


def default_cpus() -> int:
    """``$SPARK_GRAFT_CPUS``, else the cores this process may run on."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if env:
        return int(env)
    if hasattr(os, "sched_getaffinity"):
        return len(os.sched_getaffinity(0))
    return os.cpu_count() or 1


def default_driver_mem() -> str:
    """``$SPARK_GRAFT_DRIVER_MEM``, else half of the host's MemAvailable,
    capped at 16g — a fixed 16g heap asks for more than a small host has."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemAvailable:"):
                    avail_mb = int(line.split()[1]) // 1024
                    return f"{min(MAX_DRIVER_MEM_MB, avail_mb // 2)}m"
    except OSError:
        pass
    return f"{MAX_DRIVER_MEM_MB}m"


def get_spark(
    app_name: str = "kgx_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    ``master`` defaults to ``local[default_cpus()]``.
    """
    cpus = default_cpus()
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        # local mode: ~1 shuffle partition per core; a real cluster would
        # size this to data volume (see docs/SCALE.md).
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else str(cpus)
        shuffle_partitions = cpus if n == "*" else max(4, int(n))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # don't let AQE coalesce below core count on small-but-CPU-heavy
        # shuffles (local data is MBs; default 1m floor halved parallelism)
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "256k")
        # collect_list/collect_set aggregates (the merge kernel) run as
        # ObjectHashAggregate, which falls back to SORT-based aggregation
        # after a default of only 128 keys — the fallback external-sorts
        # every map task's input (measured 3-4× stage slowdowns, variance
        # from spill behavior). KG merges group on (s,p,o) with ~1e6 keys
        # per task and small per-key state; keep them in the hash path.
        .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "4000000")
        # zstd parquet output: measurably smaller stage snapshots / sink
        # files at equal read speed (optimization guide §6); A/B'd at sf0.1
        # local[32] — pipeline walls at parity (11.2-12.6 s both codecs), so
        # the local bench is unaffected while 100-TB snapshot IO shrinks.
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", default_driver_mem())
        # only consulted by multi-JVM masters (local-cluster / standalone);
        # plain local mode runs tasks inside the driver heap above
        .config("spark.executor.memory", os.environ.get("SPARK_GRAFT_EXECUTOR_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # generated-class cache (static conf, per JVM): a warm crawl build
        # (run_kg_pipeline, link_entities=True, kgbench's 600 pages) needs
        # 131 distinct classes, so Spark's default LRU of 100 evicted each
        # one before the next run asked for it — 131 Janino compiles plus C1
        # JIT of every reloaded class per repeated run. With 1000 entries a
        # repeated run compiles 2 (CodegenMetrics.METRIC_COMPILATION_TIME).
        .config("spark.sql.codegen.cache.maxEntries", "1000")
    )
    # Shuffle/spill directory: a cluster gives each executor local SSDs; a
    # single host may have one slow disk. SPARK_GRAFT_LOCAL_DIR=/dev/shm moves
    # shuffle files to RAM, which pays only when memory holds the shuffle
    # volume beside the driver heap.
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    # JIT code cache headroom (standard practice for codegen-heavy Spark:
    # every whole-stage-codegen query compiles fresh classes, and a
    # long-lived executor serving many queries can exhaust the 240 MB JVM
    # default, silently flipping hot loops to interpreted execution). Our
    # local probes peak at ~38 MB per short job, so this is headroom
    # for production-length sessions, NOT a measured local win — the
    # "stage slow after a prior stage in the same JVM" anomaly investigated
    # in round 6 turned out to track hypervisor steal, not cache pressure
    # (BASELINE.md round-6 scaling notes).
    java_opts = "-XX:ReservedCodeCacheSize=512m"
    builder = builder.config("spark.driver.extraJavaOptions", java_opts)
    builder = builder.config("spark.executor.extraJavaOptions", java_opts)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
