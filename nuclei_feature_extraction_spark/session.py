"""SparkSession factory tuned for the engine.

The reference hard-codes its physical config (rayon pool size,
batch_size=100 — /root/reference/src/args.rs:95-108); here the
equivalents are Spark confs: shuffle partitions ≈ cores, AQE on
(runtime coalesce + skew-join split), Arrow on (every pandas UDF is an
Arrow batch — the analog of the reference's tensor batch), UTC session
timezone (required for DuckDB-oracle parity).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Arrow batch size is the analog of the reference's --batch-size
# (default 100, /root/reference/src/args.rs:105-108). We use a much
# larger batch because Arrow+numpy kernels amortize far better than
# per-patch tensor ops. 50k rows/batch measured as the kernel sweet spot
# (7.2 us/row vs 8.6 at 10k — fixed per-batch costs amortize; beyond
# ~200k the working set falls out of L3).
ARROW_BATCH_ROWS = int(os.environ.get("NFX_ARROW_BATCH_ROWS", 50_000))


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def driver_heap_mb(mem_total: int) -> int:
    """Driver heap in MiB for a host with ``mem_total`` bytes of RAM: an
    eighth of it, clamped to 1-8 GiB. A fixed large heap lets the JVM
    outgrow a small box and get OOM-killed; the JVM still grows its heap
    on demand up to this cap."""
    gib = 1 << 30
    return min(max(mem_total // 8, gib), 8 * gib) >> 20


def get_spark(
    master: str | None = None,
    app_name: str = "nuclei-feature-extraction-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    In this sandbox the "cluster" is ``local[N]``; on a real cluster the
    same confs apply (AQE handles the shuffle-partition count at the
    10^12-turn design point; the explicit setting is the local-mode
    floor).
    """
    # glibc tuning for the Arrow python workers: without it every >128KB
    # numpy temporary is mmap'd and munmap'd, and at high worker counts
    # the kernel page-zeroing + TLB shootdowns serialize everything
    # (measured: 2.3x single-worker speedup, near-flat scaling to 8).
    # Must be in the environment BEFORE the JVM forks the workers.
    os.environ.setdefault("MALLOC_MMAP_THRESHOLD_", str(1 << 30))
    os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", str(1 << 30))

    cores = default_parallelism()
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    if master is None:
        master = f"local[{cores}]"
    if shuffle_partitions is None:
        # 4× the core count, not 1×: with partitions == cores every
        # stage is straggler-bound (one slow/skewed partition stalls
        # all cores, and AQE can coalesce but never split a too-coarse
        # start) and per-task working sets blow the cache. Measured on
        # the 4.2M-doc fuzzy-dedup chain, 8→32 partitions at local[8]
        # cut the wall 94-160 s → 62-78 s, and 2→8 partitions at
        # local[2] cut 295 s → 186 s. AQE coalesces the excess on
        # small stages, so the only cost is scheduler overhead.
        if master.startswith("local[") and master[6:-1].isdigit():
            shuffle_partitions = 4 * int(master[6:-1])
        else:
            shuffle_partitions = 4 * cores

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            str(ARROW_BATCH_ROWS),
        )
        .config(
            "spark.driver.memory",
            os.environ.get("NFX_DRIVER_MEM") or f"{driver_heap_mb(ram)}m",
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    # local-mode shuffle goes through spark.local.dir; a RAM-backed dir
    # removes disk-write contention at high core counts (measured: 32
    # concurrent shuffle writers on the VM disk serialized each other).
    # On a real cluster this maps to fast local NVMe per executor.
    local_dir = os.environ.get("NFX_LOCAL_DIR")
    if local_dir is None and os.path.isdir("/dev/shm"):
        local_dir = "/dev/shm/nfx-spark-local"
    if local_dir:
        os.makedirs(local_dir, exist_ok=True)
        builder = builder.config("spark.local.dir", local_dir)
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

