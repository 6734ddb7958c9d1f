"""Real Spark STANDALONE cluster on this box (VERDICT r5 ask #6).

Everything else in this repo runs ``local[N]`` — one JVM, threads, no
real shuffle I/O. This tool launches an actual ``spark://`` master plus
two worker JVMs (straight from the pip-installed pyspark jars — the
wheel ships no sbin launcher scripts), submits the flagship transcript
pipeline to it with the packaged ``dist/nfx.zip`` shipped via
``addPyFile``, and records the evidence a cluster deployment needs:
executor count, per-executor cores, wall, throughput, and the stage
breakdown — i.e. real executor-to-executor shuffles, py-files
distribution to separate worker processes, and driver/executor
serialization boundaries.

Usage: python tools/scaling_bench.py --mode standalone [--scale bench]
   or: python tools/standalone_cluster.py [scale]
"""

from __future__ import annotations

import glob
import json
import os
import socket
import subprocess
import sys
import time
from contextlib import contextmanager

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

MASTER_PORT = 7707
N_WORKERS = 2
WORKER_CORES = 8
WORKER_MEM = "16g"


def _java() -> str:
    jh = os.environ.get("JAVA_HOME")
    return os.path.join(jh, "bin", "java") if jh else "java"


def _jars_cp() -> str:
    import pyspark

    return os.path.join(os.path.dirname(pyspark.__file__), "jars", "*")


def _wait_port(port: int, timeout: float = 30.0) -> None:
    t0 = time.time()
    while time.time() - t0 < timeout:
        with socket.socket() as s:
            s.settimeout(1.0)
            try:
                s.connect(("127.0.0.1", port))
                return
            except OSError:
                time.sleep(0.5)
    raise RuntimeError(f"port {port} never came up")


def launch_cluster(log_dir: str) -> list[subprocess.Popen]:
    """Master + N_WORKERS worker JVMs; returns the processes (caller
    terminates). Workers inherit PYSPARK_PYTHON so executors use THIS
    interpreter."""
    os.makedirs(log_dir, exist_ok=True)
    env = dict(
        os.environ,
        PYSPARK_PYTHON=sys.executable,
        SPARK_LOCAL_IP="127.0.0.1",
        SPARK_NO_DAEMONIZE="1",
        # the worker builds executor commands via the launcher library,
        # which resolves the scala suffix from SPARK_SCALA_VERSION or a
        # source-tree layout; a direct-java launch (no load-spark-env.sh)
        # must pin it or executor launch dies with "Cannot find any
        # build directories"
        SPARK_SCALA_VERSION="2.13",
    )
    procs = []
    cp = _jars_cp()
    procs.append(subprocess.Popen(
        [_java(), "-cp", cp, "-Xmx1g",
         "org.apache.spark.deploy.master.Master",
         "--host", "127.0.0.1", "--port", str(MASTER_PORT),
         "--webui-port", "8580"],
        stdout=open(os.path.join(log_dir, "master.log"), "w"),
        stderr=subprocess.STDOUT, env=env,
    ))
    _wait_port(MASTER_PORT)
    for i in range(N_WORKERS):
        procs.append(subprocess.Popen(
            [_java(), "-cp", cp, "-Xmx1g",
             "org.apache.spark.deploy.worker.Worker",
             "--cores", str(WORKER_CORES), "--memory", WORKER_MEM,
             "--webui-port", str(8581 + i), "--port", str(7801 + i),
             f"spark://127.0.0.1:{MASTER_PORT}"],
            stdout=open(os.path.join(log_dir, f"worker{i}.log"), "w"),
            stderr=subprocess.STDOUT, env=env,
        ))
    return procs


def ensure_zip() -> str:
    """Build and return the --py-files package zip. Always rebuilt from
    the source tree: a zip left by an older checkout ships stale
    modules."""
    zip_path = os.path.join(REPO, "dist", "nfx.zip")
    subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "package.py")],
        check=True, cwd=REPO,
    )
    return zip_path


def connect_standalone(
    app_name: str = "nfx-standalone",
    ship_entry: bool = False,
    shuffle_partitions: int | None = None,
):
    """Build the spark:// session against an ALREADY-RUNNING master with
    the canonical executor conf, shipping the package zip (and
    optionally ``__spark_entry__.py``) to the worker JVMs. The single
    source of truth for the topology recipe — the bench, the parity
    tool and the pytest smoke must all measure/verify the SAME cluster
    configuration."""
    from nuclei_feature_extraction_spark.session import get_spark

    os.environ["PYSPARK_PYTHON"] = sys.executable
    spark = get_spark(
        master=f"spark://127.0.0.1:{MASTER_PORT}",
        shuffle_partitions=shuffle_partitions
        or 4 * N_WORKERS * WORKER_CORES,
        app_name=app_name,
        extra_conf={
            "spark.executor.cores": str(WORKER_CORES),
            "spark.executor.memory": "14g",
            "spark.driver.host": "127.0.0.1",
            "spark.scheduler.maxRegisteredResourcesWaitingTime": "60s",
            "spark.scheduler.minRegisteredResourcesRatio": "1.0",
        },
    )
    spark.sparkContext.addPyFile(ensure_zip())
    if ship_entry:
        spark.sparkContext.addPyFile(os.path.join(REPO, "__spark_entry__.py"))
    return spark


def stop_cluster(procs: list) -> None:
    for p in reversed(procs):
        p.terminate()
    for p in procs:
        try:
            p.wait(timeout=10)
        except subprocess.TimeoutExpired:
            p.kill()


@contextmanager
def standalone_session(
    log_dir: str = "/tmp/nfx_standalone_logs",
    app_name: str = "nfx-standalone",
    ship_entry: bool = False,
    shuffle_partitions: int | None = None,
):
    """Launch master + workers, yield a connected session, tear both
    down — the one-stop cluster recipe for tools and tests."""
    procs = launch_cluster(log_dir)
    spark = None
    try:
        spark = connect_standalone(app_name, ship_entry, shuffle_partitions)
        yield spark
    finally:
        if spark is not None:
            try:
                spark.stop()
            except Exception:
                pass
        stop_cluster(procs)


def standalone_bench(scale: str = "bench") -> dict:
    from bench import _force, transcript_pipeline
    from nuclei_feature_extraction_spark.fixtures import fixtures_dir
    from nuclei_feature_extraction_spark.session import get_spark

    ensure_zip()
    log_dir = "/tmp/nfx_standalone_logs"
    procs = launch_cluster(log_dir)
    try:
        spark = connect_standalone()
        d = fixtures_dir(scale)
        n = spark.read.parquet(f"{d}/transcripts.parquet").count()
        # PySpark's StatusTracker has no executor listing — the master's
        # REST JSON is the ground truth for worker/executor placement
        import urllib.request

        minfo = json.loads(
            urllib.request.urlopen(
                "http://127.0.0.1:8580/json/", timeout=10
            ).read()
        )
        workers = [w for w in minfo.get("workers", []) if w["state"] == "ALIVE"]
        # block-manager registrations: driver + one entry per executor
        n_block_managers = (
            spark.sparkContext._jsc.sc().getExecutorMemoryStatus().size()
        )
        from nuclei_feature_extraction_spark.lineage import (
            executor_stage_totals,
            stage_metrics_delta,
        )

        # WARM BEST-OF-3 under the repo's noise protocol (VERDICT r6
        # ask #5) — the round-6 row was a single cold pass, which
        # conflated Python-worker cold start with steady-state topology
        # cost. Per-pass executor deltas decompose the wall into
        # compute (CPU), shuffle I/O (fetch wait + write time) and
        # JVM overhead (deserialize + GC); pass-1-minus-best is the
        # cold-start term.
        _force(transcript_pipeline(spark, d).limit(20_000))  # warmup
        passes = []
        for _ in range(3):
            before = executor_stage_totals(spark)
            t0 = time.perf_counter()
            _force(transcript_pipeline(spark, d))
            w = time.perf_counter() - t0
            passes.append({
                "wall": round(w, 2),
                "executor": stage_metrics_delta(
                    before, executor_stage_totals(spark)
                ),
            })
        best = min(passes, key=lambda p: p["wall"])
        wall = best["wall"]
        total_cores = N_WORKERS * WORKER_CORES
        ex = best["executor"]
        decomposition = {
            "compute_cpu_seconds": ex["cpu_seconds"],
            "shuffle_io_seconds": round(
                ex["fetch_wait_seconds"] + ex["shuffle_write_seconds"], 3
            ),
            "jvm_overhead_seconds": round(
                ex["deserialize_seconds"] + ex["gc_seconds"], 3
            ),
            "core_occupancy": round(
                ex["core_seconds"] / (wall * total_cores), 3
            ),
            "cpu_share_of_occupied": round(
                ex["cpu_seconds"] / max(ex["core_seconds"], 1e-9), 3
            ),
            "cold_start_seconds": round(passes[0]["wall"] - wall, 2),
            "python_worker_reuse": spark.conf.get(
                "spark.python.worker.reuse", "true(default)"
            ),
        }
        tracker = spark.sparkContext.statusTracker()
        stages = len(tracker.getJobIdsForGroup(None) or [])
        result = {
            "mode": "standalone",
            "master": f"spark://127.0.0.1:{MASTER_PORT}",
            "workers_alive": len(workers),
            "worker_addresses": sorted(
                f"{w['host']}:{w['port']}" for w in workers
            ),
            "worker_cores_used": sum(w["coresused"] for w in workers),
            "executors": max(n_block_managers - 1, 0),
            "default_parallelism": spark.sparkContext.defaultParallelism,
            "worker_cores": WORKER_CORES,
            "scale": scale,
            "rows": n,
            "wall": round(wall, 2),
            "turns_per_sec": round(n / wall, 1),
            "passes": [p["wall"] for p in passes],
            "executor_best_pass": ex,
            "decomposition": decomposition,
            "py_files": ["nfx.zip"],
            "jobs_seen": stages,
        }
        spark.stop()
        # SAME-WINDOW local[total_cores] control (apples-to-apples box
        # state): the standalone-vs-local multiplier is only meaningful
        # measured back-to-back
        spark = get_spark(
            master=f"local[{total_cores}]",
            shuffle_partitions=4 * total_cores,
            app_name="nfx-standalone-localctrl",
        )
        _force(transcript_pipeline(spark, d).limit(20_000))
        lwalls = []
        for _ in range(3):
            t0 = time.perf_counter()
            _force(transcript_pipeline(spark, d))
            lwalls.append(round(time.perf_counter() - t0, 2))
        spark.stop()
        lbest = min(lwalls)
        result["local_control"] = {
            "master": f"local[{total_cores}]",
            "passes": lwalls,
            "wall": lbest,
            "turns_per_sec": round(n / lbest, 1),
        }
        result["standalone_over_local"] = round(wall / lbest, 2)
        return result
    finally:
        stop_cluster(procs)


if __name__ == "__main__":
    print(json.dumps(standalone_bench(
        sys.argv[1] if len(sys.argv) > 1 else "bench"
    )))
