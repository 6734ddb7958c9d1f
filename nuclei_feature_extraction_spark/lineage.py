"""Per-partition lineage + run metrics.

The reference's only observability is an AtomicU32 progress counter
(/root/reference/src/main.rs:145-157) and debug-level stage timings; the
north rule requires per-partition lineage and row-count/latency metrics.

- ``observed``          : attach a Spark ``Observation`` collecting row
  count, null-key count, and ts bounds in the SAME pass as the action
  (no extra job — the A15 analog done right).
- ``partition_metrics`` : per-partition row counts + per-conversation
  spread (one cheap extra aggregation over ``spark_partition_id()``).
- ``RunMetrics``        : wall-clock + rows → turns/sec, serialized to
  JSON next to the output (consumed by checkpoint.py manifests).
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import asdict, dataclass

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


def observed(
    df: DataFrame,
    ts_col: str = "ts",
    key_col: str = "conv_id",
) -> tuple[DataFrame, Observation]:
    """Attach an Observation; read ``obs.get`` AFTER an action runs."""
    obs = Observation("nfx_metrics")
    out = df.observe(
        obs,
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.col(key_col).isNull().cast("long")).alias("null_keys"),
        F.min(ts_col).alias("min_ts"),
        F.max(ts_col).alias("max_ts"),
    )
    return out, obs


def observation_get_bounded(
    obs: Observation, timeout_s: float = 30.0
) -> tuple[bool, dict]:
    """``Observation.get`` with a deadline → ``(completed, metrics)``.

    ``Observation.get`` blocks until the observed plan's FIRST action
    finishes; a caller that harvests before any action ran would hang
    the driver forever. This reads it on a daemon thread and joins with
    a timeout, so misuse degrades to ``(False, {})`` and the caller can
    fall back to an eager job instead of deadlocking. KNOWN LEAK on
    that degraded path: the abandoned daemon thread stays parked inside
    the JVM-blocking ``get`` holding one py4j gateway connection — a
    long-lived driver that times out repeatedly accumulates one blocked
    thread + connection per timeout, so treat a timeout as a bug signal
    (an action should have run first), not a steady state. Two further
    wrinkles are folded into the same contract: when AQE's
    empty-relation propagation drops the ``CollectMetrics`` node the
    JVM row is empty and ``get`` raises an assertion — that returns
    ``(True, {})`` here; and per-metric ``None`` values (null SQL sums
    over zero rows) are left to the caller to coalesce."""
    import threading

    box: dict = {}

    def _read():
        try:
            box["got"] = obs.get
        except Exception:
            box["got"] = {}

    t = threading.Thread(target=_read, daemon=True, name="nfx-obs-get")
    t.start()
    t.join(timeout_s)
    if t.is_alive():
        # the JVM-side wait keeps the daemon thread parked; it dies
        # with the process and never touches `box` visible to us again
        return False, {}
    return True, box.get("got") or {}


_STAGE_TOTAL_KEYS = (
    "core_seconds", "cpu_seconds", "shuffle_read_mb", "shuffle_write_mb",
    "fetch_wait_seconds", "shuffle_write_seconds", "deserialize_seconds",
    "gc_seconds", "spill_mb", "tasks", "failed_tasks", "stages",
)


def executor_stage_totals(spark) -> dict:
    """CUMULATIVE executor-side stage metrics from the live
    AppStatusStore (the web-UI's data source — works headless):
    core-seconds (Σ executorRunTime), CPU-seconds (Σ executorCpuTime),
    shuffle read/write MB, spill MB, task counts. Snapshot before and
    after a pipeline stage and diff (:func:`stage_metrics_delta`) to
    attribute core-second burn / shuffle volume to THAT stage — the
    falsifier for "is the N→4N core-seconds inflation DRAM contention
    or a specific stage's plan" (VERDICT r6 ask #3).

    Caveats: the store retains ``spark.ui.retainedStages`` (default
    1000) stages — totals under-count once eviction starts on very long
    sessions; and SKIPPED stages report zero (their work was done in an
    earlier stage's numbers)."""
    sc = spark.sparkContext
    jvm, gw = sc._jvm, sc._gateway
    # the status store is fed by the ASYNC listener bus: snapshot taken
    # right after an action returns can miss in-flight TaskEnd/
    # StageCompleted events and mis-attribute that work to the next
    # stage boundary — drain the bus first (bounded; best-effort)
    try:
        sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    except Exception:
        pass
    ss = sc._jsc.sc().statusStore()
    lst = ss.stageList(
        jvm.java.util.ArrayList(), False, False,
        gw.new_array(jvm.double, 0), jvm.java.util.ArrayList(),
    )
    # one JSON string for the whole list (the REST API's own Jackson +
    # Scala module), not ~13 py4j round trips per stage: 0.20-0.33 s
    # vs 0.88 s at 1,000 retained stages (local[2], 4-core VM). The
    # Scala module is reached as its MODULE$ singleton; py4j does not
    # resolve the plain class name.
    mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
    mapper.registerModule(getattr(
        getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$"),
        "MODULE$",
    ))
    tot = dict.fromkeys(_STAGE_TOTAL_KEYS, 0.0)
    for st in json.loads(mapper.writeValueAsString(lst)):
        tot["core_seconds"] += st["executorRunTime"] / 1e3
        tot["cpu_seconds"] += st["executorCpuTime"] / 1e9
        tot["shuffle_read_mb"] += st["shuffleReadBytes"] / 1e6
        tot["shuffle_write_mb"] += st["shuffleWriteBytes"] / 1e6
        # shuffle I/O + overhead TIME terms (the standalone-vs-local
        # overhead decomposition): fetch wait + write are real I/O
        # stalls, deserialize + GC are per-task JVM overhead
        tot["fetch_wait_seconds"] += st["shuffleFetchWaitTime"] / 1e3
        tot["shuffle_write_seconds"] += st["shuffleWriteTime"] / 1e9
        tot["deserialize_seconds"] += st["executorDeserializeTime"] / 1e3
        tot["gc_seconds"] += st["jvmGcTime"] / 1e3
        tot["spill_mb"] += (
            st["memoryBytesSpilled"] + st["diskBytesSpilled"]
        ) / 1e6
        tot["tasks"] += st["numCompleteTasks"]
        tot["failed_tasks"] += st["numFailedTasks"]
        tot["stages"] += 1
    return {k: round(v, 3) for k, v in tot.items()}


def stage_metrics_delta(before: dict, after: dict) -> dict:
    """Per-pipeline-stage attribution: ``after - before`` of two
    :func:`executor_stage_totals` snapshots."""
    return {
        k: round(after.get(k, 0.0) - before.get(k, 0.0), 3)
        for k in _STAGE_TOTAL_KEYS
    }


def partition_metrics(df: DataFrame, key_col: str = "conv_id") -> DataFrame:
    """Row count + distinct-conversation count per physical partition —
    the skew diagnostic (a heavy conv shows up as one fat partition)."""
    return (
        df.withColumn("partition_id", F.spark_partition_id())
        .groupBy("partition_id")
        .agg(
            F.count(F.lit(1)).alias("rows"),
            F.approx_count_distinct(key_col).alias("approx_convs"),
        )
        .orderBy("partition_id")
    )


def asof_match_stats(
    joined: DataFrame, probe_col: str, key_col: str = "conv_id"
) -> DataFrame:
    """Per-partition matched/unmatched counts after a LEFT as-of join —
    the drop-counter the reference lacks (it silently filter_maps failed
    lookups away, /root/reference/src/utils.rs:110-126). ``probe_col``
    is any right-side value column (null ⇔ no match)."""
    return (
        joined.withColumn("partition_id", F.spark_partition_id())
        .groupBy("partition_id")
        .agg(
            F.count(F.lit(1)).alias("rows"),
            F.sum(F.col(probe_col).isNull().cast("long")).alias("unmatched"),
            F.approx_count_distinct(key_col).alias("approx_convs"),
        )
        .orderBy("partition_id")
    )


def kernel_backend() -> str:
    """Which grouped-scan backend the kernel hot path bound at import:
    ``'cython'`` when the direct ``pandas._libs.groupby`` bindings passed
    their semantics probe (``kernels._probe_cython_groupby``), ``'public'``
    when the ~1.5× slower public-API fallback is active. Surfaced in every
    run manifest so a silent fallback flip (e.g. a pandas upgrade renaming
    the private kernels) is VISIBLE in ops, not just slower."""
    from nuclei_feature_extraction_spark.functions.kernels import (
        _GROUP_CUMSUM,
    )

    return "cython" if _GROUP_CUMSUM is not None else "public"


@dataclass
class RunMetrics:
    rows: int
    wall_seconds: float
    rows_per_sec: float
    null_keys: int
    min_ts: str
    max_ts: str
    # operator-level audits (e.g. LSH bucket-cap drop counts from the
    # dedup operators' ``audit={}`` hook) — capped drops must surface
    # in the run manifest, never only in an opt-in side query
    audits: dict | None = None
    # grouped-scan backend bound by the kernel hot path (driver probe;
    # executors share the container image, so it is representative)
    kernel_backend: str = ""

    def write(self, out_dir: str, name: str = "metrics.json") -> str:
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, name)
        with open(path, "w") as fh:
            json.dump(asdict(self), fh, indent=2, default=str)
        return path


def run_with_metrics(
    df: DataFrame,
    action,
    ts_col: str = "ts",
    key_col: str = "conv_id",
    audits: dict | None = None,
) -> tuple[object, RunMetrics]:
    """Run ``action(observed_df)`` and harvest metrics from the same
    pass (row count etc. cost nothing extra). ``audits`` (e.g. the dict
    filled by a dedup operator's ``audit={}`` hook) rides into the
    serialized metrics verbatim."""
    odf, obs = observed(df, ts_col, key_col)
    t0 = time.perf_counter()
    result = action(odf)
    dt = time.perf_counter() - t0
    got = obs.get
    rows = int(got["rows"]) if got["rows"] is not None else 0
    return result, RunMetrics(
        rows=rows,
        wall_seconds=round(dt, 3),
        rows_per_sec=round(rows / dt, 1) if dt > 0 else 0.0,
        null_keys=int(got["null_keys"] or 0),
        min_ts=str(got["min_ts"]),
        max_ts=str(got["max_ts"]),
        audits=audits,
        kernel_backend=kernel_backend(),
    )
