"""Measurement plumbing for the benchmark: the process environment the
JVM and its Python workers inherit, the RSS sampler, readers over
Spark's own status stores, and the span tracer.

Everything here observes the engine from outside. It times calls into
public functions and reads what Spark recorded about the jobs, stages
and SQL plans those calls ran; no engine code is patched.
"""

from __future__ import annotations

import os
import re
import signal
import statistics
import subprocess
import sys
import threading
import time
from contextlib import contextmanager, nullcontext

GIB = 1 << 30


# ------------------------------------------------------------ environment

def mem_total_bytes() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("no MemTotal line in /proc/meminfo")


def driver_heap_mb(mem_total: int) -> int:
    """An eighth of physical RAM, clamped to 1-8 GiB. The session's 48g
    default lets the JVM outgrow a 15 GB box and get OOM-killed."""
    return min(max(mem_total // 8, GIB), 8 * GIB) >> 20


def prepare_env(root: str, run_dir: str, tmp_dir: str) -> dict:
    """Point the session at this checkout before the JVM starts, and
    return the settings for the result record.

    - ``PYTHONPATH`` gets the checkout root, so Python workers import
      the package whatever their working directory is.
    - ``TMPDIR`` (Python temp files, the compiled-kernel cache) and
      ``spark.local.dir`` (shuffle and broadcast files) live under the
      checkout instead of ``/tmp`` and the session's RAM-backed
      ``/dev/shm`` default, so a run writes nothing outside its
      checkout. Shuffle files then go to the checkout's disk: the
      ``exchange`` timings measure that disk, not RAM.
    - The driver heap is sized from MemTotal through ``NFX_DRIVER_MEM``;
      the JVM grows its heap as it needs, as under the session's own
      settings.
    """
    import tempfile

    local_dir = os.path.join(run_dir, "spark-local")
    for d in (tmp_dir, local_dir):
        os.makedirs(d, exist_ok=True)
    heap = f"{driver_heap_mb(mem_total_bytes())}m"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # the short-lived launcher JVM of spark-submit would otherwise leave
    # an hsperfdata file in /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = " ".join(
        p for p in (os.environ.get("SPARK_LAUNCHER_OPTS"), "-XX:-UsePerfData")
        if p
    )
    os.environ["TMPDIR"] = tmp_dir
    tempfile.tempdir = tmp_dir
    os.environ["NFX_DRIVER_MEM"] = heap
    os.environ["NFX_LOCAL_DIR"] = local_dir
    return {
        "cores": len(os.sched_getaffinity(0)),
        "mem_total_mb": mem_total_bytes() >> 20,
        "driver_heap": heap,
        "spark_local_dir": local_dir,
    }


def session_conf(run_dir: str, tmp_dir: str) -> dict:
    """Confs passed through ``get_spark(extra_conf=...)``.

    - Every file the JVM writes stays inside the checkout
      (``-XX:-UsePerfData`` stops the hsperfdata file in ``/tmp``).
    - No console progress bar.
    """
    return {
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp_dir} -XX:-UsePerfData",
        "spark.hadoop.hadoop.tmp.dir": os.path.join(run_dir, "hadoop"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }


def git_sha(root: str) -> str:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
            text=True, timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def versions() -> dict:
    import numpy
    import pandas
    import pyarrow
    import pyspark

    return {
        "python": sys.version.split()[0], "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__, "pandas": pandas.__version__,
        "numpy": numpy.__version__,
    }


# ------------------------------------------------------------ processes

def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces: fields resume after ')'
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def engine_cpu_s() -> float:
    """CPU time (user plus system) used so far by every process below
    this one, the Spark JVM and its Python daemon and workers, counting
    the exited workers their daemon has reaped. Time the hypervisor
    steals from the machine is not in it, unlike in wall or task times."""
    ticks = 0
    for pid in descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # utime, stime, cutime, cstime: fields 14-17
        ticks += sum(map(int, stat[stat.rindex(")") + 2:].split()[11:15]))
    return ticks / os.sysconf("SC_CLK_TCK")


def _pss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak resident memory of every process below this one: the Spark
    JVM and its Python daemon and workers. ``getrusage(RUSAGE_CHILDREN)``
    cannot see them while the JVM is alive, so ``/proc`` is sampled.
    Each process counts its proportional set size (PSS), so pages that
    forked workers share with their parent count once, not per process
    as a plain RSS sum would count them."""

    def __init__(self, interval_s: float = 0.1) -> None:
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, sum(map(_pss_bytes, descendants(me))))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def stop_spark() -> None:
    """Stop the active session, end its JVM and wait until every process
    this one started is gone. Safe to call when start-up failed half way."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        # the gateway JVM exits when its stdin closes
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    for sig, wait_s in ((signal.SIGTERM, 30), (signal.SIGKILL, 10)):
        for pid in descendants(os.getpid()):
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + wait_s
        while descendants(os.getpid()) and time.monotonic() < deadline:
            time.sleep(0.1)
        if not descendants(os.getpid()):
            return


# ------------------------------------------------------------ status stores

# Spark renders SQL metrics as text: "1,234" (sum), "17 ms" / "1.2 s"
# (timing), "1400.6 KiB" (size), or for per-task metrics
# "total (min, med, max (stageId: taskId))\n<total> (<min>, <med>, <max> (...))"
_QTY = re.compile(r"([\d.,]+) (B|KiB|MiB|GiB|TiB|ms|s|m|h)\b")
_SCALE = {
    "B": 1e-6, "KiB": 1024 / 1e6, "MiB": 1024**2 / 1e6, "GiB": 1024**3 / 1e6,
    "TiB": 1024**4 / 1e6, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}


def parse_metric(text: str) -> tuple[float, float]:
    """SQL metric text -> (total, largest task value). Sizes come back
    in MB (1e6 bytes), times in seconds, counts as counts."""
    last = text.split("\n")[-1]
    qty = [float(n.replace(",", "")) * _SCALE[u] for n, u in _QTY.findall(last)]
    if not qty:
        v = float(last.replace(",", ""))
        return v, v
    return qty[0], qty[3] if len(qty) >= 4 else qty[0]


# node name -> the metrics read from it (the rest are skipped: each
# read is a JVM round trip)
_NODE_METRICS = {
    "scan": ("size of files read", "scan time"),
    "write": ("written output", "task commit time", "job commit time"),
    "sort": ("sort time", "peak memory"),
    "python": (
        "data sent to Python workers", "data returned from Python workers",
        "time to start Python workers", "time to initialize Python workers",
        "time to run Python workers",
    ),
}


def _node_kind(name: str) -> str | None:
    if name.startswith("Scan "):
        return "scan"
    if name.startswith("Execute InsertInto"):
        return "write"
    if name == "Sort":
        return "sort"
    if name.startswith(("MapInArrow", "MapInPandas", "ArrowEvalPython",
                        "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas",
                        "BatchEvalPython")):
        return "python"
    if name == "Exchange":
        return "exchange"
    return None


def _seq(jseq) -> list:
    return [jseq.apply(i) for i in range(jseq.size())]


def _opt_ms(jopt) -> float | None:
    return jopt.get().getTime() / 1e3 if jopt.isDefined() else None


class StatusReader:
    """Reads the jobs, stages and SQL executions Spark recorded since
    the last ``mark``, from the live status stores (they work with the
    UI disabled). Executor totals come from
    ``lineage.executor_stage_totals``; this reader adds what that one
    lacks: SQL plan-node metrics, job times and per-stage task skew."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._sc = sc._jsc.sc()
        self._jvm = sc._jvm
        self._gw = sc._gateway
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._seen = {"exec": -1, "job": -1, "stage": -1}
        self.mark()

    def _lists(self) -> dict:
        try:
            self._sc.listenerBus().waitUntilEmpty(10_000)
        except Exception:  # bounded drain; a late event only shifts attribution
            pass
        store = self._sc.statusStore()
        stage_list = store.stageList(
            self._jvm.java.util.ArrayList(), False, False,
            self._gw.new_array(self._jvm.double, 0),
            self._jvm.java.util.ArrayList(),
        )
        return {
            "exec": (_seq(self._sql.executionsList()), lambda e: e.executionId()),
            "job": (_seq(store.jobsList(None)), lambda j: j.jobId()),
            "stage": (_seq(stage_list), lambda s: s.stageId()),
        }

    def mark(self) -> None:
        """Count everything recorded until now as seen."""
        for kind, (items, key) in self._lists().items():
            self._seen[kind] = max(map(key, items), default=self._seen[kind])

    def read(self) -> dict:
        """-> {"executions", "jobs", "stages"} recorded since ``mark``."""
        new = {
            kind: [x for x in items if key(x) > self._seen[kind]]
            for kind, (items, key) in self._lists().items()
        }
        execs = []
        for e in new["exec"]:
            eid = e.executionId()
            values = self._sql.executionMetrics(eid)
            nodes = []
            for n in _seq(self._sql.planGraph(eid).allNodes()):
                kind = _node_kind(n.name())
                if kind is None:
                    continue
                node = {"kind": kind, "name": n.name(), "metrics": {}}
                if kind == "scan":
                    node["desc"] = n.desc()
                wanted = _NODE_METRICS.get(kind, ())
                for m in _seq(n.metrics()) if wanted else ():
                    if m.name() in wanted:
                        v = values.get(m.accumulatorId())
                        if v.isDefined():
                            node["metrics"][m.name()] = parse_metric(v.get())
                nodes.append(node)
            execs.append({
                "id": eid, "submitted": e.submissionTime() / 1e3,
                "nodes": nodes,
            })
        jobs = [
            {"id": j.jobId(), "submitted": _opt_ms(j.submissionTime()),
             "completed": _opt_ms(j.completionTime())}
            for j in new["job"]
        ]
        store = self._sc.statusStore()
        stages = [
            {"id": s.stageId(), "attempt": s.attemptId(),
             "run_s": s.executorRunTime() / 1e3,
             "shuffle_read_mb": s.shuffleReadBytes() / 1e6,
             "task_skew": self._task_skew(store, s)}
            for s in new["stage"]
        ]
        return {"executions": execs, "jobs": jobs, "stages": stages}

    def _task_skew(self, store, stage) -> float:
        """Largest over median task run time of one stage."""
        qs = self._gw.new_array(self._jvm.double, 2)
        qs[0], qs[1] = 0.5, 1.0
        summary = store.taskSummary(stage.stageId(), stage.attemptId(), qs)
        if not summary.isDefined():
            return 0.0
        run = summary.get().executorRunTime()
        med, top = run.apply(0), run.apply(1)
        return top / med if med > 0 else 0.0


# ------------------------------------------------------------ tracing

class Tracer:
    """Spans around the benchmark's calls into the engine: name, kind,
    start, end and parent span. Disabled, ``span`` is a no-op, so the
    untraced passes run the same code path without the bookkeeping."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def span(self, name: str, kind: str = "call"):
        if not self.enabled:
            return nullcontext({})
        return self._span(name, kind)

    @contextmanager
    def _span(self, name: str, kind: str):
        rec = {
            "id": len(self.spans), "name": name, "kind": kind,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.time(), "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    return total + (cur_hi - cur_lo if cur_hi is not None else 0.0)


def pass_layers(
    status: dict, spans: list[dict], totals: dict, t0: float, t1: float,
    input_dir: str, input_mb: float,
) -> dict:
    """Layer metrics of one traced pass from what the status stores
    recorded during it (``status``), the executor stage-total delta
    (``totals``) and the pass's spans. ``[t0, t1]`` is the pass window
    in epoch seconds."""
    plan_spans = [(s["start"], s["end"]) for s in spans if s["kind"] == "plan"]

    def in_plan(t: float) -> bool:
        return any(lo <= t <= hi for lo, hi in plan_spans)

    acc = dict.fromkeys((
        "exchange.count", "sources.scan_mb", "sources.scan_s",
        "sources.write_mb", "sources.write_s", "window.sort_s",
        "python.bytes_in_mb", "python.bytes_out_mb", "python.start_s",
        "python.init_s", "python.run_s",
    ), 0.0)

    def add(key: str, v: float) -> None:
        acc[key] += v

    run_max = sort_peak = 0.0
    for e in status["executions"]:
        for n in e["nodes"]:
            m, kind = n["metrics"], n["kind"]
            if kind == "exchange" and not in_plan(e["submitted"]):
                add("exchange.count", 1)
            elif kind == "scan" and input_dir in n.get("desc", ""):
                add("sources.scan_mb", m.get("size of files read", (0, 0))[0])
                add("sources.scan_s", m.get("scan time", (0, 0))[0])
            elif kind == "write":
                add("sources.write_mb", m.get("written output", (0, 0))[0])
                add("sources.write_s", m.get("task commit time", (0, 0))[0]
                    + m.get("job commit time", (0, 0))[0])
            elif kind == "sort":
                add("window.sort_s", m.get("sort time", (0, 0))[0])
                sort_peak = max(sort_peak, m.get("peak memory", (0, 0))[1])
            elif kind == "python":
                for key, name in (
                    ("python.bytes_in_mb", "data sent to Python workers"),
                    ("python.bytes_out_mb", "data returned from Python workers"),
                    ("python.start_s", "time to start Python workers"),
                    ("python.init_s", "time to initialize Python workers"),
                    ("python.run_s", "time to run Python workers"),
                ):
                    add(key, m.get(name, (0, 0))[0])
                run_max = max(run_max, m.get("time to run Python workers",
                                             (0, 0))[1])
    jobs = [(max(j["submitted"], t0), min(j["completed"] or t1, t1))
            for j in status["jobs"] if j["submitted"] is not None]
    shuffled = [s for s in status["stages"] if s["shuffle_read_mb"] > 0]
    heaviest = max(shuffled, key=lambda s: s["run_s"], default=None)
    return {
        **acc,
        "sources.scan_amplification":
            acc["sources.scan_mb"] / input_mb if input_mb else 0.0,
        "window.sort_peak_mb": sort_peak,
        "python.run_max_task_s": run_max,
        "exchange.task_skew": heaviest["task_skew"] if heaviest else 0.0,
        "exchange.shuffle_write_mb": totals["shuffle_write_mb"],
        "exchange.shuffle_read_mb": totals["shuffle_read_mb"],
        "exchange.write_s": totals["shuffle_write_seconds"],
        "exchange.fetch_wait_s": totals["fetch_wait_seconds"],
        "exchange.spill_mb": totals["spill_mb"],
        "driver.jobs": float(len(status["jobs"])),
        "driver.stages": totals["stages"],
        "driver.tasks": totals["tasks"],
        "driver.gap_s": max(
            (t1 - t0) - _union_s([(lo, hi) for lo, hi in jobs if hi > lo]),
            0.0),
        "executor.core_s": totals["core_seconds"],
        "executor.cpu_s": totals["cpu_seconds"],
        "executor.gc_s": totals["gc_seconds"],
        "executor.failed_tasks": totals["failed_tasks"],
    }


def median_dict(rows: list[dict]) -> dict:
    keys = {k for r in rows for k in r}
    return {k: statistics.median(r.get(k, 0.0) for r in rows) for k in keys}
