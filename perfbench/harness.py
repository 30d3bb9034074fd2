"""Shared plumbing: the Spark session, scratch space, host readings,
latency statistics and the tracer.

Everything the benchmark writes stays under its checkout: scratch data and
Spark's local and temp dirs under ``perfbench/.work``, sidecar artifacts
under ``perfbench/out``.
"""

from __future__ import annotations

import ctypes
import math
import os
import resource
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
from contextlib import contextmanager
from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parent
ROOT = BENCH_DIR.parent
WORK = BENCH_DIR / ".work"
OUT = BENCH_DIR / "out"


def prepare_process(tag: str) -> Path:
    """Fresh scratch root for this run; points every temp path at it and
    makes the engine package importable here and in Python workers.

    This process also becomes the subreaper of everything it starts, so
    a Python worker whose JVM has exited is re-parented here and
    :func:`stop_processes` can wait for it; SIGTERM unwinds through the
    ``finally`` blocks that stop them."""
    _become_subreaper()
    signal.signal(signal.SIGTERM, _exit_on_signal)
    os.environ["TZ"] = "UTC"  # naive datetimes crossing py4j mean UTC
    time.tzset()
    work = WORK / f"{tag}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    tempfile.tempdir = str(work / "tmp")
    # Every JVM started from here (the launcher and the driver) would
    # otherwise keep a perf-data file under the system temp dir.
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p
    )
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))
    return work


def cpu_count() -> int:
    return len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count() or 1


def driver_heap() -> str:
    """Driver heap sized to the host: an eighth of RAM, within [1g, 4g]."""
    try:
        with open("/proc/meminfo") as f:
            kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    except (OSError, StopIteration, ValueError):
        kb = 8 << 20
    mb = max(1024, min(4096, kb // 1024 // 8))
    return f"{mb}m"


def start_session(work: Path):
    """The engine's own session factory at ``local[nproc]``, with scratch,
    heap and status-store retention set for benchmarking."""
    from incremental_data_pipeline_spark.session import get_spark

    cpus = cpu_count()
    tmp = work / "tmp"
    heap = driver_heap()
    conf = {
        "spark.driver.memory": heap,
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        # A fixed-size heap, so resident memory does not depend on when
        # the collector chose to grow it.
        "spark.driver.extraJavaOptions": f"-Xms{heap} -Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100",
        "spark.ui.showConsoleProgress": "false",
    }
    spark = get_spark(
        app_name="perfbench", master=f"local[{cpus}]", shuffle_partitions=max(cpus, 4),
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_processes(grace_s: float = 30.0) -> None:
    """Stop the Spark session and its JVM, then wait until every process
    started from here has ended, killing what outlives ``grace_s``.

    ``SparkSession.stop`` leaves the JVM running until this process exits
    and its stdin pipe closes; closing the pipe here makes it exit now."""
    from pyspark import SparkContext

    try:
        if SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
    finally:
        gateway, SparkContext._gateway, SparkContext._jvm = SparkContext._gateway, None, None
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the gateway server exits on EOF
            try:
                proc.wait(timeout=grace_s)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        reap_children(grace_s)


def reap_children(grace_s: float) -> None:
    """Wait for every child of this process (orphaned descendants
    included, as their subreaper) to end; SIGKILL those left after
    ``grace_s``."""
    deadline = time.monotonic() + grace_s
    while True:
        kids = _children()
        if not kids:
            return
        late = time.monotonic() > deadline
        for pid in kids:
            try:
                if late:
                    os.kill(pid, signal.SIGKILL)
                os.waitpid(pid, 0 if late else os.WNOHANG)
            except (ProcessLookupError, ChildProcessError):
                pass
        time.sleep(0.05)


def _children() -> list[int]:
    me, kids = os.getpid(), []
    for entry in os.scandir("/proc"):
        if not entry.name.isdigit():
            continue
        try:
            with open(f"/proc/{entry.name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        if int(stat.rpartition(")")[2].split()[1]) == me:
            kids.append(int(entry.name))
    return kids


def _become_subreaper() -> None:
    PR_SET_CHILD_SUBREAPER = 36
    try:
        ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def _exit_on_signal(signum, frame):
    raise SystemExit(128 + signum)


def reset_session_state(spark) -> None:
    """Isolation between measured repetitions: drop cached tables/RDDs,
    including leftover ``localCheckpoint`` RDDs."""
    spark.catalog.clearCache()
    for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        rdd.unpersist(True)


# -- host readings -------------------------------------------------------------


def cpu_stat() -> tuple[int, int]:
    """(steal_ticks, total_ticks) from /proc/stat, or (0, 0) off-Linux."""
    try:
        with open("/proc/stat") as f:
            vals = [int(x) for x in f.readline().split()[1:]]
        return (vals[7] if len(vals) > 7 else 0, sum(vals))
    except (OSError, ValueError, IndexError):
        return (0, 0)


def steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[1] - before[1]
    return 100.0 * (after[0] - before[0]) / total if total > 0 else 0.0


def peak_rss_mb(spark) -> float:
    """Peak resident memory of the driver JVM plus this Python process."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    try:
        pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
    except OSError:
        pass
    return (py_kb + jvm_kb) / 1024.0


# -- statistics ------------------------------------------------------------------

TAIL_CANDIDATES = (0.99, 0.95, 0.9, 0.75, 0.5)


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile (q in [0, 1])."""
    xs = sorted(values)
    if not xs:
        return float("nan")
    pos = q * (len(xs) - 1)
    lo, hi = math.floor(pos), math.ceil(pos)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_quantile(n: int) -> float:
    """The highest of the candidate percentiles with at least ten samples
    beyond it; the median when the sample is smaller than twenty."""
    for q in TAIL_CANDIDATES:
        if n * (1.0 - q) >= 10:
            return q
    return 0.5


def latency_summary(values: list[float]) -> dict:
    q = tail_quantile(len(values))
    return {
        "n": len(values),
        "p50": statistics.median(values),
        "tail_q": q,
        "tail": percentile(values, q),
        "samples": list(values),
    }


# -- tracing -----------------------------------------------------------------------

COUNTERS = ("jobs", "tasks", "executor_run_s", "shuffle_write_bytes", "spill_bytes", "gc_s", "driver_s")


class Tracer:
    """Spans recorded around each call into a layer, kept in memory.

    A span remembers the range of Spark job ids submitted while it was
    open (the scheduler's job counter, read before and after), so jobs
    submitted from worker threads are counted too: job-group tags are
    thread-local and would lose them. Counters are read from the JVM
    status store only when the run ends. A disabled tracer records no
    spans; a span's counters include those of spans nested in it. A span
    given ``job_group`` counts only that group's jobs (a streaming query
    tags its jobs with its run id), so concurrent queries stay apart."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spark = spark
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._dag = spark.sparkContext._jsc.sc().dagScheduler()

    @contextmanager
    def suspended(self):
        """Run a block untraced (the in-run baseline for trace overhead)."""
        was, self.enabled = self.enabled, False
        try:
            yield
        finally:
            self.enabled = was

    def _next_job(self) -> int:
        return int(self._dag.nextJobId())

    @contextmanager
    def span(self, name: str, layer: str | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "name": name,
            "layer": layer,
            "parent": self._stack[-1] if self._stack else None,
            "job_lo": self._next_job(),
            "start": time.perf_counter(),
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["job_hi"] = self._next_job()
            self._stack.pop()

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def layer_counters(self) -> dict[str, dict[str, float]]:
        """Per-layer Spark counters over the job ranges of that layer's spans.

        ``driver_s`` is span wall minus the part of it during which any
        stage of the span's jobs had tasks running (first task launch to
        stage completion), i.e. time spent declaring and planning."""
        if not self.spans:
            return {}
        from py4j.protocol import Py4JJavaError

        store = self.spark.sparkContext._jsc.sc().statusStore()
        d3, d4, d5 = (getattr(store, f"stageData$default${i}")() for i in (3, 4, 5))
        stage_cache: dict[int, dict] = {}

        def stage(sid: int) -> dict:
            if sid not in stage_cache:
                agg = {"tasks": 0, "run": 0, "shuffle": 0, "spill": 0, "gc": 0, "iv": []}
                try:
                    attempts = store.stageData(sid, False, d3, d4, d5)
                except Py4JJavaError:  # a stage the store never saw
                    attempts = None
                for i in range(attempts.size() if attempts is not None else 0):
                    s = attempts.apply(i)
                    agg["tasks"] += s.numTasks()
                    agg["run"] += s.executorRunTime()
                    agg["shuffle"] += s.shuffleWriteBytes()
                    agg["spill"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
                    agg["gc"] += s.jvmGcTime()
                    ft, ct = s.firstTaskLaunchedTime(), s.completionTime()
                    if ft.isDefined() and ct.isDefined():
                        agg["iv"].append((ft.get().getTime() / 1e3, ct.get().getTime() / 1e3))
                stage_cache[sid] = agg
            return stage_cache[sid]

        out: dict[str, dict[str, float]] = {}
        seen: dict[str, set[int]] = {}
        wall_to_epoch = time.time() - time.perf_counter()
        for s in self.spans:
            if not s.get("layer"):
                continue
            c = out.setdefault(s["layer"], dict.fromkeys(COUNTERS, 0.0))
            counted = seen.setdefault(s["layer"], set())
            intervals = []
            for jid in range(s["job_lo"], s["job_hi"]):
                try:
                    job = store.job(jid)
                except Py4JJavaError:  # a job id the store never saw
                    continue
                group = s.get("job_group")
                if group is not None and job.jobGroup().getOrElse(None) != group:
                    continue  # a concurrent query's job
                c["jobs"] += 1
                ids = job.stageIds()
                for i in range(ids.size()):
                    sid = ids.apply(i)
                    st = stage(sid)
                    intervals.extend(st["iv"])
                    if sid in counted:  # a stage reused by a later job of the layer
                        continue
                    counted.add(sid)
                    c["tasks"] += st["tasks"]
                    c["executor_run_s"] += st["run"] / 1e3
                    c["shuffle_write_bytes"] += st["shuffle"]
                    c["spill_bytes"] += st["spill"]
                    c["gc_s"] += st["gc"] / 1e3
            lo, hi = s["start"] + wall_to_epoch, s["end"] + wall_to_epoch
            c["driver_s"] += (hi - lo) - _covered(intervals, lo, hi)
        return out


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def cleanup(work: Path) -> None:
    shutil.rmtree(work, ignore_errors=True)


# -- metric catalog ------------------------------------------------------------------
# Every workload reports every metric below; a layer a workload does not
# exercise reads 0 in the traced run.

END_TO_END = {
    "setup_s": "s",
    "latency_p50_s": "s",
    "latency_tail_s": "s",
    "rows_per_s": "1/s",
    "peak_rss_mb": "MB",
}

COUNTER_LAYERS = ("medallion", "watermark", "sinks", "scd", "text", "dedup", "similarity", "stream")
COUNTER_UNITS = {
    "jobs": "count", "tasks": "count", "executor_run_s": "s", "shuffle_write_bytes": "B",
    "spill_bytes": "B", "gc_s": "s", "driver_s": "s",
}

PER_LAYER = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "watermark.batch_s": "s",
    "watermark.rows_delivered": "count",
    "watermark.rows_skipped": "count",
    "watermark.rows_lost": "count",
    "sinks.bytes_written": "B",
    "sinks.files_written": "count",
    "sinks.write_amp": "ratio",
    "sinks.space_amp": "ratio",
    "medallion.batch_s": "s",
    "medallion.bronze_s": "s",
    "medallion.silver_s": "s",
    "medallion.dim_s": "s",
    "medallion.fact_s": "s",
    "medallion.uncovered_s": "s",
    "scd.dim_rows": "count",
    "scd.dim_rows_changed": "count",
    "scd.fact_rows": "count",
    "text.filter_s": "s",
    "text.docs_in": "count",
    "text.docs_kept": "count",
    "dedup.exact_s": "s",
    "dedup.lsh_s": "s",
    "dedup.cc_s": "s",
    "dedup.candidate_pairs": "count",
    "dedup.pair_precision": "ratio",
    "dedup.dup_recall": "ratio",
    "similarity.ivf_build_s": "s",
    "similarity.ivf_persist_s": "s",
    "similarity.ivf_probe_s": "s",
    "similarity.scored_per_query": "count",
    "similarity.ann_recall_at_10": "ratio",
    "stream.batches": "count",
    "stream.trigger_ms": "ms",
    "stream.add_batch_ms": "ms",
    "stream.query_planning_ms": "ms",
    "stream.wal_commit_ms": "ms",
    "stream.state_rows": "count",
    "stream.state_mem_bytes": "B",
    "stream.state_commit_ms": "ms",
    "stream.state_stores": "count",
    "stream.backlog_end": "count",
    "trace.overhead_s": "s",
    "host.steal_pct": "%",
    **{f"{layer}.{c}": u for layer in COUNTER_LAYERS for c, u in COUNTER_UNITS.items()},
}


def metric_block(catalog: dict[str, str], values: dict[str, float]) -> dict:
    """Every catalog metric with its unit; absent values read 0."""
    unknown = set(values) - set(catalog)
    if unknown:
        raise KeyError(f"metrics outside the catalog: {sorted(unknown)}")
    return {n: {"value": float(values.get(n, 0.0)), "unit": u} for n, u in catalog.items()}


def counter_values(counters: dict[str, dict[str, float]], per: float) -> dict[str, float]:
    """Per-layer Spark counters, each divided by ``per`` operations."""
    return {
        f"{layer}.{c}": counters.get(layer, {}).get(c, 0.0) / per
        for layer in COUNTER_LAYERS
        for c in COUNTER_UNITS
    }
