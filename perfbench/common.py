"""Helpers shared by the workloads: latency summaries, run conditions,
driver memory, and the no-op tracer used by untraced runs."""

from __future__ import annotations

import os
import resource
import signal
import statistics
import subprocess
import time
from contextlib import nullcontext


def tail(values: "list[float]") -> "tuple[float, float, int]":
    """The latency at the highest percentile with at least 10 samples
    beyond it: ``(value, percentile, n)``.  Below 21 samples that
    percentile would sit under the median, so the maximum is reported
    instead (as percentile 100) and the figure stays a tail."""
    xs = sorted(values)
    n = len(xs)
    if n < 21:
        return xs[-1], 100.0, n
    idx = n - 11  # xs[idx] has exactly 10 samples above it
    return xs[idx], round(100.0 * (idx + 1) / n, 1), n


def host_calibration_s() -> float:
    """Time of a fixed pure-Python loop: a label for how fast the host
    ran this run (shared hosts drift by tens of percent over minutes)."""
    t = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc += i & 7
    return round(time.perf_counter() - t, 4)


def median(values: "list[float]") -> float:
    return float(statistics.median(values))


def cpu_times() -> "list[int]":
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def steal_frac(before: "list[int]", after: "list[int]") -> float:
    d = [a - b for a, b in zip(after, before)]
    total = sum(d[:8])
    return round(d[7] / total, 5) if total > 0 and len(d) > 7 else 0.0


def mem_total_gb() -> float:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 2 ** 20
    return 8.0


def driver_heap() -> str:
    """Driver heap for this machine: a fifth of its memory, 1-8 GB."""
    return f"{int(min(8, max(1, mem_total_gb() // 5)))}g"


def driver_peak_rss_mb(spark) -> "tuple[float, float]":
    """Peak RSS of this Python process and of the driver JVM, in MB."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return py_kb / 1024.0, jvm_kb / 1024.0


def streaming_layers(T, t_drain: float, n_batches: int) -> dict:
    """Per-batch streaming durations from the tracer's listener, for
    the batches drained since ``t_drain`` (empty when untraced)."""
    if not hasattr(T, "progress_since"):
        return {}
    prog = [p for p in T.progress_since(t_drain, n_batches) if p["rows"] > 0]
    return {"streaming.batches": len(prog),
            "streaming.add_batch_s": _median_or_0(
                [p["add_batch_ms"] / 1e3 for p in prog]),
            "streaming.trigger_overhead_s": _median_or_0(
                [(p["trigger_ms"] - p["add_batch_ms"]) / 1e3 for p in prog])}


def fused_query(T, q, bm25: str, ivf: str, k: int, nprobe: int,
                id_col: str) -> "list[tuple]":
    """One query batch ``q`` (query_id, query, embedding) against a BM25
    and an IVF index, fused by ``rrf_fuse``: sorted
    (query_id, id, rrf, rank) rows."""
    from pyspark.sql import functions as F
    from conduino_spark import bm25_index_join, ivf_index_join, rrf_fuse
    sparse = T.op(bm25_index_join, bm25, k, id_col=id_col)(
        q.select("query_id", "query"))
    dense = T.op(ivf_index_join, ivf, k, nprobe=nprobe, id_col=id_col)(
        q.select(F.col("query_id").alias(id_col), "embedding"))
    dense = dense.select(F.col(id_col).alias("query_id"),
                         F.col("neighbor_id").alias(id_col), "rank")
    fused = T.call("operators.search", rrf_fuse,
                   {"bm25": sparse.select("query_id", id_col, "rank"),
                    "ivf": dense}, k=k, id_col=id_col)
    with T.span("operators.sinks.action", "collect"):
        return sorted(tuple(r) for r in fused.select(
            "query_id", id_col, "rrf", "rank").collect())


def index_metrics(roots) -> dict:
    """Parquet files and their MB under the given index directories."""
    files, size = 0, 0
    for root in roots:
        for dp, _, fs in os.walk(root):
            for f in fs:
                if f.endswith(".parquet"):
                    files += 1
                    size += os.path.getsize(os.path.join(dp, f))
    return {"state.index_files": files, "state.index_mb": size / 2 ** 20}


def _median_or_0(xs):
    return median(xs) if xs else 0.0


class NoTrace:
    """The tracer's interface with nothing recorded (untraced runs)."""

    def span(self, layer: str, name: str = ""):
        return nullcontext()

    def call(self, layer, fn, *args, **kwargs):
        return fn(*args, **kwargs)

    def op(self, factory, *args, **kwargs):
        return factory(*args, **kwargs)

    def stage(self, st, layer):
        return st

    def source(self, src):
        return src

    def sink(self, sk):
        return sk

    def run_pipe(self, pipeline, spark):
        from conduino_spark import run_pipe
        return run_pipe(pipeline, spark)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def descendants(pid: int) -> "list[int]":
    """Every live process below ``pid`` (children, their children...)."""
    kids: "dict[int, list[int]]" = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _running(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def stop_spark(timeout: float = 30.0) -> None:
    """Stop the Spark session and wait until the driver JVM and every
    process under it have ended.

    ``SparkSession.stop`` leaves the JVM running: it exits only once it
    sees its stdin close, which otherwise happens when this process
    exits, so the JVM would outlive the run by about a second.  Here its
    stdin is closed and the JVM is waited for; whatever is still running
    ``timeout`` seconds later is killed."""
    from pyspark import SparkContext
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    procs = descendants(os.getpid())
    try:
        if SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
        gw.shutdown()
    finally:
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        deadline = time.perf_counter() + timeout
        for pid in procs:
            while _running(pid) and time.perf_counter() < deadline:
                time.sleep(0.02)
            if _running(pid):
                try:
                    os.kill(pid, signal.SIGKILL)
                except OSError:
                    pass
                while _running(pid):
                    time.sleep(0.02)
