"""Spans and Spark counters for the traced run, recorded from outside
the program.

A span wraps one call into a layer's public function.  While a span is
open its Spark job group is ``pb:<span id>``, so every job the call
starts can be charged to it.  After each unit of work the benchmark
calls :meth:`Tracer.collect`, which reads the jobs and stages that unit
started from Spark's in-process status store (it keeps only the last
1000 stages, so it is read after every unit, never once at the end).
Spans stay in memory and are written out when the run ends.
"""

from __future__ import annotations

import json
import threading
import time
from contextlib import contextmanager

from conduino_spark import Sink, Source, Stage, run_pipe

# the operator modules whose Stage factories the workloads call; every
# other layer gets its spans from the workload code directly
OPERATOR_LAYERS = ["operators.text", "operators.dedup", "operators.search",
                   "operators.similarity", "operators.stateful",
                   "operators.temporal", "operators.relational", "lift"]
_MODULE_LAYER = {"segments": "operators.stateful",
                 "zip_alt": "operators.stateful"}


def layer_of(fn) -> str:
    """Layer name of a public function, from the module it lives in."""
    mod = fn.__module__.replace("conduino_spark.", "")
    leaf = mod.rsplit(".", 1)[-1]
    return _MODULE_LAYER.get(leaf, mod)


class Tracer:
    """Records spans (name, layer, start, end, parent, run id) and the
    Spark jobs and stages charged to them."""

    def __init__(self, spark, run_id: str):
        self.spark = spark
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: "list[dict]" = []
        self._stack: "list[int]" = []
        self._seen_jobs: "set[int]" = set()
        self._seen_stages: "set[tuple[int, int]]" = set()
        self.progress: "list[dict]" = []
        self._plock = threading.Lock()

    # -- spans ------------------------------------------------------------
    @contextmanager
    def span(self, layer: str, name: str = ""):
        sid = len(self.spans)
        rec = {"id": sid, "layer": layer, "name": name or layer,
               "parent": self._stack[-1] if self._stack else None,
               "run_id": self.run_id, "start": time.perf_counter(),
               "end": None, "jobs": []}
        self.spans.append(rec)
        self._stack.append(sid)
        self.sc.setJobGroup(f"pb:{sid}", rec["name"][:200])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self._stack:
                parent = self.spans[self._stack[-1]]
                self.sc.setJobGroup(f"pb:{parent['id']}", parent["name"][:200])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def call(self, layer: str, fn, *args, **kwargs):
        with self.span(layer, getattr(fn, "__name__", layer)):
            return fn(*args, **kwargs)

    # -- wrappers for the conduino algebra -----------------------------------
    def op(self, factory, *args, **kwargs) -> Stage:
        """``factory(*args, **kwargs)`` traced under the factory's layer."""
        return self.stage(factory(*args, **kwargs), layer_of(factory))

    def stage(self, st: Stage, layer: str) -> Stage:
        """The same stage, with each application recorded as a span."""
        def fn(df):
            with self.span(layer, st.name):
                return st.fn(df)

        boundary = None
        if st.terminates:
            def boundary(df):
                with self.span(layer, st.name):
                    return st.boundary(df)
        return Stage(fn, name=st.name, seq_preserving=st.seq_preserving,
                     boundary=boundary)

    def source(self, src: Source) -> Source:
        def fn(spark):
            with self.span("sources", src.name):
                return src.fn(spark)
        return Source(fn, name=src.name, bounded=src.bounded)

    def sink(self, sk: Sink) -> Sink:
        def run(df):
            with self.span("operators.sinks.action", sk.name):
                return sk.run(df)
        return Sink(run, name=sk.name, agg_cols=sk.agg_cols,
                    agg_finish=sk.agg_finish,
                    termination_seq=sk.termination_seq,
                    materializes=sk.materializes)

    def run_pipe(self, pipeline, spark):
        """``run_pipe`` with the plan build (everything before the
        terminal action) and the action as child spans; the run_pipe
        span's self time is the cache release that follows."""
        src, sk = pipeline.source, pipeline.sink

        def build(spark_):
            with self.span("plans.build"):
                return src.fn(spark_)
        pipeline.source = Source(build, name=src.name, bounded=src.bounded)
        pipeline.sink = self.sink(sk)
        try:
            with self.span("plans.run_pipe"):
                return run_pipe(pipeline, spark)
        finally:
            pipeline.source, pipeline.sink = src, sk

    # -- streaming progress ------------------------------------------------
    def listen_streaming(self) -> None:
        from pyspark.sql.streaming import StreamingQueryListener
        tracer = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                d = dict(p.durationMs or {})
                with tracer._plock:
                    tracer.progress.append({
                        "batch": p.batchId, "rows": p.numInputRows,
                        "add_batch_ms": d.get("addBatch", 0),
                        "trigger_ms": d.get("triggerExecution", 0),
                        "t": time.perf_counter()})

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._listener = _Listener()
        self.spark.streams.addListener(self._listener)

    def progress_since(self, t0: float, n_expected: int,
                       timeout: float = 5.0) -> "list[dict]":
        """Progress events after ``t0``; listener events arrive
        asynchronously, so wait (bounded) until ``n_expected`` came."""
        deadline = time.perf_counter() + timeout
        while True:
            with self._plock:
                got = [p for p in self.progress if p["t"] >= t0]
            if len(got) >= n_expected or time.perf_counter() > deadline:
                return got
            time.sleep(0.02)

    # -- Spark status store ------------------------------------------------
    def collect(self, t0: float, t1: float) -> dict:
        """Jobs and stages started since the last call, charged to spans,
        plus the unit's stage-span union over the wall ``[t0, t1]``."""
        jvm = self.sc._jvm
        store = self.sc._jsc.sc().statusStore()
        jobs = store.jobsList(jvm.java.util.ArrayList())
        new_jobs = []
        for i in range(jobs.size()):
            j = jobs.apply(i)
            jid = j.jobId()
            if jid in self._seen_jobs:
                continue
            self._seen_jobs.add(jid)
            g = j.jobGroup()
            group = g.get() if g.isDefined() else None
            sids = j.stageIds()
            new_jobs.append({
                "job": jid, "group": group,
                "stages_run": j.numCompletedStages(),
                "stages_skipped": j.numSkippedStages(),
                "stage_ids": [sids.apply(k) for k in range(sids.size())]})
        for nj in new_jobs:
            g = nj["group"]
            if g and g.startswith("pb:"):
                self.spans[int(g[3:])]["jobs"].append(nj["job"])
        quant = self.sc._gateway.new_array(jvm.double, 0)
        stages = store.stageList(jvm.java.util.ArrayList(), False, False,
                                 quant, jvm.java.util.ArrayList())
        wanted = {s for nj in new_jobs for s in nj["stage_ids"]}
        out = {"jobs": len(new_jobs),
               "stages": sum(nj["stages_run"] for nj in new_jobs),
               "stages_skipped": sum(nj["stages_skipped"] for nj in new_jobs),
               "tasks": 0, "task_s": 0.0, "shuffle_write_mb": 0.0,
               "shuffle_read_mb": 0.0, "spill_mb": 0.0, "input_mb": 0.0,
               "output_mb": 0.0}
        spans = []
        mb = 1.0 / 2 ** 20
        for i in range(stages.size()):
            s = stages.apply(i)
            key = (s.stageId(), s.attemptId())
            if s.stageId() not in wanted or key in self._seen_stages:
                continue
            if s.status().toString() != "COMPLETE":
                continue
            self._seen_stages.add(key)
            out["tasks"] += s.numTasks()
            out["task_s"] += s.executorRunTime() / 1000.0
            out["shuffle_write_mb"] += s.shuffleWriteBytes() * mb
            out["shuffle_read_mb"] += s.shuffleReadBytes() * mb
            out["spill_mb"] += (s.memoryBytesSpilled()
                                + s.diskBytesSpilled()) * mb
            out["input_mb"] += s.inputBytes() * mb
            out["output_mb"] += s.outputBytes() * mb
            if s.submissionTime().isDefined() and s.completionTime().isDefined():
                spans.append((s.submissionTime().get().getTime() / 1000.0,
                              s.completionTime().get().getTime() / 1000.0))
        union = _union_length(spans)
        out["stage_span_s"] = union
        out["driver_gap_s"] = max(0.0, (t1 - t0) - union)
        return out

    # -- span arithmetic -------------------------------------------------------
    def layer_totals(self, first_span: int) -> "dict[str, dict]":
        """Per layer, over spans from ``first_span`` on: self time
        (duration minus the time child spans cover) and self jobs."""
        spans = self.spans[first_span:]
        children: "dict[int, list]" = {}
        for s in spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        tot: "dict[str, dict]" = {}
        for s in spans:
            kids = [(c["start"], c["end"]) for c in children.get(s["id"], [])]
            self_s = (s["end"] - s["start"]) - _union_length(kids)
            t = tot.setdefault(s["layer"], {"self_s": 0.0, "jobs": 0,
                                            "total_s": 0.0, "tree_jobs": 0})
            t["self_s"] += self_s
            t["total_s"] += s["end"] - s["start"]
            t["jobs"] += len(s["jobs"])
        # jobs anywhere under a plans.build span: driver round trips
        # made before the terminal action
        by_id = {s["id"]: s for s in spans}
        for s in spans:
            p, n = s, len(s["jobs"])
            while p is not None:
                if p["layer"] == "plans.build":
                    tot["plans.build"]["tree_jobs"] += n
                    break
                p = by_id.get(p["parent"]) if p["parent"] is not None else None
        return tot

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"run_id": self.run_id, "spans": self.spans,
                       "streaming_progress": self.progress}, fh)


def _union_length(intervals) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total
