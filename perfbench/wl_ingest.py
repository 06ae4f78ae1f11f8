"""The ingest-and-search cycle, and the open-loop ``ingest_and_search``
workload built on it.

A cycle:

1. drains every landed shard with ``ingest_corpus_stream``
   (AvailableNow, one shard per micro-batch, one checkpoint, a
   signature state that grows across cycles);
2. folds the new survivors into the persisted indexes with
   ``bm25_index_merge`` and ``ivf_index_merge``;
3. runs one query batch of ``bm25_index_join`` plus ``ivf_index_join``
   fused by ``rrf_fuse``.

``ingest_and_search`` (runnable, not listed in BENCHMARK.json: see
README.md) runs cycles in an open loop: a generator thread lands one
shard every ``1 / SHARD_RATE_PER_S`` seconds (written under a hidden
name, then renamed), and a shard's commit latency runs from its
scheduled landing time to the end of the merge that made its survivors
searchable.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import threading
import time

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from conduino_spark import (KMeansModel, bm25_index_merge, bm25_index_write,
                            ivf_index_merge, ivf_index_write)

from conduino_spark.streaming import ingest_corpus_stream

import common
import gen

K = 10
NPROBE = 2
WARM_SHARDS = 2
SCHEMA = "doc_id long, text string, embedding array<double>"


def land(src: str, landing: str) -> str:
    """Copy a shard under a hidden name (the file source ignores names
    starting with '.'), then rename it into view."""
    name = os.path.basename(src)
    tmp = os.path.join(landing, "." + name)
    shutil.copyfile(src, tmp)
    os.rename(tmp, os.path.join(landing, name))
    return name


class Cycle:
    """Indexes, signature state and checkpoint of one ingester, with
    the three steps of a cycle and the end-of-run check."""

    def __init__(self, spark, data: str, work: str):
        self.spark = spark
        self.data = data
        self.work = work
        with open(os.path.join(data, "truth.json")) as fh:
            self.landed_ids = set(json.load(fh)["landed_ids"])
        self.shards = sorted(glob.glob(os.path.join(data, "shards", "*")))
        self.landing = os.path.join(work, "landing")
        self.out = os.path.join(work, "kept")
        self.sigs = os.path.join(work, "sigs")
        self.ckpt = os.path.join(work, "ckpt")
        os.makedirs(self.landing, exist_ok=True)
        self.queries = spark.read.parquet(os.path.join(data, "queries"))
        cents = pq.read_table(os.path.join(data, "centroids"))
        self.model = KMeansModel(dict(zip(cents["cell"].to_pylist(),
                                          cents["centroid"].to_pylist())))
        self.base = spark.read.parquet(os.path.join(data, "base"))
        self.builds = 0
        self.probes = 0
        self.drained: "set[str]" = set()
        self.merged_batches: "set[int]" = set()
        self.last_probe = None  # (query batch, rows) of the latest probe

    def build_base(self, T) -> None:
        """Write the base indexes over the base corpus (the quantizer
        is fitted by the generator and stored with the IVF index)."""
        self.builds += 1
        self.merged_batches = set()
        idx = os.path.join(self.work, f"index{self.builds}")
        self.bm25, self.ivf = os.path.join(idx, "bm25"), os.path.join(idx, "ivf")
        T.call("state.write", bm25_index_write, self.base, self.bm25)
        T.call("state.write", ivf_index_write, self.base, self.ivf,
               self.model, id_col="doc_id")

    def drain(self, T) -> "list[str]":
        """Drain every landed shard; returns the shard files drained."""
        stream = (self.spark.readStream.schema(SCHEMA)
                  .option("maxFilesPerTrigger", 1).parquet(self.landing))
        T.call("streaming", ingest_corpus_stream, stream, self.spark,
               out_dir=self.out, sig_dir=self.sigs,
               checkpoint_dir=self.ckpt)
        files = set()
        for f in glob.glob(os.path.join(self.ckpt, "sources", "0", "*")):
            with open(f) as fh:
                for line in fh.read().splitlines()[1:]:
                    files.add(os.path.basename(json.loads(line)["path"]))
        new = sorted(files - self.drained)
        self.drained |= files
        return new

    def merge(self, T) -> int:
        """Fold the survivors of not-yet-merged batches into the indexes."""
        batches = sorted(int(d.split("=")[1]) for d in
                         os.listdir(self.out) if d.startswith("batch="))
        new = [b for b in batches if b not in self.merged_batches]
        if not new:
            return 0
        docs = self.spark.read.parquet(
            *[os.path.join(self.out, f"batch={b}") for b in new])
        T.call("state.merge", bm25_index_merge, docs, self.bm25)
        T.call("state.merge", ivf_index_merge, docs, self.ivf,
               id_col="doc_id")
        self.merged_batches.update(new)
        return len(new)

    def search(self, T, bm25: str, ivf: str, batch: int) -> "list[tuple]":
        q = self.queries.where(F.col("batch") == batch)
        return common.fused_query(T, q, bm25, ivf, K, NPROBE, "doc_id")

    def probe(self, T) -> "tuple[float, list[tuple]]":
        """One query batch against the live indexes: (seconds, rows)."""
        batch = self.probes % gen.QUERY_BATCHES
        self.probes += 1
        t0 = time.perf_counter()
        rows = self.search(T, self.bm25, self.ivf, batch)
        self.last_probe = (batch, rows)
        return time.perf_counter() - t0, rows

    def check(self) -> "list[str]":
        """Kept ⊆ landed with no id twice, and the latest probe (which
        ran after the last merge) equals the same query batch against
        indexes written from scratch over the base plus every kept
        document."""
        errors = []
        kept = pq.read_table(self.out, columns=["doc_id"])["doc_id"].to_pylist()
        self.kept_rows = len(kept)
        self.input_rows = sum(pq.read_metadata(os.path.join(
            self.landing, n)).num_rows for n in self.drained)
        if len(set(kept)) != len(kept):
            errors.append("a document was kept twice")
        if not set(kept) <= self.landed_ids:
            errors.append("kept documents that never landed")
        fresh = os.path.join(self.work, "fresh")
        allk = self.base.unionByName(self.spark.read.parquet(self.out)
                                     .select("doc_id", "text", "embedding"))
        bm25_index_write(allk, os.path.join(fresh, "bm25"))
        ivf_index_write(allk, os.path.join(fresh, "ivf"), self.model,
                        id_col="doc_id")
        batch, live = self.last_probe
        scratch = self.search(common.NoTrace(), os.path.join(fresh, "bm25"),
                              os.path.join(fresh, "ivf"), batch)
        if live != scratch:
            errors.append(f"query batch {batch}: merged indexes differ "
                          f"from a from-scratch build")
        return errors

    def state_metrics(self) -> dict:
        sig_rows = sum(pq.read_metadata(f).num_rows for f in glob.glob(
            os.path.join(self.sigs, "*", "*.parquet")))
        return {**common.index_metrics((self.bm25, self.ivf)),
                "state.sig_rows": sig_rows,
                "streaming.kept_frac": self.kept_rows / max(1, self.input_rows)}


class Lander(threading.Thread):
    """Lands shard files on a fixed schedule."""

    def __init__(self, shards: "list[str]", landing: str, t0: float,
                 rate: float):
        super().__init__(daemon=True)
        self.shards, self.landing = shards, landing
        self.t0, self.rate = t0, rate
        self.landed: "list[tuple[str, float, float]]" = []  # name, due, at
        self.lock = threading.Lock()
        self.halt = threading.Event()

    def run(self) -> None:
        for i, src in enumerate(self.shards):
            due = self.t0 + i / self.rate
            if self.halt.wait(max(0.0, due - time.perf_counter())):
                return
            name = land(src, self.landing)
            with self.lock:
                self.landed.append((name, due, time.perf_counter()))

    def snapshot(self) -> "list[tuple[str, float, float]]":
        with self.lock:
            return list(self.landed)


class Ingest:
    """The open-loop workload: one cycle per unit, shards landing on a
    schedule.  Run it with ``--seconds 60`` or more."""

    SETUP_REPS = 2
    UNITS = 3

    def __init__(self, spark, data: str, work: str):
        self.c = Cycle(spark, data, work)
        self.lander = None
        self.backlog: "list[int]" = []
        self.cycles = 0

    def setup(self, T) -> None:
        """Build the base indexes and fold in what the warm-up kept."""
        self.c.build_base(T)
        self.c.merge(T)

    def warm_up(self) -> None:
        """Base indexes of its own, then one cycle over the first
        shards, landed at once: it starts the checkpoint and signature
        state and compiles every plan."""
        self.c.build_base(common.NoTrace())
        for src in self.c.shards[:WARM_SHARDS]:
            land(src, self.c.landing)
        U = common.NoTrace()
        self.c.drain(U)
        self.c.merge(U)
        self.c.probe(U)

    def start_timed(self) -> None:
        self.lander = Lander(self.c.shards[WARM_SHARDS:], self.c.landing,
                             time.perf_counter(), gen.SHARD_RATE_PER_S)
        self.lander.start()

    def _pending(self) -> "list[str]":
        return [n for n, _, _ in self.lander.snapshot()
                if n not in self.c.drained]

    def unit(self, T) -> dict:
        """One cycle: wait for a landed shard, drain, merge, probe."""
        while not self._pending():
            time.sleep(0.02)
        t0 = time.perf_counter()
        self.backlog.append(len(self._pending()))
        drained = self.c.drain(T)
        self.c.merge(T)
        t_commit = time.perf_counter()
        due = {n: d for n, d, _ in self.lander.snapshot()}
        commit = [t_commit - due[n] for n in drained if n in due]
        probe_s, rows = self.c.probe(T)
        self.cycles += 1
        ok = len(rows) > 0
        return {"job_s": time.perf_counter() - t0, "commit": commit,
                "probe": [probe_s], "attempted": 2, "failed": int(not ok),
                "errors": [] if ok else ["query batch returned no rows"],
                "layers": common.streaming_layers(T, t0, len(drained))}

    def finish(self, T) -> dict:
        """Stop landing, drain what is left, then check: no backlog
        growth, and the cycle's own check."""
        self.lander.halt.set()
        self.lander.join(timeout=30)
        errors = []
        landed = self.lander.snapshot()
        self.lateness = max((at - due for _, due, at in landed), default=0.0)
        self.backlog_end = len(self._pending())
        drained_per_cycle = sorted(self.backlog)[len(self.backlog) // 2]
        if self.backlog_end > max(2, 2 * drained_per_cycle):
            errors.append(f"backlog grew to {self.backlog_end} shards")
        commit = []
        if self.backlog_end:
            drained = self.c.drain(T)
            self.c.merge(T)
            t_commit = time.perf_counter()
            due = {n: d for n, d, _ in landed}
            commit = [t_commit - due[n] for n in drained if n in due]
            self.c.probe(T)
        errors += self.c.check()
        return {"attempted": 3, "failed": len(errors), "errors": errors,
                "commit": commit}

    def state_metrics(self) -> dict:
        return self.c.state_metrics()

    def summary(self) -> dict:
        return {"cycles": self.cycles, "shards_drained": len(self.c.drained),
                "backlog_per_cycle": self.backlog,
                "backlog_end": getattr(self, "backlog_end", None),
                "generator_max_lateness_s": round(getattr(self, "lateness", 0.0), 4),
                "kept_docs": getattr(self.c, "kept_rows", 0),
                "input_docs": getattr(self.c, "input_rows", 0)}

