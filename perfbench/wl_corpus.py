"""corpus_build: the flagship LLM-corpus batch job, run in a closed loop.

One unit = ``from_dataframe | strip_html | corpus_filter | dedup_exact |
minhash_dedup_cc | line_dedup | chunk_text | pack_chunks`` into
``sink_parquet``, then the committed output is read back and checked
against the planted ground truth.

A traced run then measures the search side on the last unit's output
(``search_section``): base indexes written over a base corpus
(``bm25_index_write``, ``ivf_index_write``), the output's chunks folded
into them (``bm25_index_merge``, ``ivf_index_merge``), and one
query batch of ``bm25_index_join`` plus ``ivf_index_join`` fused by
``rrf_fuse``, which must equal the same query batch against indexes
written from scratch over the base corpus plus every chunk.
"""

from __future__ import annotations

import json
import os
import time

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from conduino_spark import (KMeansModel, bm25_index_merge, bm25_index_write,
                            chunk_text, corpus_filter, dedup_exact,
                            from_dataframe, ivf_index_merge, ivf_index_write,
                            line_dedup, minhash_dedup_cc, pack_chunks,
                            sink_parquet, strip_html, tune_minhash_bands)

import common

BIN_BUDGET = 512
NEAR_RECALL_FLOOR = 0.90
# MinHash banding for a 0.7 Jaccard threshold over 64 permutations,
# chosen by the library's own tuner (8 bands of 8 rows).  Two unrelated
# pages of one site share its header and footer (shingle Jaccard up to
# about 0.07); the 16-permutation, 4-band default pairs such pages about
# 0.02 times a run, and each false pair loses a planted-unique page.
N_PERM = 64
NEAR_DUP_THRESHOLD = 0.7
# search side: a chunk's key is doc_id * CHUNK_KEY + chunk_id
CHUNK_KEY = 1000
K = 10
NPROBE = 2
BM25_SHARDS = 8


class Corpus:
    SETUP_REPS = 3
    UNITS = 1

    def __init__(self, spark, data: str, work: str):
        self.spark = spark
        self.data = data
        self.work = work
        self.out = os.path.join(work, "packed")
        with open(os.path.join(data, "truth.json")) as fh:
            self.truth = json.load(fh)
        self.bands, _ = tune_minhash_bands(NEAR_DUP_THRESHOLD, N_PERM)

    def setup(self, T) -> None:
        """Open the raw input (schema and file listing)."""
        self.docs = T.call("sources", self.spark.read.parquet,
                           os.path.join(self.data, "docs"))

    def warm_up(self) -> None:
        """A set-up, then the job once over one input file, unchecked:
        it compiles the same plans at an eighth of the data."""
        U = common.NoTrace()
        self.setup(U)
        small = self.spark.read.parquet(
            os.path.join(self.data, "docs", "part-000.parquet"))
        self._job(U, small, os.path.join(self.work, "warm"))

    def _job(self, T, docs, out: str) -> None:
        p = (T.source(from_dataframe(docs))
             | T.op(strip_html, collapse_whitespace=False)
             | T.op(corpus_filter, keep_only=True)
             | T.op(dedup_exact)
             | T.op(minhash_dedup_cc, n_perm=N_PERM, bands=self.bands)
             | T.op(line_dedup)
             | T.op(chunk_text, 128, 32)
             | T.op(pack_chunks, BIN_BUDGET)
             | sink_parquet(out))
        T.run_pipe(p, self.spark)

    def unit(self, T) -> dict:
        """One job and its check."""
        t0 = time.perf_counter()
        self._job(T, self.docs, self.out)
        with T.span("check"):
            errors = self.check()
        return {"job_s": time.perf_counter() - t0, "attempted": 1,
                "failed": int(bool(errors)), "errors": errors}

    # -- search side (traced runs) -------------------------------------------
    def _chunks(self):
        """The last unit's packed chunks as search documents
        (key, text, doc_id)."""
        return (self.spark.read.parquet(self.out)
                .select((F.col("doc_id") * CHUNK_KEY
                         + F.col("chunk_id")).alias("key"),
                        F.col("chunk").alias("text"), "doc_id"))

    def _vectors(self, chunks):
        """(key, embedding): each chunk carries its document's."""
        emb = self.spark.read.parquet(
            os.path.join(self.data, "embeddings.parquet"))
        return (chunks.join(F.broadcast(emb), "doc_id")
                .select("key", "embedding"))

    def _write_index(self, T, docs, vecs, root: str) -> "tuple[str, str]":
        bm25, ivf = os.path.join(root, "bm25"), os.path.join(root, "ivf")
        T.call("state.write", bm25_index_write, docs, bm25,
               n_shards=BM25_SHARDS, id_col="key")
        T.call("state.write", ivf_index_write, vecs, ivf, self.model,
               id_col="key")
        return bm25, ivf

    def _probe(self, T, index: "tuple[str, str]") -> "list[tuple]":
        return common.fused_query(T, self.queries, index[0], index[1], K,
                                  NPROBE, "key")

    def search_section(self, T) -> dict:
        """Base indexes; indexes written from scratch over the base
        corpus plus every chunk, and the query batch against them (this
        also warms up the probe); then, traced, the chunks merged into
        the base indexes and the same query batch, which must give the
        same rows."""
        U = common.NoTrace()
        cents = pq.read_table(os.path.join(self.data, "centroids"))
        self.model = KMeansModel(dict(zip(cents["cell"].to_pylist(),
                                          cents["centroid"].to_pylist())))
        self.queries = self.spark.read.parquet(
            os.path.join(self.data, "queries"))
        base = self.spark.read.parquet(os.path.join(self.data, "base"))
        docs, vecs = base.select("key", "text"), base.select("key", "embedding")
        index = self._write_index(U, docs, vecs,
                                  os.path.join(self.work, "index"))
        chunks = self._chunks()
        fresh = self._write_index(
            U, docs.unionByName(chunks.select("key", "text")),
            vecs.unionByName(self._vectors(chunks)),
            os.path.join(self.work, "fresh"))
        want = self._probe(U, fresh)
        self.index = index
        T.call("state.merge", bm25_index_merge, chunks.select("key", "text"),
               index[0], id_col="key")
        T.call("state.merge", ivf_index_merge, self._vectors(chunks),
               index[1], id_col="key")
        got = self._probe(T, index)
        errors = []
        if not got:
            errors.append("the query batch returned no rows")
        if got != want:
            errors.append("merged indexes differ from a from-scratch build")
        return {"attempted": 1, "failed": int(bool(errors)),
                "errors": errors}

    def state_metrics(self) -> dict:
        return common.index_metrics(getattr(self, "index", ()))

    def check(self) -> "list[str]":
        t = pq.read_table(self.out, columns=["doc_id", "chunk_id",
                                             "n_tokens", "bin"])
        doc = t.column("doc_id").to_numpy()
        chunk = t.column("chunk_id").to_numpy()
        ntok = t.column("n_tokens").to_numpy()
        binc = t.column("bin").to_numpy()
        kept = set(doc.tolist())
        errors = []
        lost = [i for i in self.truth["unique"] if i not in kept]
        if lost:
            errors.append(f"{len(lost)} planted-unique docs lost")
        bad = [g for g in self.truth["exact"]
               if sum(i in kept for i in g) != 1]
        if bad:
            errors.append(f"{len(bad)} exact-dup groups not kept exactly once")
        low = [i for i in self.truth["low"] if i in kept]
        if low:
            errors.append(f"{len(low)} low-quality docs kept")
        removable = sum(len(g) - 1 for g in self.truth["near"])
        removed = sum(len(g) - sum(i in kept for i in g)
                      for g in self.truth["near"])
        lost_clusters = sum(1 for g in self.truth["near"]
                            if not any(i in kept for i in g))
        self.near_recall = removed / removable if removable else 1.0
        if lost_clusters:
            errors.append(f"{lost_clusters} near-dup clusters lost entirely")
        if self.near_recall < NEAR_RECALL_FLOOR:
            errors.append(f"near-dup recall {self.near_recall:.3f} "
                          f"< {NEAR_RECALL_FLOOR}")
        # packing: bin = floor(tokens before the chunk / budget) in
        # (doc_id, chunk_id) order, so no bin holds a chunk that starts
        # past its budget
        order = np.lexsort((chunk, doc))
        before = np.cumsum(ntok[order]) - ntok[order]
        if not np.array_equal(binc[order], before // BIN_BUDGET):
            errors.append("packed bins do not match their token budget")
        self.n_bins = int(binc.max()) + 1 if len(binc) else 0
        return errors

    def summary(self) -> dict:
        return {"near_dup_recall": round(self.near_recall, 4),
                "bins": self.n_bins, "minhash_n_perm": N_PERM,
                "minhash_bands": self.bands}
