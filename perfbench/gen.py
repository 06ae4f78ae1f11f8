"""Seeded input generator for the benchmark workloads.

Every input is a pure function of ``(workload, seed)``: the same seed
writes byte-identical files, a different seed writes different ones.
Each workload directory also gets ``truth.json`` (the planted ground
truth the output checks use) and ``props.json`` (the input properties
the generator varies).

Run it through ``inputs.py``, which also writes the reference results.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

STOPWORDS = ["the", "and", "of", "to", "in", "is", "that", "it", "for", "was"]
_CONS = list("bcdfghklmnprstvwz")
_VOWS = list("aeiou")

# corpus_build
CORPUS_DOCS = 400
EXACT_DUP_SHARE = 0.10      # share of docs that are extra exact copies
NEAR_DUP_SHARE = 0.18       # share of docs that sit in near-dup clusters
LOW_QUALITY_SHARE = 0.10
CLUSTER_ZIPF_A = 2.0        # near-dup cluster sizes ~ Zipf, 2..8
CLUSTER_MAX = 8
NEAR_DUP_EDIT_FRAC = 0.02   # share of words substituted per near copy
PAGE_LINES = (16, 25)       # body lines per page
SITES = 8                   # every page carries its site's header and
SITE_LINE_WORDS = (8, 13)   # footer line (words per template line)
NOTICES = 20                # cross-site notice lines (cookie, share ...)
NOTICE_SHARE = 0.3          # share of pages carrying one notice
INPUT_FILES = 8
SEARCH_BASE_DOCS = 100      # the base search corpus the job's output joins
BASE_KEY0 = 10 ** 12        # base search keys sit above every chunk key

# ordered_events
EVENTS = 20_000
USERS = 1_000
USER_ZIPF_S = 1.1
OUT_OF_ORDER_SHARE = 0.05
EVENT_TYPES = ["view", "click", "cart", "buy"]
EVENT_TYPE_P = [0.55, 0.25, 0.12, 0.08]

# ingest_and_search
BASE_DOCS = 400
SHARDS = 64
SHARD_DOCS = 24
DOC_LINES = (6, 12)
SHARD_CROSS_DUP_SHARE = 0.15   # docs that near-copy an earlier shard
SHARD_LOW_QUALITY_SHARE = 0.08
SHARD_RATE_PER_S = 0.1         # landing schedule: about half the drain capacity
EMB_DIM = 64
EMB_CLUSTERS = 16
QUERY_BATCHES = 64
QUERIES_PER_BATCH = 8


def vocabulary(n: int = 3000) -> "list[str]":
    """A fixed pseudo-word vocabulary (seed-independent), 4-9 letters."""
    rng = np.random.default_rng(12345)
    words, seen = [], set()
    while len(words) < n:
        k = int(rng.integers(2, 5))
        w = "".join(rng.choice(_CONS) + rng.choice(_VOWS) for _ in range(k))
        if rng.random() < 0.5:
            w += rng.choice(_CONS)
        if w not in seen and w not in STOPWORDS:
            seen.add(w)
            words.append(w)
    return words


def _line(rng, vocab, n_words: int) -> str:
    out = []
    for _ in range(n_words):
        if rng.random() < 0.3:
            out.append(STOPWORDS[int(rng.integers(len(STOPWORDS)))])
        else:
            out.append(vocab[int(rng.integers(len(vocab)))])
    return " ".join(out)


def _good_lines(rng, vocab, n_lines: "tuple[int, int]") -> "list[str]":
    return [_line(rng, vocab, int(rng.integers(9, 15)))
            for _ in range(int(rng.integers(*n_lines)))]


def _low_quality_lines(rng) -> "list[str]":
    return [" ".join(f"{int(rng.integers(10, 99999))}#{int(rng.integers(10))}"
                     for _ in range(int(rng.integers(8, 14))))
            for _ in range(int(rng.integers(6, 10)))]


def _near_copy(rng, vocab, lines: "list[str]") -> "list[str]":
    """Substitute about NEAR_DUP_EDIT_FRAC of the words (at least one)."""
    words = [ln.split(" ") for ln in lines]
    flat = [(i, j) for i, ws in enumerate(words) for j in range(len(ws))]
    n_edit = max(1, int(round(NEAR_DUP_EDIT_FRAC * len(flat))))
    for k in rng.choice(len(flat), size=n_edit, replace=False):
        i, j = flat[int(k)]
        words[i][j] = vocab[int(rng.integers(len(vocab)))]
    return [" ".join(ws) for ws in words]


def _html(lines: "list[str]", title: str) -> str:
    body = "\n".join(f"<p>{ln}</p>" for ln in lines)
    return (f"<html><head><title>{title}</title>"
            f"<style>p {{ margin: 0 }}</style></head><body>\n{body}\n"
            f"<script>track();\nrender();</script>"
            f"<!-- generated page --></body></html>")


def _write_parquet(table: pa.Table, path: str, n_files: int) -> None:
    os.makedirs(path, exist_ok=True)
    n = table.num_rows
    bounds = np.linspace(0, n, n_files + 1).astype(int)
    for f in range(n_files):
        pq.write_table(table.slice(bounds[f], bounds[f + 1] - bounds[f]),
                       os.path.join(path, f"part-{f:03d}.parquet"))


def _dump(obj, path: str) -> None:
    with open(path, "w") as fh:
        json.dump(obj, fh, sort_keys=True, indent=1)


def _cluster_sizes(rng, total: int) -> "list[int]":
    sizes = []
    while sum(sizes) < total:
        s = int(min(CLUSTER_MAX, 1 + rng.zipf(CLUSTER_ZIPF_A)))
        sizes.append(min(s, max(2, total - sum(sizes))))
    return sizes


def _embedder(rng):
    """Unit centroids and a function drawing a unit vector near one."""
    cents = rng.normal(size=(EMB_CLUSTERS, EMB_DIM))
    cents /= np.linalg.norm(cents, axis=1, keepdims=True)

    def emb(c):
        v = cents[c] + 0.35 * rng.normal(size=EMB_DIM)
        return np.round(v / np.linalg.norm(v), 6)

    return cents, emb


def _write_queries(rng, vocab, emb, batches: int, out: str) -> None:
    queries = []
    for b in range(batches):
        for q in range(QUERIES_PER_BATCH):
            words = _line(rng, vocab, 5)
            queries.append((b, b * QUERIES_PER_BATCH + q, words,
                            emb(int(rng.integers(EMB_CLUSTERS)))))
    qt = pa.table({"batch": [q[0] for q in queries],
                   "query_id": [q[1] for q in queries],
                   "query": [q[2] for q in queries],
                   "embedding": [q[3].tolist() for q in queries]})
    _write_parquet(qt, os.path.join(out, "queries"), 1)


def _write_centroids(cents, out: str) -> None:
    pa_cents = pa.table({"cell": pa.array(np.arange(EMB_CLUSTERS,
                                                    dtype=np.int64)),
                         "centroid": [np.round(c, 6).tolist()
                                      for c in cents]})
    _write_parquet(pa_cents, os.path.join(out, "centroids"), 1)


def gen_corpus(seed: int, out: str) -> dict:
    """Raw HTML documents with planted exact duplicates, Zipf-sized
    near-duplicate clusters, shared boilerplate lines and low-quality
    documents; for the search side, a 64-d embedding per document, a
    base search corpus and one query batch."""
    rng = np.random.default_rng([seed, 1])
    vocab = vocabulary()

    def template_line():
        return _line(rng, vocab, int(rng.integers(*SITE_LINE_WORDS)))

    sites = [(template_line(), template_line()) for _ in range(SITES)]
    notices = [template_line() for _ in range(NOTICES)]
    n_low = int(LOW_QUALITY_SHARE * CORPUS_DOCS)
    n_exact_extra = int(EXACT_DUP_SHARE * CORPUS_DOCS)
    near_sizes = _cluster_sizes(rng, int(NEAR_DUP_SHARE * CORPUS_DOCS))
    exact_sizes = []
    while sum(s - 1 for s in exact_sizes) < n_exact_extra:
        exact_sizes.append(int(rng.integers(2, 5)))
    n_unique = (CORPUS_DOCS - n_low - sum(near_sizes) - sum(exact_sizes))

    def with_boiler(lines):
        # the site's header and footer around the body, and on some
        # pages a notice shared across sites
        header, footer = sites[int(rng.integers(SITES))]
        lines = list(lines)
        if rng.random() < NOTICE_SHARE:
            lines.insert(int(rng.integers(len(lines) + 1)),
                         notices[int(rng.integers(NOTICES))])
        return [header] + lines + [footer]

    docs = []  # (kind, group, text)
    for _ in range(n_unique):
        docs.append(("unique", -1, _html(
            with_boiler(_good_lines(rng, vocab, PAGE_LINES)), "page")))
    for g, size in enumerate(exact_sizes):
        text = _html(with_boiler(_good_lines(rng, vocab, PAGE_LINES)), "page")
        docs += [("exact", g, text)] * size
    for g, size in enumerate(near_sizes):
        base = with_boiler(_good_lines(rng, vocab, PAGE_LINES))
        docs.append(("near", g, _html(base, "page")))
        for _ in range(size - 1):
            docs.append(("near", g, _html(_near_copy(rng, vocab, base),
                                          "page")))
    for _ in range(n_low):
        docs.append(("low", -1, _html(_low_quality_lines(rng), "page")))
    ids = rng.permutation(len(docs)).astype(np.int64)

    truth = {"unique": [], "low": [], "exact": [[] for _ in exact_sizes],
             "near": [[] for _ in near_sizes]}
    for (kind, g, _), i in zip(docs, ids.tolist()):
        if g >= 0:
            truth[kind][g].append(i)
        else:
            truth[kind].append(i)
    order = np.argsort(ids)
    table = pa.table({"doc_id": pa.array(ids[order]),
                      "text": pa.array([docs[k][2] for k in order])})
    _write_parquet(table, os.path.join(out, "docs"), INPUT_FILES)
    _dump({k: sorted(v) if k in ("unique", "low") else
           [sorted(g) for g in v] for k, v in truth.items()},
          os.path.join(out, "truth.json"))
    # search side, drawn after the documents so they do not depend on it
    cents, emb = _embedder(rng)
    n = len(docs)
    pq.write_table(pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": [emb(int(c)).tolist()
                      for c in rng.integers(EMB_CLUSTERS, size=n)]}),
        os.path.join(out, "embeddings.parquet"))
    base = pa.table({
        "key": pa.array(BASE_KEY0 + np.arange(SEARCH_BASE_DOCS,
                                              dtype=np.int64)),
        "text": ["\n".join(_good_lines(rng, vocab, DOC_LINES))
                 for _ in range(SEARCH_BASE_DOCS)],
        "embedding": [emb(int(rng.integers(EMB_CLUSTERS))).tolist()
                      for _ in range(SEARCH_BASE_DOCS)]})
    _write_parquet(base, os.path.join(out, "base"), 1)
    _write_queries(rng, vocab, emb, 1, out)
    _write_centroids(cents, out)
    props = {"docs": len(docs), "unique_docs": n_unique,
             "exact_dup_share": round(sum(s - 1 for s in exact_sizes)
                                      / len(docs), 4),
             "exact_group_sizes": sorted(exact_sizes),
             "near_dup_share": round(sum(near_sizes) / len(docs), 4),
             "near_cluster_sizes": sorted(near_sizes),
             "near_dup_edit_frac": NEAR_DUP_EDIT_FRAC,
             "low_quality_share": round(n_low / len(docs), 4),
             "sites": SITES, "site_line_words": list(SITE_LINE_WORDS),
             "notices": NOTICES, "notice_share": NOTICE_SHARE,
             "input_files": INPUT_FILES,
             "search_base_docs": SEARCH_BASE_DOCS,
             "queries_per_batch": QUERIES_PER_BATCH, "emb_dim": EMB_DIM}
    _dump(props, os.path.join(out, "props.json"))
    return props


def gen_events(seed: int, out: str) -> dict:
    """An ordered event stream (arrival order = ``event_id``) with Zipf
    user activity and a share of out-of-order timestamps, plus a user
    dimension table and a per-user tier history for the as-of join."""
    rng = np.random.default_rng([seed, 2])
    p = 1.0 / np.arange(1, USERS + 1) ** USER_ZIPF_S
    users = rng.permutation(USERS).astype(np.int64)
    user = users[rng.choice(USERS, size=EVENTS, p=p / p.sum())]
    t0 = 1_700_000_000_000_000
    gaps = rng.integers(1, 4_000_000, size=EVENTS)  # micros, mean ~2 s
    ts = t0 + np.cumsum(gaps)
    late = rng.random(EVENTS) < OUT_OF_ORDER_SHARE
    ts = ts - late * rng.integers(1_000_000, 600_000_000, size=EVENTS)
    etype = rng.choice(len(EVENT_TYPES), size=EVENTS, p=EVENT_TYPE_P)
    amount = np.where(etype == 3, rng.integers(100, 10_000, size=EVENTS),
                      rng.integers(0, 50, size=EVENTS)).astype(np.int64)
    events = pa.table({
        "event_id": pa.array(np.arange(EVENTS, dtype=np.int64)),
        "user_id": pa.array(user),
        "ts": pa.array(ts, type=pa.timestamp("us", tz="UTC")),
        "event_type": pa.array([EVENT_TYPES[i] for i in etype]),
        "amount": pa.array(amount)})
    _write_parquet(events, os.path.join(out, "events"), INPUT_FILES)
    seg = rng.integers(0, 8, size=USERS)
    dims = pa.table({"user_id": pa.array(np.arange(USERS, dtype=np.int64)),
                     "segment": pa.array([f"seg{s}" for s in seg]),
                     "weight": pa.array(rng.integers(1, 6, size=USERS)
                                        .astype(np.int64))})
    _write_parquet(dims, os.path.join(out, "users"), 1)
    n_changes = rng.integers(1, 5, size=USERS)
    t_user = np.repeat(np.arange(USERS, dtype=np.int64), n_changes)
    t_ts = t0 + rng.integers(-3_600_000_000, int(ts.max() - t0),
                             size=len(t_user))
    tiers = pa.table({"user_id": pa.array(t_user),
                      "ts": pa.array(t_ts, type=pa.timestamp("us", tz="UTC")),
                      "tier": pa.array(rng.integers(0, 4, size=len(t_user))
                                       .astype(np.int64))})
    # one tier row per (user, ts): the as-of join's determinism contract
    df = tiers.to_pandas().drop_duplicates(["user_id", "ts"])
    tiers = pa.Table.from_pandas(df, preserve_index=False)
    _write_parquet(tiers, os.path.join(out, "tiers"), 1)
    _dump({}, os.path.join(out, "truth.json"))
    props = {"events": EVENTS, "users": USERS, "user_zipf_s": USER_ZIPF_S,
             "out_of_order_share": round(float(late.mean()), 4),
             "event_type_p": dict(zip(EVENT_TYPES, EVENT_TYPE_P)),
             "tier_rows": tiers.num_rows, "input_files": INPUT_FILES}
    _dump(props, os.path.join(out, "props.json"))
    return props


def gen_ingest(seed: int, out: str) -> dict:
    """A base corpus, landing shards with 64-d embeddings and
    cross-shard near-duplicates, and query batches.  Shards are written
    to ``shards/`` here; the benchmark's generator thread copies them
    into the landing directory on the schedule."""
    rng = np.random.default_rng([seed, 3])
    vocab = vocabulary()
    cents, emb = _embedder(rng)
    schema = pa.schema([("doc_id", pa.int64()), ("text", pa.string()),
                        ("embedding", pa.list_(pa.float64()))])

    def table(rows):
        return pa.table({"doc_id": [r[0] for r in rows],
                         "text": [r[1] for r in rows],
                         "embedding": [r[2].tolist() for r in rows]},
                        schema=schema)

    next_id = 0
    base = []
    for _ in range(BASE_DOCS):
        base.append((next_id, "\n".join(_good_lines(rng, vocab, DOC_LINES)),
                     emb(int(rng.integers(EMB_CLUSTERS)))))
        next_id += 1
    _write_parquet(table(base), os.path.join(out, "base"), 4)
    landed, n_cross, n_low = [], 0, 0
    os.makedirs(os.path.join(out, "shards"), exist_ok=True)
    for s in range(SHARDS):
        rows = []
        for _ in range(SHARD_DOCS):
            r = rng.random()
            if r < SHARD_CROSS_DUP_SHARE and landed:
                src = landed[int(rng.integers(len(landed)))]
                lines = _near_copy(rng, vocab, src[1].split("\n"))
                rows.append((next_id, "\n".join(lines),
                             np.round(src[2] + 1e-4 * rng.normal(size=EMB_DIM),
                                      6)))
                n_cross += 1
            elif r < SHARD_CROSS_DUP_SHARE + SHARD_LOW_QUALITY_SHARE:
                rows.append((next_id, "\n".join(_low_quality_lines(rng)),
                             emb(int(rng.integers(EMB_CLUSTERS)))))
                n_low += 1
            else:
                rows.append((next_id, "\n".join(_good_lines(rng, vocab,
                                                             DOC_LINES)),
                             emb(int(rng.integers(EMB_CLUSTERS)))))
            next_id += 1
        landed += rows
        pq.write_table(table(rows), os.path.join(out, "shards",
                                                 f"shard-{s:04d}.parquet"))
    _write_queries(rng, vocab, emb, QUERY_BATCHES, out)
    _write_centroids(cents, out)
    _dump({"landed_ids": [int(r[0]) for r in landed]},
          os.path.join(out, "truth.json"))
    props = {"base_docs": BASE_DOCS, "shards": SHARDS,
             "shard_docs": SHARD_DOCS,
             "shard_rate_per_s": SHARD_RATE_PER_S,
             "cross_shard_dup_share": round(n_cross / len(landed), 4),
             "low_quality_share": round(n_low / len(landed), 4),
             "emb_dim": EMB_DIM, "emb_clusters": EMB_CLUSTERS,
             "queries_per_batch": QUERIES_PER_BATCH,
             "state_docs_max": BASE_DOCS + len(landed)}
    _dump(props, os.path.join(out, "props.json"))
    return props


GENERATORS = {"corpus_build": gen_corpus, "ordered_events": gen_events,
              "ingest_and_search": gen_ingest}


def generate(workload: str, seed: int, out: str) -> dict:
    os.makedirs(out, exist_ok=True)
    return GENERATORS[workload](seed, out)
