"""ordered_events: a fixed suite of short conduino-algebra pipelines,
run back to back in a closed loop.

Each pipeline reads the generated event stream (``event_id`` is the
stream order) and its result is compared with a reference computed by
numpy or DuckDB from the same files, in the child process that
generates the inputs (``inputs.py``).  One unit = the whole suite.
"""

from __future__ import annotations

import os
import pickle
import shutil
import time

import numpy as np
import pyarrow.parquet as pq

from conduino_spark import (SEQ, asof_join, consecutive, feedback_pipe,
                            filter_, fold, funnel, group_agg, join, map_,
                            map_accum_chunked, pairs, read_parquet,
                            rolling_agg, scan, scan_multi, sessionize,
                            sink_df, sink_list, take, zip_sink)
from conduino_spark.streaming import file_stream_source, run_stream_to_memory

import common

REFS = "refs.pickle"  # written by inputs.py

TAKE_N = 1000
SESSION_GAP_S = 1800.0
ROLL_S = 3600.0
FUNNEL = ["view", "cart", "buy"]
EVENT_SCHEMA = ("event_id long, user_id long, ts timestamp, "
                "event_type string, amount long")
STREAM_KEEP = "buy"


def new_max_step(v, s):
    """Running max, emitting 1.0 when an element sets a new max."""
    return (max(s, v), 1.0 if v > s else 0.0)


def _rows(df) -> "list[tuple]":
    return sorted(tuple(r) for r in df.drop(SEQ).collect())


def _first_diff(got, want) -> str:
    try:
        got, want = list(got), list(want)
    except TypeError:
        return f"got {got!r}, want {want!r}"
    for i, (g, w) in enumerate(zip(got, want)):
        if g != w:
            return f"row {i}: got {g!r}, want {w!r}"
    return f"lengths {len(got)} vs {len(want)}"


def references(data: str) -> dict:
    """Every pipeline's expected result, from numpy and DuckDB."""
    import duckdb
    tab = pq.read_table(os.path.join(data, "events")).sort_by("event_id")
    ts_us = tab.column("ts").cast("int64").to_numpy()
    ev = tab.drop(["ts"]).to_pandas()
    amt = ev["amount"].to_numpy()
    user = ev["user_id"].to_numpy()
    ref = {"scan": np.cumsum(amt).tolist()}
    ref["scan_multi"] = list(zip(np.cumsum(amt).tolist(),
                                 np.maximum.accumulate(amt).tolist(),
                                 range(1, len(amt) + 1)))
    ref["pairs"] = list(zip(user[:-1].tolist(), user[1:].tolist()))
    a = amt.tolist()
    wins = [a[max(0, i - 3):i] for i in range(len(a))] + [a[-3:]]
    ref["consecutive"] = [w for w in wins if len(w) == 3]
    ref["take_sequel"] = int(amt[TAKE_N:].sum())
    s, outs = -1.0, []
    for v in a:
        s, o = new_max_step(v, s)
        outs.append(o)
    ref["map_accum_chunked"] = outs
    order = np.lexsort((ts_us, user))
    gap = np.diff(ts_us[order]) > int(SESSION_GAP_S * 1e6)
    new = np.concatenate([[0], (gap & (user[order][1:] == user[order][:-1]))])
    first = np.concatenate([[True], user[order][1:] != user[order][:-1]])
    csum = np.cumsum(new)
    base = np.maximum.accumulate(np.where(first, csum, 0))
    sess = np.empty(len(a), dtype=np.int64)
    sess[order] = csum - base
    ref["sessionize"] = sorted(zip(ev["event_id"].tolist(), sess.tolist()))
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in ("events", "users", "tiers"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(data, t)}/*.parquet')")
    ref["rolling_agg"] = sorted(con.execute(f"""
        SELECT event_id,
               sum(amount) OVER w AS amt_1h, count(*) OVER w AS n_1h
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                     RANGE BETWEEN {int(ROLL_S * 1e6)} PRECEDING
                     AND CURRENT ROW)""").fetchall())
    ref["asof_join"] = sorted(con.execute("""
        SELECT e.event_id, t.tier FROM events e
        ASOF LEFT JOIN tiers t ON e.user_id = t.user_id AND e.ts >= t.ts
        """).fetchall())
    fun = []
    for u, g in ev.assign(us=ts_us).groupby("user_id"):
        t, ok, times = -1, True, []
        for step in FUNNEL:
            c = g.loc[(g["event_type"] == step) & (g["us"] > t), "us"]
            if c.empty:
                ok = False
                break
            t = int(c.min())
            times.append(t / 1e6)
        if ok:
            fun.append((int(u), *times))
    ref["funnel"] = sorted(fun)
    ref["zip_sink"] = (int(amt.sum()), int(amt.max()))
    ref["group_join"] = sorted(con.execute("""
        SELECT u.segment, count(*), sum(e.amount) FROM events e
        JOIN users u USING (user_id) GROUP BY u.segment""").fetchall())
    vals = [(i % 64) + 1 for i in
            pq.read_table(os.path.join(data, "users"))["user_id"].to_pylist()]
    out, work = [], vals
    while True:
        work = [v // 2 for v in work if v > 1]
        if not work:
            break
        out += work
    ref["feedback_pipe"] = sorted(out)
    buy = ev["event_type"].to_numpy() == STREAM_KEEP
    ref["stream_filter"] = sorted(zip(ev["event_id"][buy].tolist(),
                                      amt[buy].tolist()))
    return ref


class Events:
    SETUP_REPS = 3
    UNITS = 1

    def __init__(self, spark, data: str, work: str):
        self.spark = spark
        self.data = data
        with open(os.path.join(data, REFS), "rb") as fh:
            self.ref = pickle.load(fh)
        self.input_files = len(os.listdir(os.path.join(data, "events")))
        # the warm-up streams the first input file alone
        self.warm_events = os.path.join(work, "warm-events")
        os.makedirs(self.warm_events)
        shutil.copyfile(os.path.join(data, "events", "part-000.parquet"),
                        os.path.join(self.warm_events, "part-000.parquet"))
        self.stream_t0 = 0.0
        self.units = 0
        self.latency: "dict[str, float]" = {}

    def setup(self, T) -> None:
        """Open the inputs: the event stream and the two dimension sides."""
        self.users = read_parquet(os.path.join(self.data, "users"))
        self.tiers = read_parquet(os.path.join(self.data, "tiers"))
        self.users.df(self.spark).schema
        self.tiers.df(self.spark).schema

    def _events(self, T, part: str = ""):
        path = os.path.join(self.data, "events", part)
        return T.source(read_parquet(path, seq_col="event_id"))

    def warm_up(self) -> None:
        """A set-up, then the suite once over the first input file,
        unchecked: it compiles the same plans at an eighth of the
        data."""
        self.setup(common.NoTrace())
        for _, run in self.pipelines(common.NoTrace(), "part-000.parquet"):
            run()

    def pipelines(self, T, part: str = ""):
        """(name, run) for every pipeline of the suite, in order."""
        sp = self.spark

        def ev():
            return self._events(T, part)

        def collected(p):
            df = T.run_pipe(p, sp)
            with T.span("operators.sinks.action", "collect"):
                return _rows(df)

        def feedback():
            halve = (T.op(filter_, "v > 1")
                     | T.op(map_, {"v": "v div 2"}))
            src = (T.source(read_parquet(os.path.join(self.data, "users")))
                   | T.op(map_, {"v": "user_id % 64 + 1"}))
            out = T.call("lift", feedback_pipe, halve, src, sp, max_iters=20)
            with T.span("operators.sinks.action", "collect"):
                return sorted(r["v"] for r in out.collect())

        def streamed():
            # the same stage algebra run incrementally: every input file
            # is one micro-batch of an AvailableNow file stream
            path = (self.warm_events if part
                    else os.path.join(self.data, "events"))
            src = (T.source(file_stream_source(path, EVENT_SCHEMA,
                                               seq_col="event_id"))
                   | T.op(filter_, f"event_type = '{STREAM_KEEP}'")
                   | T.op(map_, {"event_id": "event_id", "amount": "amount"}))
            self.stream_t0 = time.perf_counter()
            out = T.call("streaming", run_stream_to_memory, src, sp)
            with T.span("operators.sinks.action", "collect"):
                return _rows(out)

        return [
            ("scan", lambda: T.run_pipe(
                ev() | T.op(scan, "sum", "amount") | sink_list(), sp)),
            ("scan_multi", lambda: T.run_pipe(
                ev() | T.op(scan_multi, {"cs": ("sum", "amount"),
                                         "mx": ("max", "amount"),
                                         "n": ("count", "amount")},
                            keep=False) | sink_list(), sp)),
            ("pairs", lambda: T.run_pipe(
                ev() | T.op(pairs, col="user_id") | sink_list(), sp)),
            ("consecutive", lambda: T.run_pipe(
                ev() | T.op(consecutive, 3, col="amount", full_only=True)
                | sink_list(), sp)),
            ("take_sequel", lambda: T.run_pipe(
                ev() | (T.op(take, TAKE_N) >> fold("amount", how="sum")), sp)),
            ("map_accum_chunked", lambda: T.run_pipe(
                ev() | T.op(map_accum_chunked, new_max_step, -1.0, merge=max,
                            identity=float("-inf"), col="amount")
                | sink_list(), sp)),
            ("sessionize", lambda: collected(
                ev() | T.op(sessionize, "ts", SESSION_GAP_S)
                | T.op(map_, {"event_id": "event_id",
                              "session_id": "session_id"}) | sink_df())),
            ("rolling_agg", lambda: collected(
                ev() | T.op(rolling_agg, "ts", ROLL_S, keys=("user_id",),
                            aggs={"amt_1h": ("sum", "amount"),
                                  "n_1h": ("count", "*")})
                | T.op(map_, {"event_id": "event_id", "amt_1h": "amt_1h",
                              "n_1h": "n_1h"}) | sink_df())),
            ("asof_join", lambda: collected(
                ev() | T.op(asof_join, self.tiers, on="user_id",
                            left_time="ts", right_cols={"tier": "tier"})
                | T.op(map_, {"event_id": "event_id", "tier": "tier"})
                | sink_df())),
            ("funnel", lambda: collected(
                ev() | T.op(funnel, FUNNEL) | sink_df())),
            ("zip_sink", lambda: T.run_pipe(
                ev() | zip_sink(fold("amount", how="sum"),
                                fold("amount", how="max")), sp)),
            ("group_join", lambda: collected(
                ev() | T.op(join, self.users, "user_id", broadcast=True)
                | T.op(group_agg, ["segment"], {"n": "count(*)",
                                                "amt": "sum(amount)"})
                | sink_df())),
            ("feedback_pipe", feedback),
            ("stream_filter", streamed),
        ]

    def _same(self, name: str, got) -> bool:
        want = self.ref[name]
        if name == "zip_sink":
            return tuple(int(x) for x in got) == want
        if name == "take_sequel":
            return int(got) == want
        if name == "consecutive":
            return [list(w) for w in got] == want
        if name in ("scan_multi", "pairs", "stream_filter"):
            return [tuple(int(x) for x in r) for r in got] == want
        return list(got) == want

    def unit(self, T) -> dict:
        t0 = time.perf_counter()
        failed, errors = 0, []
        pipes = self.pipelines(T)
        for name, run in pipes:
            s, got = time.perf_counter(), None
            try:
                with T.span("pipeline", name):
                    got = run()
                ok = self._same(name, got)
            except Exception as e:  # counted, reported, suite continues
                ok = False
                errors.append(f"{name} raised {e!r}"[:300])
            self.latency[name] = round(time.perf_counter() - s, 3)
            if not ok:
                failed += 1
                errors.append(f"{name} differs from its reference: "
                              f"{_first_diff(got, self.ref[name])}")
        self.units += 1
        layers = common.streaming_layers(T, self.stream_t0, self.input_files)
        layers["streaming.kept_frac"] = (len(self.ref["stream_filter"])
                                         / len(self.ref["scan"]))
        return {"job_s": time.perf_counter() - t0, "attempted": len(pipes),
                "failed": failed, "errors": errors, "layers": layers}

    def summary(self) -> dict:
        return {"events": len(self.ref["scan"]), "suites": self.units,
                "last_suite_s": self.latency}
