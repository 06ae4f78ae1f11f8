"""The repository benchmark: one workload, one seed, checked outputs.

    python3 perfbench/run.py --workload corpus_build --seed 1 \
        --seconds 1 --trace 0

Run from the repository root.  The command generates the workload's
inputs and reference results from the seed in a child process
(``inputs.py``), starts a Spark session on ``local[nproc]`` through
``conduino_spark.get_spark``, warms up (one set-up and one unit over
an eighth of the data, untimed), runs the program's one-time set-up
several times, then times the workload's fixed number of units (more,
in whole blocks, while fewer than ``--seconds`` have passed) and checks
every output.

With ``--trace 0`` the last stdout line carries the end-to-end metrics
(see BENCHMARK.json).  With ``--trace 1`` it carries the per-layer
metrics instead: one traced unit runs, then one untraced, and
``trace.overhead_s`` is the difference of their times.  The line before
the last holds the run conditions (seed, master, driver heap, loadavg,
CPU steal, host speed), the input properties, the tail percentiles with
their sample counts, the error rate and any check failures.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("corpus_build", "ordered_events", "ingest_and_search")

TRACE_BLOCK = (True, False)
SECTION_LAYERS = ("operators.search.", "operators.similarity.", "state.")
YOUNG_GEN = "256m"
E2E_UNITS = {"setup_s": "s", "job_s": "s", "commit_p50_s": "s",
             "commit_tail_s": "s", "probe_p50_s": "s", "probe_tail_s": "s",
             "driver_peak_rss_mb": "MB"}


def layer_metric_units() -> "dict[str, str]":
    """Every per-layer metric name with its unit, in print order."""
    from pbtrace import OPERATOR_LAYERS
    u = {"session.start_s": "s", "sources.call_s": "s",
         "plans.build_s": "s", "plans.build_jobs": "count",
         "plans.release_s": "s"}
    for x in OPERATOR_LAYERS:
        u[f"{x}.call_s"] = "s"
        u[f"{x}.call_jobs"] = "count"
    u["operators.sinks.action_s"] = "s"
    u.update({"spark.jobs": "count", "spark.stages": "count",
              "spark.stages_skipped": "count", "spark.tasks": "count",
              "spark.task_s": "s", "spark.stage_span_s": "s",
              "spark.driver_gap_s": "s", "spark.shuffle_write_mb": "MB",
              "spark.shuffle_read_mb": "MB", "spark.spill_mb": "MB",
              "spark.input_mb": "MB", "spark.output_mb": "MB",
              "streaming.call_s": "s", "streaming.batches": "count",
              "streaming.add_batch_s": "s",
              "streaming.trigger_overhead_s": "s",
              "streaming.kept_frac": "ratio",
              "state.merge_s": "s", "state.index_files": "count",
              "state.index_mb": "MB", "state.sig_rows": "count",
              "trace.overhead_s": "s"})
    return u


def _workload(name: str):
    if name == "corpus_build":
        from wl_corpus import Corpus
        return Corpus
    if name == "ordered_events":
        from wl_events import Events
        return Events
    from wl_ingest import Ingest
    return Ingest


def _configure_env(work: str, cpus: int, heap: str) -> None:
    """Keep every file Spark writes inside the work directory, size the
    driver heap, silence the console progress bar, and let executor
    Python workers import the package and the benchmark modules.

    The young generation is fixed at YOUNG_GEN: left to G1, it grows with
    the GC time share, which rises when other guests take the host's CPU,
    and the JVM's peak RSS then moved by 1.3-2.2 GB between runs of one
    input.  Fixed, the peak follows what the driver retains."""
    for d in ("spark-local", "tmp", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEM": heap,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_WAREHOUSE": os.path.join(work, "warehouse"),
        "TMPDIR": tmp,
        "PYTHONPATH": os.pathsep.join([ROOT, HERE]),
        "PYSPARK_SUBMIT_ARGS": (
            "--conf spark.ui.showConsoleProgress=false "
            f"--driver-java-options '-Djava.io.tmpdir={tmp} "
            f"-XX:-UsePerfData -Xmn{YOUNG_GEN}' pyspark-shell"),
    })


def _inputs(workload: str, seed: int, data: str) -> dict:
    """Generate the inputs and references in a child process."""
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "inputs.py"), "--workload",
         workload, "--seed", str(seed), "--out", data],
        capture_output=True, text=True, check=True)
    return json.loads(out.stdout.strip().splitlines()[-1])


def _unit_layers(T, first_span: int, counters: dict, extra: dict) -> dict:
    from pbtrace import OPERATOR_LAYERS
    tot = T.layer_totals(first_span)

    def self_s(layer):
        return tot.get(layer, {}).get("self_s", 0.0)

    def jobs(layer):
        return tot.get(layer, {}).get("jobs", 0)

    m = {"sources.call_s": self_s("sources"),
         "plans.build_s": tot.get("plans.build", {}).get("total_s", 0.0),
         "plans.build_jobs": tot.get("plans.build", {}).get("tree_jobs", 0),
         "plans.release_s": self_s("plans.run_pipe")}
    for x in OPERATOR_LAYERS:
        m[f"{x}.call_s"] = self_s(x)
        m[f"{x}.call_jobs"] = jobs(x)
    m["operators.sinks.action_s"] = self_s("operators.sinks.action")
    m.update({f"spark.{k}": v for k, v in counters.items()})
    m["streaming.call_s"] = self_s("streaming")
    m["state.merge_s"] = self_s("state.merge")
    m.update(extra)
    return m


def run(workload: str, seed: int, seconds: float, trace: bool) -> int:
    sys.path.insert(0, HERE)
    if not os.path.isdir(os.path.join(ROOT, "conduino_spark")):
        print(f"perfbench: no conduino_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import common

    t_start = time.perf_counter()
    cpus = common.nproc()
    heap = common.driver_heap()
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{workload}-{seed}-{os.getpid()}")
    os.makedirs(work)
    # a terminated run still stops its JVM and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        _configure_env(work, cpus, heap)
        data = os.path.join(work, "data")
        props = _inputs(workload, seed, data)
        Wl = _workload(workload)
        phases = {"inputs_s": time.perf_counter() - t_start}

        cpu0, load0 = common.cpu_times(), os.getloadavg()
        calib0 = common.host_calibration_s()
        t = time.perf_counter()
        from conduino_spark import get_spark
        spark = get_spark(f"perfbench-{workload}", cpus=cpus)
        spark.sparkContext.setLogLevel("ERROR")
        session_start = time.perf_counter() - t

        from pbtrace import Tracer
        T = Tracer(spark, f"{workload}-{seed}") if trace else common.NoTrace()
        U = common.NoTrace()
        if trace:
            T.listen_streaming()
        wl = Wl(spark, data, work)
        t = time.perf_counter()
        wl.warm_up()  # a set-up and the unit's plans, compiled; not timed
        phases["warmup_s"] = time.perf_counter() - t
        setup_times = []
        for _ in range(Wl.SETUP_REPS):
            t = time.perf_counter()
            wl.setup(U)
            setup_times.append(time.perf_counter() - t)
        phases["setup_s"] = sum(setup_times)

        attempted = failed = 0
        errors: "list[str]" = []

        def do_unit(tr):
            nonlocal attempted, failed
            try:
                res = wl.unit(tr)
            except Exception:
                traceback.print_exc()
                attempted += 1
                failed += 1
                errors.append("unit raised")
                return None
            attempted += res["attempted"]
            failed += res["failed"]
            errors.extend(res.get("errors", []))
            return res

        if hasattr(wl, "start_timed"):
            wl.start_timed()
        if trace:
            T.collect(0.0, 0.0)  # charge set-up and warm-up jobs to no unit
        # a fixed number of units, so every run has the same shape; a
        # traced run times one traced unit, then one untraced: unit times
        # still fall after the warm-up, so the overhead reads high, not low
        block = TRACE_BLOCK if trace else (False,) * Wl.UNITS
        t_timed = time.perf_counter()
        timed, traced_units, untraced_wall, traced_wall = [], [], [], []
        i = 0
        while True:
            use_trace = block[i % len(block)]
            first = len(T.spans) if trace else 0
            t0 = time.perf_counter()
            res = do_unit(T if use_trace else U)
            t1 = time.perf_counter()
            if trace:
                counters = T.collect(t0, t1)
                if res is not None and use_trace:
                    traced_units.append(_unit_layers(
                        T, first, counters, res.get("layers", {})))
                    traced_wall.append(t1 - t0)
                elif res is not None:
                    untraced_wall.append(t1 - t0)
            if res is not None:
                timed.append(res)
            i += 1
            if (i % len(block) == 0
                    and time.perf_counter() - t_timed >= seconds):
                break
        phases["timed_s"] = time.perf_counter() - t_timed
        # layers the units do not call, measured by a section of their
        # own after the units (traced runs only)
        section = {}
        if trace and hasattr(wl, "search_section"):
            t = time.perf_counter()
            first = len(T.spans)
            res = wl.search_section(T)
            T.collect(t, time.perf_counter())
            section = {k: v for k, v in _unit_layers(T, first, {}, {}).items()
                       if k.startswith(SECTION_LAYERS)}
            attempted += res["attempted"]
            failed += res["failed"]
            errors.extend(res.get("errors", []))
            phases["section_s"] = time.perf_counter() - t
        if hasattr(wl, "finish"):
            fin = wl.finish(T if trace else U)
            attempted += fin["attempted"]
            failed += fin["failed"]
            errors.extend(fin.get("errors", []))
        else:
            fin = {}
        rss_py, rss_jvm = common.driver_peak_rss_mb(spark)
        cpu1, load1 = common.cpu_times(), os.getloadavg()
        calib1 = common.host_calibration_s()

        if trace:
            state = wl.state_metrics() if hasattr(wl, "state_metrics") else {}
            metrics = {}
            units = layer_metric_units()
            for name, unit in units.items():
                if name == "session.start_s":
                    v = session_start
                elif name == "trace.overhead_s":
                    v = (common.median(traced_wall)
                         - common.median(untraced_wall)
                         if traced_wall and untraced_wall else 0.0)
                elif name in state:
                    v = state[name]
                elif name in section:
                    v = section[name]
                else:
                    vals = [u.get(name, 0) for u in traced_units]
                    v = common.median(vals) if vals else 0.0
                metrics[name] = {"value": float(v), "unit": unit}
            spans_dir = os.path.join(os.path.dirname(work), "spans")
            os.makedirs(spans_dir, exist_ok=True)
            spans_file = os.path.join(spans_dir, os.path.basename(work) + ".json")
            T.dump(spans_file)
            tails = {}
            spans_rel = os.path.relpath(spans_file, ROOT)
        else:
            jobs = [r["job_s"] for r in timed]
            # a batch workload has no shard to commit and no live index
            # to probe: each unit is one commit and one probe sample
            commit = ([x for r in timed + [fin] for x in r.get("commit", [])]
                      or jobs)
            probe = [x for r in timed for x in r.get("probe", [])] or jobs
            if not jobs:
                print("perfbench: no completed unit to measure",
                      file=sys.stderr)
                return 1
            ct, cp, cn = common.tail(commit)
            pt, pp, pn = common.tail(probe)
            values = {"setup_s": session_start + common.median(setup_times),
                      "job_s": common.median(jobs),
                      "commit_p50_s": common.median(commit),
                      "commit_tail_s": ct,
                      "probe_p50_s": common.median(probe),
                      "probe_tail_s": pt,
                      "driver_peak_rss_mb": rss_py + rss_jvm}
            metrics = {k: {"value": float(values[k]), "unit": E2E_UNITS[k]}
                       for k in E2E_UNITS}
            tails = {"commit_tail": {"percentile": cp, "samples": cn},
                     "probe_tail": {"percentile": pp, "samples": pn}}
            spans_rel = None
        info = {"workload": workload, "seed": seed, "trace": int(trace),
                "conditions": {
                    "master": f"local[{cpus}]", "driver_heap": heap,
                    "driver_young_gen": YOUNG_GEN,
                    "loadavg_start": [round(x, 2) for x in load0],
                    "loadavg_end": [round(x, 2) for x in load1],
                    "cpu_steal_frac": common.steal_frac(cpu0, cpu1),
                    "host_calibration_s": [calib0, calib1],
                    "seed": seed},
                "input_props": props,
                "session_start_s": round(session_start, 4),
                "driver_peak_rss_mb": {"python": round(rss_py, 1),
                                       "jvm": round(rss_jvm, 1)},
                "setup_program_s": [round(x, 4) for x in setup_times],
                "unit_s": [round(r["job_s"], 3) for r in timed],
                "tails": tails, "spans_file": spans_rel,
                "phases_s": {k: round(v, 3) for k, v in phases.items()},
                "error_rate": round(failed / max(1, attempted), 6),
                "errors": errors[:20],
                "workload_summary": wl.summary()}
        print(json.dumps(info, sort_keys=True))
        print(json.dumps({"correct": failed == 0, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
        return 0
    finally:
        if "pyspark" in sys.modules:
            common.stop_spark()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="least time the timed units take; a run always "
                         "times the workload's fixed number of units")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    return run(a.workload, a.seed, a.seconds, bool(a.trace))


if __name__ == "__main__":
    sys.exit(main())
