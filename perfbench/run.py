"""Benchmark of the routed enrich job: parse -> enrich -> route -> write.

    python3 perfbench/run.py --workload routed_write --seed 1 --seconds 10 --trace 0

Run it from the root of a source tree. It generates the workload's inputs
from ``--seed`` under ``.perfbench_run/``, starts one Spark driver at
``local[<cores>]`` and sets up three times: session start, input
registration and the session's first job. The first set-up also launches
the JVM; the other two stop the session and start a new one in it.
``setup_s`` is the median of the three. After warm-up runs (at least two,
for at least eight seconds) it runs the job in a closed loop: each run
starts when the previous one returns, for ``--seconds`` seconds and at
least three runs. Before each warm-up and timed run, outside its timing,
the driver JVM does a full garbage collection.
Every run's per-sink counts are checked against the counts the generator
derives from the scenarios it assigned, and the first timed run's rows are
read back and compared with the input.

``--trace 0`` prints the end-to-end metrics (medians over the timed runs).
``--trace 1`` instead times cumulative layer cuts, tag-extraction and
write-layout variants, and reads Spark's event log, then prints the
per-layer metrics and writes every span to ``.perfbench_run/traces/``.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. The exit code is 0
only when every run was correct.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUN_DIR = os.path.join(ROOT, ".perfbench_run")
DRIVER_MEMORY = "2g"
SETUPS = 3  # set-ups per untraced run; setup_s is their median
# after the set-ups and before the timed runs, warm-up runs for at least
# WARMUP_S seconds and WARMUP_RUNS runs: the job keeps getting faster for
# about seven runs in a fresh JVM, and a shorter job needs more of them
WARMUP_RUNS = 2
WARMUP_S = 8.0
MIN_RUNS = 3
TRACE_ROUNDS = ["r0", "r1", "r2"]
WARM_ROUND = "warm"  # one untimed round first: the job and every variant plan and compile once
VARIANT_ROUND = TRACE_ROUNDS[-1]  # the variants run in the warm-up round and this one only

END_TO_END = {
    "turns_per_s": "turns/s",
    "core_s_per_mturn": "cpu_s/Mturn",
    "peak_rss_mb": "MB",
    "output_files": "count",
    "output_mb": "MB",
    "setup_s": "s",
}
CUT_LAYERS = ["io.scan", "route.stable_order", "parse.extract", "enrich.join",
              "enrich.assemble", "route.exchange"]
# each workload's sink path, the write call first: routed write, resumable write
SINK_PATHS = {False: ["io.write", "pipeline.sink_count"],
              True: ["checkpoint.write", "checkpoint.snapshot"]}
SPARK_METRICS = {
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.tasks": "count",
    "spark.failed_tasks": "count",
    "spark.spill_mb": "MB",
    "spark.slot_idle_frac": "ratio",
}
PER_LAYER = {
    **{f"{name}_s": "s" for name in CUT_LAYERS + SINK_PATHS[False] + SINK_PATHS[True]},
    **SPARK_METRICS,
    "route.window_shuffle_mb": "MB",
    "route.exchange_shuffle_mb": "MB",
    "route.exchange_task_skew": "ratio",
    "parse.distinct_tag_frac": "ratio",
    "parse.matched_frac": "ratio",
    "route.hot_sink_frac": "ratio",
    "io.sinks": "count",
    "io.files_per_sink_max": "count",
    "enrich.pod_hit_frac": "ratio",
    "enrich.orphan_frac": "ratio",
    "trace.overhead_frac": "ratio",
    "trace.layer_gap_frac": "ratio",
    "parse.extract_native_s": "s",
    "parse.extract_pandas_s": "s",
    "parse.extract_fast_s": "s",
    "io.write_direct_s": "s",
}


def _confine(work: str, trace: bool) -> None:
    """Keep Spark's scratch space, temp files and event log under ``work``
    and size the driver for a shared host. Must run before the JVM starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    conf = {"spark.ui.showConsoleProgress": "false"}
    if trace:
        os.makedirs(os.path.join(work, "eventlog"), exist_ok=True)
        conf |= {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
        }
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(f"--conf {k}={v}" for k, v in conf.items()) + " pyspark-shell"


class Runs:
    """Attempted and failed runs of one invocation."""

    def __init__(self, inp):
        self.inp = inp
        self.attempted = 0
        self.failed = 0

    def run(self, what: str, fn, readback: str | None = None) -> dict[str, int] | None:
        """Run ``fn`` and check the per-sink counts it returns, and with
        ``readback`` the rows it wrote there. A run that raises or fails a
        check is reported and counted; None is returned for it."""
        from perfbench import jobs

        self.attempted += 1
        try:
            counts = fn()
            errors = [] if counts == self.inp.expected_counts else [
                f"per-sink counts {counts} != expected {self.inp.expected_counts}"]
            if readback and not errors:
                errors = jobs.readback_errors(readback, self.inp)
        except Exception:  # a failed run is a measured outcome
            traceback.print_exc()
            counts, errors = None, ["raised"]
        if errors:
            self.failed += 1
            print(f"FAILED {what}: " + "; ".join(errors), file=sys.stderr)
            return None
        return counts


def set_up(start_session, runs: Runs, inp, resumable: bool, out: str) -> tuple[object, float]:
    """One set-up: a session start, input registration and the session's
    first job. Returns the session and the set-up's time."""
    from perfbench import jobs

    t0 = time.perf_counter()
    spark = start_session()
    runs.run("set-up", lambda: jobs.run_job(spark, inp, out, resumable))
    seconds = time.perf_counter() - t0
    jobs.remove_output(out)
    return spark, seconds


def measure(start_session, inp, resumable: bool, seconds: float, work: str) -> tuple[Runs, dict]:
    """Set up SETUPS times, each time in a new session of the same JVM,
    warm up, then run the job in a closed loop; end-to-end metrics."""
    from perfbench import jobs, procstat

    runs = Runs(inp)
    out = os.path.join(work, "out")
    setups = []
    for i in range(SETUPS):
        if i:
            spark.stop()
        spark, t = set_up(start_session, runs, inp, resumable, out)
        setups.append(t)
    warm_until = time.perf_counter() + WARMUP_S
    warm = 0
    while warm < WARMUP_RUNS or time.perf_counter() < warm_until:
        # as before a timed run: the run after the first full collection is slower
        jobs.collect_garbage(spark)
        runs.run("warm-up", lambda: jobs.run_job(spark, inp, out, resumable))
        jobs.remove_output(out)
        warm += 1

    samples: dict[str, list[float]] = {k: [] for k in END_TO_END if k != "setup_s"}
    deadline = time.perf_counter() + seconds
    timed = 0
    while timed < MIN_RUNS or time.perf_counter() < deadline:
        # an old-generation collection of earlier runs' garbage would land
        # in some timed runs and not in others
        jobs.collect_garbage(spark)
        pids = procstat.descendants()
        procstat.reset_peak(pids)
        cpu0 = procstat.cpu_seconds(pids)
        t0 = time.perf_counter()
        run = {}

        def job():
            counts = jobs.run_job(spark, inp, out, resumable)
            run["wall"] = time.perf_counter() - t0
            pids = procstat.descendants()
            run["cpu"] = procstat.cpu_delta(cpu0, procstat.cpu_seconds(pids))
            run["rss"] = procstat.peak_rss_mb(pids)
            return counts

        if runs.run("timed run", job, readback=out if timed == 0 else None) is not None:
            files = jobs.output_files(out)
            samples["turns_per_s"].append(inp.turns / run["wall"])
            samples["core_s_per_mturn"].append(run["cpu"] / inp.turns * 1e6)
            samples["peak_rss_mb"].append(run["rss"])
            samples["output_files"].append(len(files))
            samples["output_mb"].append(sum(b for _, b in files) / 1e6)
        timed += 1
        jobs.remove_output(out)
    metrics = {k: statistics.median(v) for k, v in samples.items() if v}
    metrics["setup_s"] = statistics.median(setups)
    samples["setup_s"] = setups
    for k, v in samples.items():
        print(f"samples {k}: " + " ".join(f"{x:.5g}" for x in v))
    return runs, metrics


def traced(spark, inp, resumable: bool, work: str) -> tuple[Runs, dict, list, list[str]]:
    """Per round: the layer cuts, the write cut, and the untraced and the
    traced job. The untimed warm-up round and the variant round also run
    the variants: each tag extractor, the write with
    ``route_exchange=False`` and the other sink path, so every sink layer
    is measured on every workload. The untraced job is timed by one span
    around it, without job groups."""
    from perfbench import jobs
    from fluent_plugin_kubernetes_metadata_filter_spark import pipeline, io
    from fluent_plugin_kubernetes_metadata_filter_spark.config import PipelineConfig

    cfg = PipelineConfig()
    runs = Runs(inp)
    out = os.path.join(work, "out")
    tr = jobs.Tracer(spark)
    cut_list = jobs.cuts(spark, inp, cfg)
    variants = jobs.extraction_variants(spark, inp)
    direct = jobs.direct_write_config(cfg)
    absent = [f"parse.extract_{m}_s" for m, fn in variants.items() if fn is None]
    if direct is None:
        absent.append("io.write_direct_s")

    def write_direct():
        with tr.span("io.write_direct", group=True):
            io.write_routed(pipeline.routed_frames(*jobs.read_inputs(spark, inp), direct),
                            out, direct.route_column)
        return dict(pipeline.written_sink_counts(out, direct.route_column))

    layout = {}
    for i, rid in enumerate([WARM_ROUND] + TRACE_ROUNDS):
        warm = rid == WARM_ROUND
        tr.run_id = rid
        # the warm-up round leaves out the noop cuts and the traced job:
        # the write cut and the untraced job run the same code
        for name, make in [] if warm else cut_list:
            with tr.span(name, group=True):
                jobs.noop(make())
        # the write cut, the untraced job and the traced job run back to
        # back, so JIT warm-up drift between them stays small
        counts = runs.run("write cut", lambda: jobs.write_cut(spark, inp, out, resumable, cfg, tr))
        if counts is not None and not layout:
            per_sink: dict[str, int] = {}
            for d, _ in jobs.output_files(out):
                per_sink[d] = per_sink.get(d, 0) + 1
            layout = {
                "io.sinks": len(counts),
                "io.files_per_sink_max": max(per_sink.values()),
                "route.hot_sink_frac": max(counts.values()) / sum(counts.values()),
            }
        jobs.remove_output(out)

        def untraced_job():
            tr.run_id = rid
            with tr.span("untraced_job"):
                runs.run("untraced job", lambda: jobs.run_job(spark, inp, out, resumable))

        def traced_job():
            tr.run_id = f"{rid}.job"
            with tr.span("job", group=True):
                runs.run("traced job", lambda: jobs.run_job(spark, inp, out, resumable, cfg, tr))

        # alternate which of the two goes first
        for job in [untraced_job] if warm else (untraced_job, traced_job)[:: 1 if i % 2 else -1]:
            job()
            jobs.remove_output(out)

        if rid not in (WARM_ROUND, VARIANT_ROUND):
            continue
        tr.run_id = rid
        for m, make in variants.items():
            if make is not None:
                with tr.span(f"parse.extract_{m}", group=True):
                    jobs.noop(make())
        if direct is not None:
            runs.run("direct write", write_direct)
            jobs.remove_output(out)
        runs.run("other sink path", lambda: jobs.write_cut(spark, inp, out, not resumable, cfg, tr))
        jobs.remove_output(out)

    counters = jobs.enrich_counters(spark, inp, cfg)
    med = {s: statistics.median(sum(tr.seconds(s, rid)) for rid in TRACE_ROUNDS)
           for s in {x["name"] for x in tr.spans}}
    once = {s["name"]: s["end"] - s["start"] for s in tr.spans if s["run"] == VARIANT_ROUND}
    cut = [med[name] for name, _ in cut_list]
    metrics = {f"{name}_s": t - prev for name, t, prev in zip(CUT_LAYERS, cut, [0.0] + cut)}
    for path, times in ((resumable, med), (not resumable, once)):
        metrics |= {f"{name}_s": times[name] for name in SINK_PATHS[path]}
        # the write call recomputes every cut before it
        metrics[f"{SINK_PATHS[path][0]}_s"] -= times[cut_list[-1][0]]
    for m in jobs.EXTRACTION_METHODS:
        metrics[f"parse.extract_{m}_s"] = once.get(f"parse.extract_{m}", 0.0)
    metrics["io.write_direct_s"] = once["io.write_direct"] - once["enrich.assemble"] if direct else 0.0
    untraced_s = med["untraced_job"]
    traced_s = statistics.median(sum(tr.seconds("job", f"{rid}.job")) for rid in TRACE_ROUNDS)
    layer_sum = sum(metrics[f"{n}_s"] for n in CUT_LAYERS + SINK_PATHS[resumable])
    total = counters["events_total"]
    metrics |= layout | {
        "trace.overhead_frac": (traced_s - untraced_s) / untraced_s,
        "trace.layer_gap_frac": abs(layer_sum - untraced_s) / untraced_s,
        "parse.matched_frac": 1 - counters["passthrough"] / total,
        "enrich.pod_hit_frac": counters["pod_enriched"] / total,
        "enrich.orphan_frac": counters["id_cache_orphaned_record"] / total,
        "parse.distinct_tag_frac": inp.properties["parse.distinct_tag_frac"],
    }
    return runs, metrics, tr.spans, absent


def spark_metrics(log_dir: str, spans: list[dict], cores: int) -> tuple[dict, dict]:
    """Event-log metrics per job group, as medians over the measured
    rounds; also every group's totals, for the trace file."""
    from perfbench import eventlog

    groups = eventlog.read_groups(eventlog.event_files(log_dir))
    job_wall = {s["run"]: s["end"] - s["start"] for s in spans if s["name"] == "job"}
    per_round = []
    for r in TRACE_ROUNDS:
        def g(name: str, run: str = r) -> eventlog.GroupStats:
            return groups.get(f"{run}/{name}", eventlog.GroupStats())

        job = g("job", f"{r}.job").metrics(cores, job_wall.get(f"{r}.job"))
        m = {k: job[k] for k in SPARK_METRICS}
        m["route.window_shuffle_mb"] = g("route.stable_order").shuffle_write_bytes / eventlog.MB
        m["route.exchange_shuffle_mb"] = (
            g("route.exchange").shuffle_write_bytes - g("enrich.assemble").shuffle_write_bytes) / eventlog.MB
        m["route.exchange_task_skew"] = g("route.exchange").last_stage_skew()
        per_round.append(m)
    out = {k: statistics.median(m[k] for m in per_round) for k in per_round[0]}
    return out, {k: vars(v) for k, v in groups.items()}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    from perfbench import gen, procstat
    from fluent_plugin_kubernetes_metadata_filter_spark.session import build_session

    wl = gen.WORKLOADS[args.workload]
    # a terminated run still stops its JVM and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    cores = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    work = os.path.join(RUN_DIR, f"{wl.name}-s{args.seed}-{os.getpid()}")
    _confine(work, bool(args.trace))
    active = []

    def start_session():
        spark = build_session(app=f"perfbench-{wl.name}", master=f"local[{cores}]")
        spark.sparkContext.setLogLevel("ERROR")
        active[:] = [spark]
        return spark

    try:
        t = time.perf_counter()
        inp = gen.generate(wl, args.seed, os.path.join(work, "inputs"))
        gen_s = time.perf_counter() - t
        if args.trace:
            spark = start_session()
            runs, metrics, spans, absent = traced(spark, inp, wl.resumable, work)
            spark.stop()
            ev, groups = spark_metrics(os.path.join(work, "eventlog"), spans, cores)
            metrics |= ev
            units = PER_LAYER
            os.makedirs(os.path.join(RUN_DIR, "traces"), exist_ok=True)
            trace_path = os.path.join(RUN_DIR, "traces", f"{wl.name}-seed{args.seed}.json")
            with open(trace_path, "w") as fh:
                json.dump({"workload": wl.name, "seed": args.seed, "cores": cores,
                           "inputs": inp.properties, "absent": absent, "metrics": metrics,
                           "spans": spans, "job_groups": groups}, fh, indent=1)
            print(f"trace written to {os.path.relpath(trace_path, ROOT)}")
            if absent:
                print("absent variants (reported as 0): " + ", ".join(absent))
        else:
            runs, metrics = measure(start_session, inp, wl.resumable, args.seconds, work)
            units = END_TO_END
    finally:
        try:
            if active:
                active[0].stop()
        except Exception:  # a broken gateway must not keep the JVM alive
            traceback.print_exc()
        procstat.stop_all(procstat.descendants())
        shutil.rmtree(work, ignore_errors=True)

    print(f"workload {wl.name}: {wl.why}")
    print(f"inputs: seed {args.seed}, {inp.turns} turns, generated in {gen_s:.2f} s, "
          + ", ".join(f"{k} {v:.4g}" for k, v in inp.properties.items()))
    print(f"load: one driver at local[{cores}], closed loop, {runs.attempted} runs attempted")
    print(f"failed_frac {runs.failed / runs.attempted:.4g} ratio")
    missing = [k for k in units if k not in metrics]
    for k in units:
        if k in metrics:
            print(f"{k} {metrics[k]:.6g} {units[k]}")
    correct = runs.failed == 0 and not missing
    print(json.dumps({
        "correct": correct,
        "attempted": runs.attempted,
        "failed": runs.failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units if k in metrics},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
