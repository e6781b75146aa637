"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. The run builds its inputs from the
seed, runs the workload in a fresh ``local[nproc]`` Spark session, checks
every output, prints a report (one ``name: value unit`` line per metric)
and, as the last line, one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones, measured with tracing off; with
``--trace 1`` they are the per-layer ones from a traced run, whose spans
and per-phase metrics are also written under ``.perfbench/traces/``.
"""

from __future__ import annotations

import argparse
import contextlib
import fcntl
import json
import os
import shutil
import signal
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

WORKLOADS = ("extract_fleet", "analytics_headline")
STATE_DIR = os.path.join(ROOT, ".perfbench")

# End-to-end metrics every workload reports, by the workload's own name
# for the quantity (the names printed in the report).
E2E = {
    "cold_s": {"extract_fleet": "extract_cold_s", "analytics_headline": "query_cold_total_s"},
    "steady_s": {"extract_fleet": "extract_incr_s", "analytics_headline": "query_steady_pass_s"},
}
# Per-layer metrics every workload reports. Suffix ``.cold`` is the cold
# round or pass; ``.steady`` is the median incremental round
# (extract_fleet) or the median steady pass (analytics_headline).
GENERIC_LAYERS = [
    ("spark.jobs", "count"), ("spark.tasks", "count"), ("spark.executor_cpu_s", "s"),
    ("spark.shuffle_write_mb", "MB"), ("driver.gap_s", "s"),
]
# Counts of layers only one workload exercises; 0 on the other one. The
# layers' times are in the trace file only, since a time that is 0 on
# every run of the other workload measures nothing there.
EXTRACT_LAYERS = [
    ("sources.listing.calls", "count"), ("sources.listing.useful_ratio", "ratio"),
    ("sources.listing.entries", "count"), ("sources.discover.spark_jobs", "count"),
    ("operators.batcher.tasks", "count"), ("operators.batcher.python_mb_sent", "MB"),
    ("operators.checkpoints.upsert_calls", "count"),
    ("operators.checkpoints.load_calls", "count"), ("sinks.mirror.files_written", "count"),
    ("sinks.mirror.mb_written", "MB"), ("sinks.mirror.useful_ratio", "ratio"),
]
ANALYTICS_LAYERS = [("operators.materialize.builds", "count"),
                    ("operators.materialize.mb_written", "MB")]


def per_layer_names() -> list[tuple[str, str]]:
    out = [(f"{n}.{s}", u) for n, u in GENERIC_LAYERS for s in ("cold", "steady")]
    out += [(f"{n}.{s}", u) for n, u in EXTRACT_LAYERS for s in ("cold", "incr")]
    out += [(f"{n}.{s}", u) for n, u in ANALYTICS_LAYERS for s in ("cold", "steady")]
    return out


def _stop_session(spark) -> None:
    """Stop Spark and the JVM it launched, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - never leave the JVM behind
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def run_workload(workload: str, seed: int, seconds: float, trace: bool, run_dir: str,
                 cores: int) -> dict:
    from perfbench import analytics, extract
    from perfbench.harness import Clock, Ops, RssSampler, start_session, warm_up
    from perfbench.trace import Tracer

    module = extract if workload == "extract_fleet" else analytics
    event_dir = os.path.join(run_dir, "eventlog") if trace else None
    ops = Ops()
    with RssSampler() as rss:
        with Clock() as session:
            spark = start_session(run_dir, cores, event_dir)
        try:
            with Clock() as warm:
                # the headline queries start no Python workers; the extractor does
                warm_up(spark, python_workers=module is extract)
            inputs, gen_times = module.make_inputs(run_dir, seed)
            tracer = Tracer(spark, trace)
            if module is extract:
                ctx = extract.instrument(tracer) if trace else contextlib.nullcontext()
                with ctx:
                    res = extract.run(spark, tracer, ops, inputs, run_dir, seconds)
            else:
                res = analytics.run(spark, tracer, ops, inputs, seed, seconds)
        finally:
            _stop_session(spark)
    e2e = dict(res["e2e"])
    e2e["setup_s"] = (session.seconds + warm.seconds + statistics.median(gen_times), "s")
    e2e["peak_rss_mb"] = (rss.peak_mb, "MB")
    info = {"session_s": session.seconds, "warmup_s": warm.seconds, "inputs_s": gen_times,
            "rss_at_peak_mb": rss.at_peak}
    out = {"ops": ops, "e2e": e2e, "info": info, "phases": None, "spans": []}
    if trace:
        from perfbench.eventlog import find_log, read_jobs

        jobs = read_jobs(find_log(event_dir))
        out["phases"] = module.summarize(tracer.spans, jobs, res)
        out["spans"] = [vars(s) for s in tracer.spans]
    return out


def layer_metrics(workload: str, phases: dict) -> dict[str, float]:
    steady = phases["incr"] if workload == "extract_fleet" else phases["steady"]
    values = {}
    for name, _ in GENERIC_LAYERS:
        values[f"{name}.cold"] = phases["cold"][name]
        values[f"{name}.steady"] = steady[name]
    for name, _ in EXTRACT_LAYERS:
        for s in ("cold", "incr"):
            values[f"{name}.{s}"] = phases[s][name] if workload == "extract_fleet" else 0
    for name, _ in ANALYTICS_LAYERS:
        for s in ("cold", "steady"):
            values[f"{name}.{s}"] = phases[s][name] if workload == "analytics_headline" else 0
    return values


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops Spark and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(os.path.join(ROOT, "lakeview_spark")):
        print(f"perfbench: no lakeview_spark package under {ROOT}; run from a full checkout",
              file=sys.stderr)
        return 2

    from perfbench.harness import host_cores, other_spark_jvms, pin_environment

    os.makedirs(STATE_DIR, exist_ok=True)
    with open(os.path.join(STATE_DIR, "lock"), "w") as lock:
        # one workload at a time per checkout
        fcntl.flock(lock, fcntl.LOCK_EX)
        cores = host_cores()
        others = other_spark_jvms()
        run_dir = os.path.join(STATE_DIR, f"run-{args.workload}-{args.seed}-{os.getpid()}")
        pin_environment(ROOT, run_dir, cores)
        t0 = time.perf_counter()
        try:
            out = run_workload(args.workload, args.seed, args.seconds, bool(args.trace),
                               run_dir, cores)
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)
        wall = time.perf_counter() - t0

    ops, e2e = out["ops"], out["e2e"]
    print(f"workload: {args.workload}  seed: {args.seed}  cores: {cores}  trace: {args.trace}  "
          f"wall_s: {wall:.1f}  other_spark_jvms: {others}")
    print("info: " + "  ".join(f"{k} {v}" for k, v in out["info"].items()))
    for name, (value, unit) in sorted(e2e.items()):
        print(f"{name}: {value:.6g} {unit}")
    print(f"ops_attempted: {ops.attempted}\nops_failed: {ops.failed}\n"
          f"error_rate: {ops.failed / max(1, ops.attempted):.6g}\ncorrect: {ops.failed == 0}")
    for failure in ops.failures[:20]:
        print(f"FAILED: {failure}")

    results = os.path.join(STATE_DIR, "results")
    os.makedirs(results, exist_ok=True)
    with open(os.path.join(results, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"),
              "w") as f:
        json.dump({k: v for k, (v, _) in e2e.items()}, f)

    if args.trace:
        metrics = layer_metrics(args.workload, out["phases"])
        units = dict(per_layer_names())
        overhead = {}
        untraced = os.path.join(results, f"{args.workload}-seed{args.seed}-trace0.json")
        if os.path.exists(untraced):
            with open(untraced) as f:
                base = json.load(f)
            overhead = {k: e2e[k][0] / base[k] - 1 for k in base if k in e2e and base[k]}
        for phase, values in out["phases"].items():
            for name, value in sorted(values.items()):
                print(f"{name}.{phase}: {value:.6g}")
        for name, value in sorted(overhead.items()):
            print(f"tracing_overhead.{name}: {value:+.2%}")
        traces = os.path.join(STATE_DIR, "traces")
        os.makedirs(traces, exist_ok=True)
        with open(os.path.join(traces, f"{args.workload}-seed{args.seed}.json"), "w") as f:
            json.dump({"workload": args.workload, "seed": args.seed, "cores": cores,
                       "e2e": {k: v for k, (v, _) in e2e.items()}, "phases": out["phases"],
                       "tracing_overhead": overhead, "spans": out["spans"]}, f, indent=1)
        result = {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}
    else:
        result = {"setup_s": {"value": e2e["setup_s"][0], "unit": "s"}}
        for generic, by_workload in E2E.items():
            result[generic] = {"value": e2e[by_workload[args.workload]][0], "unit": "s"}
    print(json.dumps({"correct": ops.failed == 0, "attempted": ops.attempted,
                      "failed": ops.failed, "metrics": result}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
