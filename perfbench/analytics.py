"""``analytics_headline``: twenty of the headline queries over a
generated dataset.

One client (this process) runs each query to completion before the
next: one cold pass over the twenty queries in the canonical order,
then steady passes over the ten heaviest in seed-permuted orders. Every
execution forces the query's full output through Spark's ``noop`` sink,
so no output column can be pruned away.
After the timed passes, each query's DataFrame from the last steady pass
runs once more, untimed (four at a time), and its collected result is
checked against its DuckDB oracle.
"""

from __future__ import annotations

import os
import random
import statistics
import time
from concurrent.futures import ThreadPoolExecutor

from perfbench import datagen, oracle
from perfbench.harness import Ops, dir_bytes, repeat_timed
from perfbench.queries import HEADLINE, STEADY
from perfbench.trace import Tracer, span_total, spark_metrics, subtree

SCALE = 0.01
MIN_STEADY_PASSES = 1
CHECK_THREADS = 4
MAX_STEADY_PASSES = 6


def make_inputs(run_dir: str, seed: int) -> tuple[str, list[float]]:
    """Generate the dataset three times, each into a fresh directory; keep
    the last and return its path with each generation's seconds."""

    def make(i: int) -> str:
        path = os.path.join(run_dir, f"data{i}")
        datagen.write_dataset(path, SCALE, seed)
        return path

    return repeat_timed(make)


def _scratch_entries(scratch: str) -> dict[str, int]:
    return {name: dir_bytes(os.path.join(scratch, name)) for name in os.listdir(scratch)}


def check_result(ops: Ops, name: str, got, expected) -> bool:
    """Count one operation: the query's collected result must match its
    oracle's, or, for a query without an oracle, hold at least one row."""
    issues = oracle.compare(got, expected) if expected is not None else (
        [] if len(got) else ["no rows"])
    return ops.check(not issues, f"check {name}: {issues[:2]}")


def run(spark, tracer: Tracer, ops: Ops, data: str, seed: int, seconds: float) -> dict:
    from lakeview_spark.plans import ORACLES, QUERIES

    scratch = os.environ["LAKEVIEW_SCRATCH_DIR"]
    execs: list[dict] = []
    frames = {}  # query -> its DataFrame from the latest pass, re-executed by the check

    def execute(name: str, phase: str) -> None:
        tracer.phase = phase
        rec = {"query": name, "phase": phase}
        before = set(os.listdir(scratch)) if tracer.enabled else set()
        t0 = time.perf_counter()
        try:
            with tracer.span(f"query:{name}"):
                with tracer.span("plans.call"):
                    df = frames[name] = QUERIES[name](spark, data)
                with tracer.span("plans.action"):
                    df.write.format("noop").mode("overwrite").save()
        except Exception as ex:  # noqa: BLE001 - a failed query is counted, the run goes on
            rec["error"] = repr(ex)
        rec["seconds"] = time.perf_counter() - t0
        ops.check("error" not in rec, f"{phase} {name}: {rec.get('error')}")
        if tracer.enabled:
            new = {k: v for k, v in _scratch_entries(scratch).items() if k not in before}
            rec["builds"], rec["build_mb"] = len(new), sum(new.values()) / 1e6
        execs.append(rec)

    for name in HEADLINE:
        execute(name, "cold")
    t_steady = time.perf_counter()
    passes = 0
    while passes < MIN_STEADY_PASSES or (
        passes < MAX_STEADY_PASSES and time.perf_counter() - t_steady < seconds
    ):
        order = random.Random(f"{seed}:pass{passes}").sample(STEADY, len(STEADY))
        for name in order:
            execute(name, f"steady{passes}")
        passes += 1

    tracer.phase = "check"
    con = oracle.connect(data)

    def fetch(name: str):
        """The query's result (re-executing its last DataFrame) and its
        oracle's, or the exception that stopped either."""
        if name not in frames:
            return RuntimeError("the query function raised in every pass")
        try:
            df = frames[name]
            expected = None
            if name in ORACLES:
                with con.cursor() as cur:
                    expected = cur.execute(ORACLES[name]).df()
            return df.toPandas(), expected
        except Exception as ex:  # noqa: BLE001 - a failed check is counted, the run goes on
            return ex

    # untimed; the plans already exist, so the checks only run Spark jobs
    # and can overlap
    try:
        with ThreadPoolExecutor(CHECK_THREADS) as pool:
            for name, got in zip(HEADLINE, pool.map(fetch, HEADLINE)):
                if isinstance(got, Exception):
                    ops.check(False, f"check {name}: {got!r}")
                else:
                    check_result(ops, name, *got)
    finally:
        con.close()

    cold = [r["seconds"] for r in execs if r["phase"] == "cold"]
    steady = [r["seconds"] for r in execs if r["phase"].startswith("steady")]
    pass_s = [sum(r["seconds"] for r in execs if r["phase"] == f"steady{k}") for k in range(passes)]
    e2e = {
        "query_cold_total_s": (sum(cold), "s"),
        "query_cold_p50_s": (statistics.median(cold), "s"),
        "query_steady_p50_s": (statistics.median(steady), "s"),
        "query_steady_pass_s": (statistics.median(pass_s), "s"),
        "scratch_mb": (dir_bytes(scratch) / 1e6, "MB"),
    }
    if len(steady) >= 100:
        e2e["query_steady_p90_s"] = (statistics.quantiles(steady, n=10)[-1], "s")
    return {"execs": execs, "passes": passes, "e2e": e2e}


def pass_layers(spans, jobs, execs: list[dict], phase: str) -> dict[str, float]:
    units = [s for s in spans if s.phase == phase and s.parent is None]
    ids = subtree(spans, units)
    out = spark_metrics(jobs, spans, units)
    out["plans.call_s"] = span_total(spans, ids, "plans.call")[1]
    out["plans.action_s"] = span_total(spans, ids, "plans.action")[1]
    mine = [r for r in execs if r["phase"] == phase]
    out["operators.materialize.builds"] = sum(r["builds"] for r in mine)
    out["operators.materialize.mb_written"] = sum(r["build_mb"] for r in mine)
    return out


def summarize(spans, jobs, result: dict) -> dict[str, dict[str, float]]:
    """Per-layer metrics of the cold pass and the median steady pass."""
    execs = result["execs"]
    steady = [pass_layers(spans, jobs, execs, f"steady{k}") for k in range(result["passes"])]
    return {
        "cold": pass_layers(spans, jobs, execs, "cold"),
        "steady": {k: statistics.median(m[k] for m in steady) for k in steady[0]},
    }
