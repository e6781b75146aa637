"""``extract_fleet``: extractor rounds over a generated lake of many
shallow tables.

One client (this process) runs ``run_once`` in a closed loop: a cold
round into an empty mirror, then incremental rounds after the lake's
writers append to every table. Lake changes and correctness checks
happen between rounds and are not timed.
"""

from __future__ import annotations

import os
import statistics
import time

from perfbench import lakegen
from perfbench.eventlog import ADAPTIVE_NODE
from perfbench.harness import Ops, repeat_timed
from perfbench.trace import (
    BenchLister, Tracer, jobs_under, patched, span_total, spark_metrics, subtree,
)

MIN_INCR_ROUNDS = 1
MAX_INCR_ROUNDS = 5


def make_inputs(run_dir: str, seed: int) -> tuple[lakegen.Lake, list[float]]:
    """Generate the lake three times, each into a fresh directory; keep the
    last and return it with each generation's seconds."""

    def make(i: int) -> lakegen.Lake:
        lake = lakegen.Lake(os.path.join(run_dir, f"lake{i}"), lakegen.FLEET, seed)
        lake.write()
        return lake

    return repeat_timed(make)


def _stat_tree(root: str) -> dict[str, tuple[int, int]]:
    out = {}
    for dirpath, _, files in os.walk(root):
        for name in files:
            st = os.stat(os.path.join(dirpath, name))
            out[os.path.relpath(os.path.join(dirpath, name), root)] = (st.st_mtime_ns, st.st_size)
    return out


def _describe(got: dict, exp: dict) -> str:
    missing = sorted(set(exp) - set(got))
    extra = sorted(set(got) - set(exp))
    changed = sorted(k for k in set(got) & set(exp) if got[k] != exp[k])
    return (f"missing {len(missing)} {missing[:3]}, extra {len(extra)} {extra[:3]}, "
            f"changed {len(changed)} {changed[:3]}")


def check_mirror(ops: Ops, label: str, mirror: str, lake: lakegen.Lake) -> bool:
    """Count one operation: the mirror must equal the lake's expected set,
    byte for byte."""
    got = lakegen.tree_digest(mirror) if os.path.isdir(mirror) else {}
    exp = lake.expected_mirror()
    return ops.check(got == exp, f"{label}: mirror differs from expected: {_describe(got, exp)}")


def run(spark, tracer: Tracer, ops: Ops, lake: lakegen.Lake, run_dir: str, seconds: float) -> dict:
    """Run one episode; returns the round records and end-to-end metrics."""
    from lakeview_spark.config import load_config
    from lakeview_spark.runner import run_once

    cfg = load_config(lake.config())
    state, mirror = os.path.join(run_dir, "state"), os.path.join(run_dir, "mirror")
    lister = BenchLister(spark, counting=tracer.enabled)
    rounds: list[dict] = []

    def one_round(kind: str) -> dict:
        rec = {"kind": kind, "phase": f"{kind}{len(rounds)}"}
        tracer.phase = rec["phase"]
        before = _stat_tree(mirror) if tracer.enabled else {}
        metrics = None
        t0 = time.perf_counter()
        try:
            with tracer.span("runner.run_once"):
                metrics = run_once(spark, cfg, state, mirror, lister)
        except Exception as ex:  # noqa: BLE001 - a failed round is counted, the run goes on
            rec["error"] = repr(ex)
        rec["seconds"] = time.perf_counter() - t0
        ops.check(metrics is not None, f"{rec['phase']}: run_once raised {rec.get('error')}")
        rec["metrics"] = metrics or {}
        check_mirror(ops, rec["phase"], mirror, lake)
        if tracer.enabled:
            rec["listing"] = lister.take()
            after = _stat_tree(mirror)
            written = [k for k, v in after.items() if before.get(k) != v]
            rec["mirror"] = {
                "files_written": len(written),
                "new_files": sum(1 for k in written if k not in before),
                "mb_written": sum(after[k][1] for k in written) / 1e6,
            }
        rounds.append(rec)
        return rec

    cold = one_round("cold")
    m = cold["metrics"]
    ops.check(
        m.get("table_metadata_processing_failures") == lake.corrupt_tables
        and m.get("tables_discovered") == lake.discoverable_tables,
        f"cold: expected {lake.corrupt_tables} corrupt-properties failures among "
        f"{lake.discoverable_tables} tables, got {m.get('table_metadata_processing_failures')} "
        f"among {m.get('tables_discovered')}",
    )
    t_incr = time.perf_counter()
    n_incr = 0
    while n_incr < MIN_INCR_ROUNDS or (
        n_incr < MAX_INCR_ROUNDS and time.perf_counter() - t_incr < seconds
    ):
        lake.advance()
        one_round("incr")
        n_incr += 1
    return {
        "rounds": rounds,
        "e2e": {
            "extract_cold_s": (cold["seconds"], "s"),
            "extract_incr_s": (statistics.median(r["seconds"] for r in rounds if r["kind"] == "incr"), "s"),
        },
    }


def instrument(tracer: Tracer):
    """Spans around the extractor's public functions for the block."""
    from lakeview_spark import runner
    from lakeview_spark.operators.checkpoints import CheckpointStore

    return patched([
        (runner, "discover_round", "runner.discover_round"),
        (runner, "upload_round", "runner.upload_round"),
        (runner, "process_archived_v2", "runner.process_archived_v2"),
        (CheckpointStore, "load", "operators.checkpoints.load"),
        (CheckpointStore, "upsert", "operators.checkpoints.upsert"),
        (CheckpointStore, "initialize_tables", "operators.checkpoints.initialize_tables"),
    ], tracer)


def round_layers(spans, jobs, rec: dict) -> dict[str, float]:
    """Per-layer metrics of one traced round."""
    units = [s for s in spans if s.phase == rec["phase"] and s.parent is None]
    ids = subtree(spans, units)
    out = spark_metrics(jobs, spans, units)
    for name in ("runner.discover_round", "runner.upload_round", "runner.process_archived_v2"):
        out[f"{name}_s"] = span_total(spans, ids, name)[1]
    discover = [s for s in spans if s.span_id in ids and s.name == "runner.discover_round"]
    out["sources.discover.spark_jobs"] = spark_metrics(jobs, spans, discover)["spark.jobs"]
    # the runner's only foreachPartition job is the mirror copy
    mirror_jobs = [j for j in jobs_under(jobs, ids)
                   if (j.call_site or "").startswith("foreachPartition")]
    out["sinks.mirror.job_s"] = sum(j.end_ms - j.submit_ms for j in mirror_jobs) / 1000.0
    for op in ("upsert", "load"):
        n, secs = span_total(spans, ids, f"operators.checkpoints.{op}")
        out[f"operators.checkpoints.{op}_calls"] = n
        out[f"operators.checkpoints.{op}_s"] = secs
    # The batcher's applyInPandas runs inside the cached batches relation,
    # which adaptive execution re-plans, so its Python metrics arrive
    # either under FlatMapGroupsInPandas or without a node name; the only
    # other Python node in a round is the lookback UDF (BatchEvalPython).
    batcher: dict[str, float] = {}
    for j in jobs_under(jobs, ids):
        for node in ("FlatMapGroupsInPandas", ADAPTIVE_NODE):
            for k, v in j.python_by_node.get(node, {}).items():
                batcher[k] = batcher.get(k, 0.0) + v
    out["operators.batcher.tasks"] = batcher.get("tasks", 0)
    out["operators.batcher.python_init_s"] = (
        batcher.get("python_init_ms", 0.0) + batcher.get("python_start_ms", 0.0)) / 1000.0
    out["operators.batcher.python_run_s"] = batcher.get("python_run_ms", 0.0) / 1000.0
    out["operators.batcher.python_mb_sent"] = batcher.get("python_sent_b", 0.0) / 1e6
    ls = rec["listing"]
    out["sources.listing.calls"] = ls["calls"]
    out["sources.listing.entries"] = ls["entries"]
    out["sources.listing.busy_s"] = ls["busy_s"]
    out["sources.listing.useful_ratio"] = ls["dirs"] / ls["calls"] if ls["calls"] else 0.0
    mi = rec["mirror"]
    out["sinks.mirror.files_written"] = mi["files_written"]
    out["sinks.mirror.mb_written"] = mi["mb_written"]
    out["sinks.mirror.useful_ratio"] = (
        mi["new_files"] / mi["files_written"] if mi["files_written"] else 0.0)
    return out


def summarize(spans, jobs, result: dict) -> dict[str, dict[str, float]]:
    """Per-layer metrics of the cold round and the median incremental
    round."""
    per = [(r["kind"], round_layers(spans, jobs, r)) for r in result["rounds"]]
    incr = [m for k, m in per if k == "incr"]
    return {"cold": per[0][1],
            "incr": {k: statistics.median(m[k] for m in incr) for k in incr[0]}}
