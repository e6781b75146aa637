"""Run environment shared by the workloads: pinned environment, Spark
session, warm-up, operation counting and peak-memory sampling."""

from __future__ import annotations

import os
import threading
import time
from dataclasses import dataclass, field


def host_cores() -> int:
    """Cores this process may run on (what ``nproc`` prints)."""
    return len(os.sched_getaffinity(0))


def pin_environment(root: str, run_dir: str, cores: int) -> None:
    """Environment the program and its Python workers inherit. Must run
    before ``lakeview_spark`` is imported: the session module reads the
    core count at import time."""
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ["LAKEVIEW_SCRATCH_DIR"] = os.path.join(run_dir, "scratch")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["SPARK_DRIVER_MEMORY"] = "3g"
    os.environ.pop("SPARK_MASTER", None)
    # temporary files of Python, of the JVM that spark-submit launches and
    # of its launcher stay in the run directory, and the JVMs write no
    # hsperfdata file to the system temp directory
    tmp = os.path.join(run_dir, "tmp")
    os.environ["TMPDIR"] = tmp
    jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_SUBMIT_OPTS"] = jvm_opts
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts
    for d in ("scratch", "spark-local", "tmp"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)


def start_session(run_dir: str, cores: int, event_dir: str | None):
    """A fresh ``local[cores]`` session built by the program's own factory."""
    from lakeview_spark import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
    }
    if event_dir:
        os.makedirs(event_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{event_dir}",
            "spark.eventLog.compress": "false",
        })
    spark = get_spark("perfbench", master=f"local[{cores}]", shuffle_partitions=cores,
                      extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def warm_up(spark, python_workers: bool) -> None:
    """Pay the JVM's first-use costs on Spark SQL, and with
    ``python_workers`` also start the Python workers (pandas UDF and RDD),
    with work that calls nothing from the program."""
    from pyspark.sql import functions as F

    df = spark.range(0, 400, numPartitions=4).withColumn("k", F.col("id") % 4)
    df.groupBy("k").agg(F.sum("id")).collect()
    if python_workers:
        df.groupBy("k").applyInPandas(_identity, df.schema).collect()
        spark.sparkContext.parallelize(range(8), 4).map(abs).sum()


def _identity(pdf):
    return pdf


@dataclass
class Ops:
    """Operations attempted and failed, with the reason for each failure."""

    attempted: int = 0
    failures: list[str] = field(default_factory=list)

    def check(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failures.append(what)
        return ok

    @property
    def failed(self) -> int:
        return len(self.failures)


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _tree_rss_mb(root_pid: int) -> dict[str, float]:
    """RSS of ``root_pid`` and its descendants, split into the JVM and
    the Python processes."""
    children: dict[int, list[int]] = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(pid))
    out = {"jvm": 0.0, "python": 0.0}
    todo = [root_pid]
    while todo:
        pid = todo.pop()
        try:
            with open(f"/proc/{pid}/comm") as f:
                kind = "jvm" if f.read().strip() == "java" else "python"
        except OSError:
            kind = "python"
        out[kind] += _rss_kb(pid) / 1024.0
        todo.extend(children.get(pid, []))
    return out


class RssSampler:
    """Peak resident memory of this process and all its descendants (the
    driver JVM and the Python workers), sampled from ``/proc``."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self.at_peak: dict[str, float] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            parts = _tree_rss_mb(os.getpid())
            if sum(parts.values()) > self.peak_mb:
                self.peak_mb, self.at_peak = sum(parts.values()), parts
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for name in files:
            try:
                total += os.lstat(os.path.join(dirpath, name)).st_size
            except OSError:
                pass
    return total


def other_spark_jvms() -> int:
    """Spark driver JVMs on the host that this process did not start."""
    mine = os.getpid()
    count = 0
    for pid in os.listdir("/proc"):
        if not pid.isdigit() or int(pid) == mine:
            continue
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read()
            with open(f"/proc/{pid}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        if b"org.apache.spark.deploy.SparkSubmit" in cmd and ppid != mine:
            count += 1
    return count


def repeat_timed(make, times: int = 3):
    """Call ``make(i)`` for i in range(times); return the last result and
    every call's wall seconds (setup is timed as the median of repeats)."""
    result, seconds = None, []
    for i in range(times):
        t0 = time.perf_counter()
        result = make(i)
        seconds.append(time.perf_counter() - t0)
    return result, seconds


class Clock:
    """Wall time of a block, in seconds."""

    def __enter__(self):
        self.t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.seconds = time.perf_counter() - self.t0
