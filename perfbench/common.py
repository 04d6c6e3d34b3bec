"""Shared plumbing: the work directory, Spark set-up and tear-down,
host facts, and the statistics every workload reports."""

from __future__ import annotations

import json
import math
import os
import re
import shutil
import statistics
import sys
import threading
import time
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)  # the checkout holding ingestor_etl_spark

SETUP_REPEATS = 3
DRIVER_MEMORY = "2g"


class BenchError(RuntimeError):
    """The benchmark cannot run here; no result is printed."""


def median(xs) -> float:
    return float(statistics.median(xs))


def tail(xs) -> tuple[float, float, int]:
    """Highest percentile with at least ten samples beyond it, as
    ``(percentile, value, n)``. With fewer than eleven samples no
    such percentile exists; the maximum is returned as percentile
    100 and ``n`` tells the reader how little it rests on."""
    ys = sorted(xs)
    n = len(ys)
    k = n - 11  # index of the value with exactly ten larger ones
    if k < 0:
        return 100.0, ys[-1], n
    return round(100.0 * (k + 1) / n, 1), ys[k], n


def prepare_env(workload: str) -> str:
    """Make the package importable here and in Spark's Python
    workers from any working directory, and keep every file the run
    writes (Spark local files, temp files) inside the checkout."""
    if not os.path.isdir(os.path.join(ROOT, "ingestor_etl_spark")):
        raise BenchError(f"no ingestor_etl_spark package next to {HERE}")
    work = os.path.join(ROOT, ".perfbench_work", workload)
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    sys.path.insert(0, ROOT)
    prior = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + prior if prior else "")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ.pop("SPARK_GRAFT_ON_CLUSTER", None)
    import tempfile

    tempfile.tempdir = tmp
    return work


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def cpu_ticks() -> dict[str, int]:
    with open("/proc/stat") as fh:
        parts = fh.readline().split()
    names = ("user", "nice", "system", "idle", "iowait", "irq", "softirq", "steal")
    return dict(zip(names, (int(p) for p in parts[1:9])))


@dataclass
class Session:
    """Spark sessions created the way the CLI creates them
    (``get_spark``), plus the overrides the benchmark needs."""

    work: str
    event_log: bool = False
    spark: object = None
    master: str | None = None
    setup_times: list[float] = field(default_factory=list)

    def overrides(self) -> dict[str, str]:
        tmp = os.path.join(self.work, "tmp")
        conf = {
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xlog:all=warning:stderr"
            ),
        }
        if self.event_log:
            log_dir = os.path.join(self.work, "eventlog")
            os.makedirs(log_dir, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": log_dir,
                "spark.eventLog.compress": "false",
            })
        return conf

    def start(self) -> float:
        """Create a session and run the warm-up job; returns seconds."""
        from ingestor_etl_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        t0 = time.perf_counter()
        self.spark = get_spark("perfbench", **self.overrides())
        self.spark.sparkContext.setLogLevel("ERROR")
        self.master = self.spark.sparkContext.master
        self.spark.range(1 << 20).selectExpr("sum(id)").collect()
        took = time.perf_counter() - t0
        self.setup_times.append(took)
        return took

    def setup_median(self, n: int = SETUP_REPEATS) -> float:
        """Set up again until there are ``n`` samples and return their
        median (the first pays the JVM launch); the last session stays
        open. Called after the timed work, so the cold figures are
        taken in the session the JVM launch made, as a one-shot CLI
        run takes them, and not beside stopped sessions still winding
        down."""
        while len(self.setup_times) < n:
            self.start()
        return median(self.setup_times[:n])

    def job_group(self, name: str) -> None:
        self.spark.sparkContext.setJobGroup(name, name)

    def close(self) -> None:
        """Stop Spark and the JVM behind it, and wait for both."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)


class StderrTee:
    """Copy this process's stderr, and so the JVM's, which inherits
    it, to the terminal while keeping the lines that report an
    uncaught exception on a JVM thread (such as the stream execution
    thread dying on ``stop()``), so the run can record them."""

    _PATTERN = re.compile(r"Exception in thread|StackOverflowError|OutOfMemoryError")

    def __init__(self):
        self.lines: list[str] = []
        sys.stderr.flush()
        self._saved = os.dup(2)
        read_fd, write_fd = os.pipe()
        os.dup2(write_fd, 2)
        os.close(write_fd)
        self._reader = threading.Thread(target=self._pump, args=(read_fd,), daemon=True)
        self._reader.start()

    def _pump(self, fd: int) -> None:
        with os.fdopen(fd, "rb") as src, os.fdopen(os.dup(self._saved), "wb", buffering=0) as dst:
            for raw in src:
                dst.write(raw)
                line = raw.decode("utf-8", "replace").rstrip()
                if self._PATTERN.search(line):
                    self.lines.append(line)

    def close(self) -> list[str]:
        """Restore stderr and return the kept lines. Call after the
        JVM has exited, so no writer holds the pipe open."""
        sys.stderr.flush()
        os.dup2(self._saved, 2)
        os.close(self._saved)
        self._reader.join(timeout=10)
        return self.lines


def host_facts(master: str | None, ticks0: dict[str, int], ticks1: dict[str, int]) -> dict:
    import pyspark

    hz = os.sysconf("SC_CLK_TCK")
    total = sum(ticks1.values()) - sum(ticks0.values())
    steal = ticks1["steal"] - ticks0["steal"]
    return {
        "nproc": nproc(),
        "master": master,
        "pyspark": pyspark.__version__,
        "steal_s": round(steal / hz, 3),
        "steal_share": round(steal / total, 5) if total else 0.0,
        "loadavg": os.getloadavg(),
    }


def metric(value: float, unit: str) -> dict:
    if value is None or not math.isfinite(value):
        raise BenchError(f"metric value {value!r} is not a finite number")
    return {"value": value, "unit": unit}


def emit(detail: dict, result: dict) -> None:
    """Detail line first, the result object last."""
    sys.stdout.write(json.dumps(detail, default=str) + "\n")
    sys.stdout.write(json.dumps(result) + "\n")
    sys.stdout.flush()
