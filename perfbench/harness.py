"""Shared run machinery: the work directory, the Spark session, timed
operations with their output checks, and the end-to-end metrics.

A workload is a sequence of timed operations. Each operation counts as
attempted; it fails when it raises or when its output check (run
outside the timed region) finds a mismatch. The end-to-end metrics are
computed the same way for every workload from the operations' kinds:

* ``cold``  -- the first operation in the fresh JVM,
* ``op``    -- the workload's repeated operation (busy tick, query),
* ``floor`` -- the cheapest class of operation (idle tick, floor query).

Operation latencies other than the cold one count in ``wall_s`` and are
reported per layer.
"""

from __future__ import annotations

import os
import shutil
import sys
import time
import traceback
from dataclasses import dataclass, field

from . import procstat


def process_age_s() -> float:
    """Seconds since this process started, from /proc."""
    with open("/proc/self/stat", encoding="ascii") as f:
        raw = f.read()
    start_ticks = int(raw[raw.rfind(")") + 2:].split()[19])  # field 22
    with open("/proc/uptime", encoding="ascii") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


@dataclass
class Op:
    name: str
    kind: str  # "cold", "op" or "floor"
    seconds: float = 0.0
    error: str | None = None


@dataclass
class Run:
    """One benchmark run's state: directories, timings and failures."""

    root: str  # the checkout the engine is imported from
    work: str  # directory for the inputs and outputs of this run
    seed: int
    trace: bool
    ops: list[Op] = field(default_factory=list)
    #: input generation and clearing the previous run's directory,
    #: both excluded from setup_s
    untimed_s: float = 0.0
    setup_s: float = 0.0
    session_start_s: float = 0.0
    cpu_s: float = 0.0
    notes: dict = field(default_factory=dict)  # per-workload inputs and truth
    spark: object = None
    tracer: object = None  # a perfbench.trace.Tracer in traced runs
    _cpu0: float = 0.0

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def generate(self, fn, *args, **kwargs):
        """Run an input generator; its time is kept out of setup_s."""
        t = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            self.untimed_s += time.perf_counter() - t

    def start_spark(self):
        from elb_log_etl_enrichment_spark.session import get_spark

        cpus = len(os.sched_getaffinity(0))  # what nproc reports
        conf = {
            "spark.local.dir": self.path("spark-local"),
            "spark.sql.warehouse.dir": self.path("warehouse"),
            # no hsperfdata files: the JVM writes those to /tmp whatever its tmpdir
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={self.path('tmp')} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        }
        if self.trace:
            os.makedirs(self.path("events"))
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": self.path("events"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        t = time.perf_counter()
        self.spark = get_spark(
            app_name="perfbench", master=f"local[{cpus}]",
            shuffle_partitions=cpus, extra_conf=conf,
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.session_start_s = time.perf_counter() - t
        return self.spark

    def begin_timed(self) -> None:
        """End of set-up: everything after this is measured."""
        self.setup_s = process_age_s() - self.untimed_s
        self._cpu0 = procstat.cpu_seconds()

    def end_timed(self) -> None:
        self.cpu_s = procstat.cpu_seconds() - self._cpu0

    def timed(self, name: str, kind: str, fn, *args, **kwargs):
        """Time one operation; an exception marks it failed (and is
        printed to stderr) instead of ending the run."""
        op = Op(name, kind)
        self.ops.append(op)
        t = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        except Exception as e:  # the run goes on; the op counts as failed
            op.error = f"{type(e).__name__}: {e}"[:300]
            traceback.print_exc(file=sys.stderr)
            return None
        finally:
            op.seconds = time.perf_counter() - t

    def check(self, op_name: str, problems: list[str]) -> None:
        """Record an output check's findings against the named op."""
        if problems:
            op = next(o for o in self.ops if o.name == op_name)
            op.error = op.error or "; ".join(problems)[:300]
            print(f"check failed: {op_name}: {problems}", file=sys.stderr)

    @property
    def failed(self) -> int:
        return sum(1 for o in self.ops if o.error)

    def secs(self, kind: str) -> list[float]:
        return [o.seconds for o in self.ops if o.kind == kind]

    def end_to_end(self, pss_mean_mb: float) -> dict[str, float]:
        cold = self.secs("cold")
        return {
            "setup_s": self.setup_s,
            "cold_op_s": cold[0] if cold else 0.0,
            "wall_s": sum(o.seconds for o in self.ops),
            "cpu_s": self.cpu_s,
            "pss_mean_mb": pss_mean_mb,
        }


def stop_spark() -> None:
    """End the JVM this process launched and everything under it, and
    wait until each process has ended. ``SparkSession.stop`` leaves the
    py4j gateway JVM (and its Python worker daemon) running until the
    interpreter exits, and they would outlive it for a moment; closing
    the gateway's stdin is how PySpark tells that JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is not None:
        SparkContext._gateway = SparkContext._jvm = None
        try:
            gateway.shutdown()
        except Exception:  # the JVM may be gone already
            pass
        if gateway.proc is not None:
            gateway.proc.stdin.close()
    procstat.reap_descendants()


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path
