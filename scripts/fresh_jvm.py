"""Fresh-JVM query timing, shared by ``steady_retime.py``,
``scaling_bench.py`` and ``ab_pair_time.py``.

``time_query`` runs one registry query in a child interpreter with its
own ``local[N]`` JVM — 1 cold + K warm ``.count()`` materializations,
the solo protocol PERF.md uses — so no run inherits another's caches
or JIT state. The child imports the engine from ``root``, which lets an
A/B compare two checkouts.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_MARK = "TIMES_JSON:"

#: child body: one query, one fresh JVM, cold + K warm materializations
_CHILD = r"""
import json, sys, time
name, sf_dir, cpus, warm, root = sys.argv[1:6]
sys.path.insert(0, root)
from elb_log_etl_enrichment_spark.plans.queries import REGISTRY, all_queries
from elb_log_etl_enrichment_spark.session import get_spark
all_queries()
spark = get_spark(app_name="solo-" + name, master="local[" + cpus + "]")
spark.sparkContext.setLogLevel("ERROR")
times = []
for _ in range(int(warm) + 1):
    t0 = time.perf_counter()
    REGISTRY[name].fn(spark, sf_dir).count()
    times.append(round(time.perf_counter() - t0, 3))
print(%(mark)r + json.dumps(times), flush=True)
spark.stop()
""" % {"mark": _MARK}


def time_query(
    name: str,
    sf_dir: str,
    cpus: str,
    warm: int,
    root: str = REPO_ROOT,
    timeout: float | None = None,
) -> list[float] | None:
    """Wall seconds of the cold run then each warm run of ``name``, or
    None (with the child's stderr tail on our stderr) if the child
    failed or timed out."""
    try:
        proc = subprocess.run(
            [sys.executable, "-c", _CHILD, name, sf_dir, cpus, str(warm), root],
            capture_output=True,
            text=True,
            cwd=root,
            timeout=timeout,
        )
    except subprocess.TimeoutExpired:
        sys.stderr.write(f"{name}@{cpus}c ({root}): child timed out\n")
        return None
    for line in proc.stdout.splitlines():
        if line.startswith(_MARK):
            return json.loads(line[len(_MARK):])
    sys.stderr.write(
        f"{name}@{cpus}c ({root}): child failed\n{proc.stderr[-2000:]}\n"
    )
    return None


def steady_record(times: list[float]) -> dict:
    """``{"cold", "warm", "steady"}``; steady is the fastest warm run."""
    return {"cold": times[0], "warm": times[1:], "steady": min(times[1:])}


def git_head() -> str:
    try:
        return subprocess.run(
            ["git", "rev-parse", "--short", "HEAD"],
            cwd=REPO_ROOT, capture_output=True, text=True, check=True,
        ).stdout.strip()
    except Exception:
        return "unknown"


def load1() -> float | None:
    """The 1-minute load average, to 2 decimals; None where the OS has
    none."""
    try:
        return round(os.getloadavg()[0], 2)
    except OSError:
        return None
