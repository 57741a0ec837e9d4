"""Per-stage profile of one registry query (optimization guide §1/§7).

Runs the named query in a fresh JVM with the Spark event log enabled,
times cold + N warm materializations (same `.count()` action as
bench.py, or the noop sink with --noop), then parses the event log and
prints, per job/stage of the LAST run: duration, task count, shuffle
read/write bytes, input bytes and spill — the numbers the Spark UI
would show, without the UI. The event log is read with
``perfbench.eventlog``; its spill column counts memory and disk spill
both (disk spill was not counted before), and its task count is the
number of finished tasks of the stage.

Usage:
    python scripts/profile_query.py <query> [--warm 2] [--noop]
    SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS as for bench.py
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import time

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)

from perfbench.eventlog import (  # noqa: E402
    find_event_log,
    read_event_log,
    stages_in_window,
)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("name")
    ap.add_argument("--warm", type=int, default=2)
    ap.add_argument("--noop", action="store_true")
    args = ap.parse_args()

    from elb_log_etl_enrichment_spark.plans.queries import REGISTRY, all_queries
    from elb_log_etl_enrichment_spark.session import get_spark

    all_queries()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    evdir = f"/tmp/spark-events-{os.getpid()}"
    os.makedirs(evdir, exist_ok=True)
    spark = get_spark(
        app_name=f"profile-{args.name}",
        master=f"local[{cpus}]",
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": evdir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    fn = REGISTRY[args.name].fn
    runs = []
    marks = []  # (t_start_ms, t_end_ms) per run, cluster clock ~ wall
    for i in range(args.warm + 1):
        spark.sparkContext.setJobDescription(f"{args.name} run {i}")
        t0 = time.time()
        df = fn(spark, sf_dir)
        if args.noop:
            df.write.format("noop").mode("overwrite").save()
        else:
            df.count()
        t1 = time.time()
        runs.append(round(t1 - t0, 3))
        marks.append((t0 * 1000, t1 * 1000))
    print(f"{args.name}: cold {runs[0]} s; warm {runs[1:]}")

    spark.stop()
    log = read_event_log(find_event_log(evdir))
    stages = stages_in_window(log, *marks[-1])
    total = sum(st.duration_ms for st in stages)
    print(f"\nlast-run stages (sum {total} ms across {len(stages)} stages):")
    print(f"{'stage':>5} {'ms':>7} {'tasks':>5} {'cpu_ms':>8} {'gc':>5} "
          f"{'in_MB':>8} {'sr_MB':>8} {'sw_MB':>8} {'fetch':>5} {'spill':>6}  name")
    for st in sorted(stages, key=lambda st: -st.duration_ms):
        c = st.counters
        print(
            f"{st.stage_id:>5} {st.duration_ms:>7} {c.tasks:>5} "
            f"{c.exec_cpu_s * 1e3:>8.0f} {c.gc_s * 1e3:>5.0f} "
            f"{c.input_mb:>8.2f} {c.shuffle_read_mb:>8.2f} "
            f"{c.shuffle_write_mb:>8.2f} {c.fetch_wait_s * 1e3:>5.0f} "
            f"{c.spill_mb:>6.1f}  {st.name[:70]}"
        )
    shutil.rmtree(evdir, ignore_errors=True)


if __name__ == "__main__":
    main()
