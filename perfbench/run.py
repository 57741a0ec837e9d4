"""Benchmark entry point.

    python3 perfbench/run.py --workload elb --seed 1 --seconds 60 --trace 0

Runs one workload in this process (``local[<cores>]``), checks its
outputs and prints a report followed by one JSON line::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` wraps the
engine's layers in spans, turns the Spark event log on and reports the
per-layer metrics instead. Inputs, outputs, spans and the event log go
to ``.perfbench/<workload>-<seed>-t<trace>/`` in the checkout; each run
also appends its wall time to ``.perfbench/runs.jsonl``, from which a
traced run reports its tracing overhead. Workloads are fixed-size: a
run measures the same work whatever ``--seconds`` says (see README.md).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("elb", "driver_mix")

E2E_UNITS = {
    "setup_s": "s", "cold_op_s": "s", "wall_s": "s", "cpu_s": "s", "pss_mean_mb": "MB",
}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=60.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _prepare_env(work: str) -> None:
    """Keep every file the run writes inside ``work`` and let Spark's
    Python workers import the engine (they start from a bare path)."""
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # a 4 GB driver heap holds these inputs without GC pressure; the
    # engine's default (8 GB) lets one run's resident size reach 12 GB
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "4g"
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # spark-submit's own JVM
    path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")


def _untraced_wall(runs_file: str, workload: str, seed: int) -> float | None:
    if not os.path.exists(runs_file):
        return None
    walls, same_seed = [], None
    with open(runs_file, encoding="utf-8") as f:
        for line in f:
            r = json.loads(line)
            if r["workload"] == workload and r["trace"] == 0:
                walls.append(r["wall_s"])
                if r["seed"] == seed:
                    same_seed = r["wall_s"]
    if same_seed is not None:
        return same_seed
    return statistics.median(walls) if walls else None


def run_workload(args, run) -> dict:
    from perfbench import driver_mix, elb, layers, procstat
    from perfbench.trace import Tracer

    mod = elb if args.workload == "elb" else driver_mix
    mod.prepare(run)
    spark = run.start_spark()
    try:
        mod.set_up(run)
        if run.trace:
            run.tracer = Tracer(spark)
            run.tracer.install(layers.install_targets())
        with procstat.PssSampler() as mem:
            run.begin_timed()
            mod.execute(run)
            run.end_timed()
        mod.verify(run)
        e2e = run.end_to_end(mem.mean_mb)
        print(f"peak PSS {mem.peak_mb:.1f} MB over {len(mem.samples)} samples")
        if not run.trace:
            return e2e
        extra = {"trace.wall_s": e2e["wall_s"], "op_s": run.secs("op"),
                 "floor_s": run.secs("floor"), **mod.layer_counters(run)}
        run.tracer.uninstall()
    finally:
        spark.stop()  # also flushes the event log
    run.tracer.dump(run.path("spans.json"))
    return layers.compute(run, run.tracer, extra)


def main(argv=None) -> int:
    args = parse_args(argv)
    try:
        import elb_log_etl_enrichment_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine package is not importable: {e}",
              file=sys.stderr)
        return 2
    from perfbench.harness import Run, fresh_dir, stop_spark
    from perfbench import layers, procstat

    # every process the run starts ends before it exits, on every path
    procstat.become_subreaper()
    signal.signal(signal.SIGTERM, lambda signum, _frame: sys.exit(128 + signum))
    base = os.path.join(ROOT, ".perfbench")
    t = time.perf_counter()
    work = fresh_dir(os.path.join(base, f"{args.workload}-{args.seed}-t{args.trace}"))
    _prepare_env(work)
    run = Run(root=ROOT, work=work, seed=args.seed, trace=bool(args.trace),
              untimed_s=time.perf_counter() - t)
    try:
        metrics = run_workload(args, run)
    finally:
        stop_spark()

    units = dict(layers.PER_LAYER) if run.trace else E2E_UNITS
    report = {k: {"value": metrics[k], "unit": u} for k, u in units.items()}
    for op in run.ops:
        status = "FAILED " + op.error if op.error else "ok"
        print(f"op {op.name:34s} {op.kind:5s} {op.seconds:8.3f} s  {status}")
    for k, v in report.items():
        print(f"metric {k} = {v['value']:.6g} {v['unit']}")
    attempted = len(run.ops)
    print(f"metric failed_ratio = {run.failed / max(attempted, 1):.6g} ratio")
    runs_file = os.path.join(base, "runs.jsonl")
    if run.trace:
        plain = _untraced_wall(runs_file, args.workload, args.seed)
        if plain is None:
            print("tracing overhead: no untraced run of this workload on record")
        else:
            print(f"tracing overhead: {metrics['trace.wall_s'] - plain:+.3f} s "
                  f"(traced wall_s {metrics['trace.wall_s']:.3f} s, "
                  f"untraced {plain:.3f} s)")
    with open(runs_file, "a", encoding="utf-8") as f:
        wall = metrics["trace.wall_s"] if run.trace else metrics["wall_s"]
        f.write(json.dumps({"workload": args.workload, "seed": args.seed,
                            "trace": args.trace, "wall_s": wall}) + "\n")
    shutil.rmtree(os.path.join(work, "spark-local"), ignore_errors=True)
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": attempted,
        "failed": run.failed,
        "metrics": report,
    }))
    return 0


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    raise SystemExit(main())
