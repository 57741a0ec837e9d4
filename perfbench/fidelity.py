"""Compare the seeded ``driver_mix`` tables with the driver's own tables.

    python3 perfbench/fidelity.py <driver-sf0.01-dir> [--seed 1] [--rounds 2]

A benchmark run reads only its checkout, so ``gen_tables.py`` makes the
tables from the seed instead of reading the driver's. This script
measures how alike the two are. It prints, per table, the schema and
row count of both, and per column the distinct count and range. It also
prints the documents' vocabulary. Then it times the ``driver_mix`` sweep
on each table set, one fresh process per sweep, in ABBA order, and
prints each query's median time on both sets side by side. Everything
it writes goes under ``.perfbench/fidelity/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _column_stats(table, name: str) -> str:
    import pyarrow.compute as pc

    col = table.column(name)
    if col.type.num_fields:  # list columns: no distinct count or range
        return "-"
    mm = pc.min_max(col).as_py()
    return f"distinct {pc.count_distinct(col).as_py()}, {mm['min']} .. {mm['max']}"


def compare_tables(gen_dir: str, drv_dir: str) -> int:
    """Print both table sets' schemas and column statistics; returns the
    number of schema or row-count mismatches."""
    import pyarrow.parquet as pq

    from elb_log_etl_enrichment_spark.sources.tables import TABLE_NAMES

    mismatches = 0
    for name in TABLE_NAMES:
        gen = pq.read_table(os.path.join(gen_dir, f"{name}.parquet"))
        drv = pq.read_table(os.path.join(drv_dir, f"{name}.parquet"))
        same = gen.schema.remove_metadata() == drv.schema.remove_metadata()
        same_rows = gen.num_rows == drv.num_rows
        mismatches += (not same) + (not same_rows)
        print(f"table {name}: rows generated {gen.num_rows}, driver {drv.num_rows}; "
              f"schema {'same' if same else 'DIFFERS'}")
        for field in drv.schema:
            print(f"  {field.name} {field.type}")
            print(f"    driver    {_column_stats(drv, field.name)}")
            if field.name in gen.schema.names:
                print(f"    generated {_column_stats(gen, field.name)}")
    for label, d in (("driver", drv_dir), ("generated", gen_dir)):
        texts = pq.read_table(os.path.join(d, "documents.parquet")).column("text").to_pylist()
        vocab = {w for t in texts for w in t.split()}
        words = [len(t.split()) for t in texts]
        print(f"documents ({label}): vocabulary {len(vocab)} words, "
              f"{min(words)}..{max(words)} words a document, mean {statistics.mean(words):.1f}")
    return mismatches


def sweep(sf_dir: str, work: str) -> dict[str, float]:
    """One ``driver_mix`` sweep over ``sf_dir`` in this (fresh) process."""
    from perfbench import driver_mix
    from perfbench.harness import Run
    from perfbench.run import _prepare_env

    _prepare_env(work)
    run = Run(root=ROOT, work=work, seed=0, trace=False)
    run.notes["sf_dir"] = sf_dir
    spark = run.start_spark()
    try:
        driver_mix.set_up(run)
        driver_mix.execute(run)
    finally:
        spark.stop()
    failed = [o.name for o in run.ops if o.error]
    if failed:
        raise SystemExit(f"queries failed on {sf_dir}: {failed}")
    return {o.name: o.seconds for o in run.ops}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("driver_dir")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--rounds", type=int, default=2, help="ABBA rounds")
    ap.add_argument("--sweep-only", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)
    base = os.path.join(ROOT, ".perfbench", "fidelity")
    if args.sweep_only:
        print(json.dumps(sweep(args.driver_dir, os.path.join(base, "sweep"))))
        return 0

    from perfbench import driver_mix, gen_tables
    from perfbench.harness import fresh_dir

    gen_dir = fresh_dir(os.path.join(base, f"tables-{args.seed}"))
    gen_tables.write_tables(args.seed, gen_dir, driver_mix.SF)
    mismatches = compare_tables(gen_dir, args.driver_dir)

    times: dict[str, list[dict]] = {"generated": [], "driver": []}
    dirs = {"generated": gen_dir, "driver": os.path.abspath(args.driver_dir)}
    for r in range(args.rounds):
        for label in (("generated", "driver") if r % 2 == 0 else ("driver", "generated")):
            p = subprocess.run(
                [sys.executable, os.path.abspath(__file__), dirs[label], "--sweep-only"],
                cwd=ROOT, capture_output=True, text=True, check=True,
                env={**os.environ, "PYTHONPATH": ROOT},
            )
            times[label].append(json.loads(p.stdout.strip().splitlines()[-1]))
    print(f"{'query':34s} {'generated s':>12s} {'driver s':>10s} {'ratio':>7s}")
    ratios = []
    for name in driver_mix.order():
        g = statistics.median(t[name] for t in times["generated"])
        d = statistics.median(t[name] for t in times["driver"])
        ratios.append(g / d)
        print(f"{name:34s} {g:12.3f} {d:10.3f} {g / d:7.2f}")
    walls = {k: statistics.median(sum(t.values()) for t in v) for k, v in times.items()}
    geo = math.exp(statistics.mean(math.log(r) for r in ratios))
    print(f"sweep: generated {walls['generated']:.2f} s, driver {walls['driver']:.2f} s; "
          f"per-query ratio geomean {geo:.3f}, range {min(ratios):.2f}..{max(ratios):.2f}")
    print(f"schema or row-count mismatches: {mismatches}")
    return 1 if mismatches else 0


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    raise SystemExit(main())
