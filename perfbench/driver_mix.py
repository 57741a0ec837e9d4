"""The ``driver_mix`` workload: registry queries as the driver runs them.

One session runs a fixed cold query, then registry queries from three
groups in a fixed order, each once, as the function call followed by
``.count()``; the seed makes the tables. Every query with an oracle entry is compared with DuckDB
through ``tests/oracle_harness.compare`` after the timed sweep. No ELB
code runs here. See README.md for why each group is in the mix.
"""

from __future__ import annotations

import os
import sys

from . import gen_tables
from .harness import Run

SF = 0.01
COLD = "pricing_summary"
GROUPS = {
    # plan building does real work eagerly (actions inside the call)
    "eager": ["write_audit_publish_stats", "streaming_hourly_counts"],
    # execution dominates: text dedup, similarity, the flagship join
    "exec": ["ngram_jaccard_near_dup", "minhash_lsh_near_dup", "revenue_by_nation"],
    # sub-second queries that sit on the per-job floor
    "floor": ["shipping_priority_topk", "latest_event_per_user",
              "asof_latest_order_before_event", "chi_square_independence",
              "window_value_functions"],
}


def group_of(name: str) -> str:
    return next((g for g, names in GROUPS.items() if name in names), "cold")


def order() -> list[str]:
    """Cold query first, then the groups interleaved in a fixed order:
    table and similarity memos are shared across queries, so the order
    changes per-query times, and a per-seed order would add its own
    spread to every run-to-run comparison."""
    lists = [list(names) for names in GROUPS.values()]
    out = [COLD]
    while any(lists):
        for names in lists:
            if names:
                out.append(names.pop(0))
    return out


def prepare(run: Run) -> None:
    run.notes["sf_dir"] = run.path("tables")
    run.generate(gen_tables.write_tables, run.seed, run.notes["sf_dir"], SF)


def set_up(run: Run) -> None:
    """Import every registry module."""
    from elb_log_etl_enrichment_spark.plans.queries import all_oracle_sql, all_queries

    run.notes["queries"] = all_queries()
    run.notes["oracle_sql"] = all_oracle_sql()


def _query(run: Run, name: str):
    """The function call, then ``.count()``; in a traced run each half
    is a ``plans.queries`` span."""
    fn = run.notes["queries"][name]
    if run.tracer is None:
        df = fn(run.spark, run.notes["sf_dir"])
        df.count()
        return df
    with run.tracer.span("plans.queries", f"{name}.build"):
        df = fn(run.spark, run.notes["sf_dir"])
    with run.tracer.span("plans.queries", f"{name}.exec"):
        df.count()
    return df


def execute(run: Run) -> None:
    frames = {}
    for name in order():
        kind = {"cold": "cold", "floor": "floor"}.get(group_of(name), "op")
        frames[name] = run.timed(name, kind, _query, run, name)
    run.notes["frames"] = frames


def layer_counters(run: Run) -> dict:
    """Table loads seen by the tracer, and the query groups."""
    loads = [s for s in run.tracer.spans if s.name == "load_table"]
    return {
        "sources.tables.load_calls": len(loads),
        "sources.tables.memo_hit_ratio":
            sum(s.repeat for s in loads) / len(loads) if loads else 0.0,
        "group_of": group_of,
    }


def verify(run: Run) -> None:
    sys.path.insert(0, os.path.join(run.root, "tests"))
    from oracle_harness import compare, duckdb_connection

    con = duckdb_connection(run.notes["sf_dir"])
    # the harness's defaults suit sf 1; keep these small tables' oracle
    # light and its spill files inside the run directory
    con.execute("SET memory_limit='4GB'")
    con.execute(f"SET temp_directory='{run.path('duckdb_spill')}'")
    con.execute("SET threads=2")
    osql = run.notes["oracle_sql"]
    for name, df in run.notes["frames"].items():
        if df is None or name not in osql:
            continue  # failed already, or rows-only (count ran)
        try:
            problems = compare(df, con.execute(osql[name]).fetchdf(), name)
        except Exception as e:  # a crashing check is a failed check
            problems = [f"{type(e).__name__}: {e}"[:300]]
        run.check(name, problems)
    con.close()
