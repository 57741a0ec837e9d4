"""The ``elb`` workload: the reference's ETL as one deployment lives it.

A fresh process first runs the batch pipeline cold (``run_pipeline``,
all four report sinks plus the cleaned-logs sink, empty geo cache) over
a seeded backfill corpus: what the cron CLI pays on every invocation,
JVM warm-up included. The same session then runs the incremental path,
one ``stream_elb_pipeline`` call per tick against a large pre-built geo
cache: two busy ticks, each landing one new object, three idle ticks
that land nothing and a last busy tick whose cache commit compacts. See
README.md for why.
"""

from __future__ import annotations

import glob
import os

import pyarrow.dataset as ds

from . import gen_elb
from .harness import Run

BATCH_LINES = 6_000
BATCH_OBJECTS = 8
BATCH_IP_POOL = 15_000
TICKS = 6  # two busy ticks, three idle ones, one busy: 3 busy, 3 idle
TICK_SCALE = 10  # ~630 lines per busy tick
CACHE_IPS = 20_000
#: the busy tick (1-based) whose cache commit crosses the compaction
#: threshold, given one appended file per busy tick
COMPACT_AT_BUSY_TICK = 3
BATCH_SHUFFLE_PARTITIONS = 4  # tick-sized shuffles, as the stream stress script


def is_idle(tick: int) -> bool:
    return tick % 5 >= 2


def _rows(path: str) -> int:
    if not os.path.isdir(path):
        return 0
    return ds.dataset(path, format="parquet", partitioning="hive").count_rows()


def _ingest_dirs(out: str) -> set[str]:
    """The stream's per-micro-batch sink directories under ``out``."""
    sink = os.path.join(out, "cleaned_logs")
    if not os.path.isdir(sink):
        return set()
    return {d for d in os.listdir(sink) if d.startswith("ingest_batch=")}


def cache_ips(path: str) -> list[str]:
    return ds.dataset(path, format="parquet").to_table(columns=["client_ip"]) \
        .column("client_ip").to_pylist()


def prepare(run: Run) -> None:
    """Seeded inputs: the backfill corpus and the tick cache."""
    from elb_log_etl_enrichment_spark.sources import geo_cache

    run.notes["batch_truth"] = run.generate(
        gen_elb.write_batch_corpus, run.seed, run.path("batch_logs"),
        BATCH_LINES, BATCH_OBJECTS, BATCH_IP_POOL,
    )
    # one file short of compacting at the chosen tick (ideal count is 1
    # file for a cache this small)
    n_files = 1 + geo_cache.GEO_CACHE_COMPACT_FILES + 1 - COMPACT_AT_BUSY_TICK
    run.notes["cache_ips"] = run.generate(
        gen_elb.write_geo_cache, run.seed, run.path("ticks_out", "geo_cache"),
        CACHE_IPS, n_files,
    )
    run.notes["cache_bytes0"] = sum(
        os.path.getsize(os.path.join(root, f))
        for root, _dirs, files in os.walk(run.path("ticks_out", "geo_cache"))
        for f in files
    )
    # every busy tick's object is written now and only moved into the
    # watched directory inside the timed loop
    os.makedirs(run.path("tick_logs"))
    run.notes["tick_truth"] = [
        None if is_idle(tick) else run.generate(
            gen_elb.land_tick, run.seed, tick, run.path("tick_staging"), TICK_SCALE)
        for tick in range(TICKS)
    ]


def set_up(run: Run) -> None:
    """Nothing beyond the session: the cold batch is the first operation."""


def _counting_fetch(spark):
    """``fake_fetch`` plus an accumulator counting its calls in the workers."""
    from elb_log_etl_enrichment_spark.sources.http_geo import fake_fetch

    acc = spark.sparkContext.accumulator(0)

    def fetch(ip):
        acc.add(1)
        return fake_fetch(ip)

    return fetch, acc


def execute(run: Run) -> None:
    from elb_log_etl_enrichment_spark.plans import pipeline
    from elb_log_etl_enrichment_spark.sources.http_geo import fake_fetch
    from elb_log_etl_enrichment_spark.streaming import elb_stream

    fetch_fn = fake_fetch
    if run.tracer is not None:
        fetch_fn, run.notes["lookups"] = _counting_fetch(run.spark)
    spark = run.spark
    batch_out = run.path("batch_out")
    run.timed(
        "batch", "cold", pipeline.run_pipeline, spark,
        run.path("batch_logs", "*.gz"), batch_out,
        geo_cache_path=os.path.join(batch_out, "geo_cache"), fetch_fn=fetch_fn,
    )
    ticks_out = run.path("ticks_out")
    tick_dirs = []  # each tick's new ingest_batch= directories, counted in verify
    for tick, truth in enumerate(run.notes["tick_truth"]):
        if truth is not None:
            name = gen_elb.tick_object_name(tick)
            os.replace(run.path("tick_staging", name), run.path("tick_logs", name))
        before = _ingest_dirs(ticks_out)
        run.timed(
            f"tick{tick}", "floor" if truth is None else "op",
            elb_stream.stream_elb_pipeline, spark,
            run.path("tick_logs", "*.gz"), ticks_out,
            geo_cache_path=os.path.join(ticks_out, "geo_cache"), fetch_fn=fetch_fn,
            checkpoint_dir=run.path("ticks_checkpoint"),
            batch_shuffle_partitions=BATCH_SHUFFLE_PARTITIONS,
        )
        tick_dirs.append(_ingest_dirs(ticks_out) - before)
    run.notes["tick_dirs"] = tick_dirs


def verify(run: Run) -> None:
    """Whole-run checks: the batch sinks and both geo caches."""
    truth = run.notes["batch_truth"]
    batch_out = run.path("batch_out")
    problems = []
    cleaned = _rows(os.path.join(batch_out, "cleaned_logs"))
    if cleaned != truth.valid:
        problems.append(f"cleaned_logs {cleaned} rows, want {truth.valid}")
    ips = cache_ips(os.path.join(batch_out, "geo_cache"))
    if len(ips) != len(truth.ips) or set(ips) != truth.ips:
        problems.append(f"batch geo cache {len(ips)} rows, want {len(truth.ips)} IPs")
    for sink in ("aggregated_stats/hourly_traffic_by_geo.parquet",
                 "reports/error_summary_geo.csv",
                 "reports/bot_traffic_details.parquet",
                 "reports/bot_traffic_by_origin_summary.csv"):
        if not glob.glob(os.path.join(batch_out, sink, "_SUCCESS")):
            problems.append(f"{sink} not committed")
    run.check("batch", problems)

    ticks_out = run.path("ticks_out")
    for tick, (truth, dirs) in enumerate(zip(run.notes["tick_truth"], run.notes["tick_dirs"])):
        new_rows = sum(_rows(os.path.join(ticks_out, "cleaned_logs", d)) for d in dirs)
        want = truth.valid if truth else 0
        if new_rows != want:
            run.check(f"tick{tick}", [f"sink delta {new_rows} rows, want {want}"])

    tick_ips = set().union(*(t.ips for t in run.notes["tick_truth"] if t))
    ips = cache_ips(os.path.join(ticks_out, "geo_cache"))
    want = run.notes["cache_ips"] | tick_ips
    problems = []
    if len(ips) != len(set(ips)):
        problems.append(f"tick geo cache holds {len(ips) - len(set(ips))} duplicate IPs")
    if set(ips) != want:
        problems.append(f"tick geo cache {len(set(ips))} IPs, want {len(want)}")
    last_busy = max(i for i in range(TICKS) if not is_idle(i))
    run.check(f"tick{last_busy}", problems)


def layer_counters(run: Run) -> dict:
    """Boundary counters of a traced run: rows the parser keeps (one
    untimed job under the check group), keys fetched, lookups made."""
    from elb_log_etl_enrichment_spark.sources.elb_logs import (
        parse_elb_lines, read_raw_lines)

    from .trace import CHECK_GROUP

    run.spark.sparkContext.setJobGroup(CHECK_GROUP, "rows parsed")
    parsed = parse_elb_lines(read_raw_lines(run.spark, run.path("*_logs", "*.gz"))).count()
    cached = (len(cache_ips(run.path("batch_out", "geo_cache")))
              + len(cache_ips(run.path("ticks_out", "geo_cache"))))
    return {
        "sources.elb_logs.rows_parsed": parsed,
        "sources.elb_logs.rows_corrupt": input_lines(run) - parsed,
        "operators.enrich.new_keys": cached - len(run.notes["cache_ips"]),
        "sources.http_geo.lookups": run.notes["lookups"].value,
        "batch_input_bytes": run.notes["batch_truth"].input_bytes,
        "input_bytes": input_bytes(run),
        "cache_bytes0": run.notes["cache_bytes0"],
        "busy_ticks": {i for i in range(TICKS) if not is_idle(i)},
    }


def input_bytes(run: Run) -> int:
    return run.notes["batch_truth"].input_bytes + sum(
        t.input_bytes for t in run.notes["tick_truth"] if t
    )


def input_lines(run: Run) -> int:
    return run.notes["batch_truth"].lines + sum(
        t.lines for t in run.notes["tick_truth"] if t
    )
