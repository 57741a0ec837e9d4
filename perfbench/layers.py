"""Per-layer metrics of a traced run, named ``<module>.<counter>``.

Sources: the spans the tracer recorded around each layer's public
functions, the Spark event log (jobs, stages and task counters charged
to the span that submitted them), counters the benchmark keeps at the
layer boundary (geo lookups, table loads) and the files the sinks left.
A metric of a layer a workload does not run reads 0. README.md maps
each metric to the end-to-end metric it should move.
"""

from __future__ import annotations

import os
import statistics

from .eventlog import Counters, counters_by, find_event_log, read_event_log
from .trace import SINKS, Span, Tracer

#: layers whose spans submit Spark jobs, with the event-log counters kept
JOB_LAYERS = ("sources.geo_cache", "sinks.writers", "plans.pipeline",
              "streaming.elb_stream", "streaming.stream", "plans.queries",
              "sources.tables")
JOB_COUNTERS = (("jobs", "count"), ("stages", "count"), ("tasks", "count"),
                ("exec_cpu_s", "s"), ("input_mb", "MB"), ("shuffle_read_mb", "MB"),
                ("shuffle_write_mb", "MB"), ("spill_mb", "MB"), ("gc_s", "s"))
#: layers that only build lazy plans: their busy time is plan building
BUILD_LAYERS = ("sources.elb_logs", "sources.http_geo", "operators.enrich",
                "operators.aggregate", "sources.tables", "streaming.stream")
QUERY_GROUPS = ("cold", "eager", "exec", "floor")

PER_LAYER: list[tuple[str, str]] = [
    ("session.start_s", "s"),
    ("sources.elb_logs.read_amplification", "ratio"),
    ("sources.elb_logs.rows_parsed", "count"),
    ("sources.elb_logs.rows_corrupt", "count"),
    ("operators.enrich.new_keys", "count"),
    ("sources.http_geo.lookups", "count"),
    ("sources.http_geo.lookups_per_new_key", "ratio"),
    ("sources.geo_cache.busy_s", "s"),
    ("sources.geo_cache.bytes_written_mb", "MB"),
    ("sources.geo_cache.compactions", "count"),
    ("sources.geo_cache.files", "count"),
    ("plans.pipeline.self_s", "s"),
    ("plans.pipeline.enrich_build_s", "s"),
    *[(f"sinks.writers.{s}.{c}", u) for s in SINKS
      for c, u in (("busy_s", "s"), ("files", "count"), ("bytes_mb", "MB"))],
    ("sinks.writers.bytes_per_input_byte", "ratio"),
    ("streaming.elb_stream.self_s", "s"),
    ("streaming.elb_stream.busy_tick_s", "s"),
    ("streaming.elb_stream.idle_tick_s", "s"),
    ("streaming.elb_stream.jobs_per_tick", "count"),
    *[(f"plans.queries.{g}.{c}", u) for g in QUERY_GROUPS
      for c, u in (("build_s", "s"), ("exec_s", "s"), ("jobs", "count"),
                   ("stages", "count"))],
    ("plans.queries.query_p50_s", "s"),
    ("sources.tables.load_calls", "count"),
    ("sources.tables.memo_hit_ratio", "ratio"),
    *[(f"{layer}.busy_s", "s") for layer in BUILD_LAYERS],
    *[(f"{layer}.{c}", u) for layer in JOB_LAYERS for c, u in JOB_COUNTERS],
    ("trace.wall_s", "s"),
]


def install_targets():
    """The public functions wrapped in a traced run: the names
    ``plans.pipeline`` and ``streaming.elb_stream`` import from other
    layers, the pipeline's own entry points, the geo-cache commits,
    table loading and the streaming helpers the registry calls."""
    import types

    from elb_log_etl_enrichment_spark.plans import pipeline
    from elb_log_etl_enrichment_spark.sources import geo_cache, tables
    from elb_log_etl_enrichment_spark.streaming import elb_stream, stream

    def imported(mod):
        return [
            (mod, name) for name, v in vars(mod).items()
            if isinstance(v, types.FunctionType) and not name.startswith("_")
            and not hasattr(v, "__wrapped__")
            and v.__module__.startswith("elb_log_etl_enrichment_spark")
            and v.__module__ != mod.__name__
            and name != "fake_fetch"  # the transport runs in the workers
        ]

    own = [(pipeline, n) for n in ("run_pipeline", "enrich_and_featurize",
                                   "enrich_and_featurize_deferred")]
    own.append((elb_stream, "stream_elb_pipeline"))
    # context managers (sized_shuffle_partitions) scope a conf, they
    # do no work of their own: left unwrapped
    streams = [
        (stream, n) for n, v in vars(stream).items()
        if isinstance(v, types.FunctionType) and not n.startswith("_")
        and v.__module__ == stream.__name__ and not hasattr(v, "__wrapped__")
    ]
    extra = [(geo_cache, "append_geo_cache_delta"), (geo_cache, "commit_geo_cache"),
             (tables, "load_table")]
    seen, out = set(), []
    for mod, name in imported(pipeline) + imported(elb_stream) + own + streams + extra:
        fn = getattr(mod, name)
        if id(fn) not in seen:
            seen.add(id(fn))
            out.append((mod, name))
    return out


def _ancestors(spans: dict[int, Span], sp: Span | None):
    while sp is not None:
        yield sp
        sp = spans.get(sp.parent) if sp.parent is not None else None


def _files(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path``, skipping ``_``/``.`` files."""
    n = size = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if not f.startswith(("_", ".")):
                n += 1
                size += os.path.getsize(os.path.join(root, f))
    return n, size


def _sum(spans, pred) -> float:
    return sum(s.duration for s in spans if pred(s))


def compute(run, tracer: Tracer, extra: dict) -> dict[str, float]:
    """All PER_LAYER metrics. ``extra`` carries the boundary counters
    the workload measured itself (lookups, new keys, rows parsed...)."""
    spark_dir = run.path("events")
    log = read_event_log(find_event_log(spark_dir))
    by_id = {s.span_id: s for s in tracer.spans}
    job_span = {j.job_id: tracer.span_of_job(j) for j in log.jobs.values()}
    m: dict[str, float] = {name: 0.0 for name, _unit in PER_LAYER}
    spans = tracer.spans

    m["session.start_s"] = run.session_start_s
    m.update({k: v for k, v in extra.items() if k in m})

    # event-log counters per layer: each job goes to its span's layer
    per_layer = counters_by(
        log, lambda j: job_span[j.job_id].layer if job_span[j.job_id] else None
    )
    for layer in JOB_LAYERS:
        c = per_layer.get(layer, Counters())
        for counter, _unit in JOB_COUNTERS:
            m[f"{layer}.{counter}"] = getattr(c, counter)
    for layer in BUILD_LAYERS:
        m[f"{layer}.busy_s"] = _sum(spans, lambda s: s.layer == layer and not any(
            a.layer == layer for a in _ancestors(by_id, by_id.get(s.parent))))

    # geo cache
    geo = [s for s in spans if s.layer == "sources.geo_cache"]
    m["sources.geo_cache.busy_s"] = _sum(geo, lambda s: not any(
        a.layer == "sources.geo_cache" for a in _ancestors(by_id, by_id.get(s.parent))))
    m["sources.geo_cache.bytes_written_mb"] = per_layer.get(
        "sources.geo_cache", Counters()).output_mb
    m["sources.geo_cache.compactions"] = sum(
        1 for s in geo if s.name == "commit_geo_cache" and s.parent in by_id
        and by_id[s.parent].name == "append_geo_cache_delta")
    if os.path.isdir(run.path("ticks_out", "geo_cache")):
        m["sources.geo_cache.files"] = _files(run.path("ticks_out", "geo_cache"))[0]

    # the batch op's text-scan bytes over its log objects' bytes (tick
    # stages also count reads of the persisted micro-batch as input)
    if extra.get("batch_input_bytes"):
        stage_job = log.stage_job()

        def in_batch(job_id):
            return any(a.name == "run_pipeline"
                       for a in _ancestors(by_id, job_span[job_id]))

        text_mb = sum(
            st.counters.input_mb for sid, st in log.stages.items()
            if any("Scan text" in n for n in st.rdd_names) and in_batch(stage_job[sid])
        )
        m["sources.elb_logs.read_amplification"] = (
            text_mb * 1e6 / extra["batch_input_bytes"])
    if m["operators.enrich.new_keys"]:
        m["sources.http_geo.lookups_per_new_key"] = (
            m["sources.http_geo.lookups"] / m["operators.enrich.new_keys"])

    # pipeline and stream
    runs = [s for s in spans if s.name == "run_pipeline"]
    m["plans.pipeline.self_s"] = sum(tracer.self_time(s) for s in runs)
    ticks = [s for s in spans if s.name == "stream_elb_pipeline"]
    busy_ticks = extra.get("busy_ticks", ())
    busy = [t for i, t in enumerate(ticks) if i in busy_ticks]
    if busy:
        m["streaming.elb_stream.self_s"] = statistics.median(
            tracer.self_time(t) for t in busy)
        builds = []
        for t in busy:
            builds.append(_sum(spans, lambda s: s.name == "enrich_and_featurize_deferred"
                               and any(a is t for a in _ancestors(by_id, s))))
        m["plans.pipeline.enrich_build_s"] = statistics.median(builds)
        busy_ids = {t.span_id for t in busy}
        tick_jobs = sum(
            1 for sp in job_span.values() if sp is not None
            and any(a.span_id in busy_ids for a in _ancestors(by_id, sp)))
        m["streaming.elb_stream.jobs_per_tick"] = tick_jobs / len(busy)
        m["streaming.elb_stream.busy_tick_s"] = statistics.median(extra["op_s"])
        m["streaming.elb_stream.idle_tick_s"] = statistics.fmean(extra["floor_s"])

    # sinks: busy time from spans, files and bytes from what they left
    for sink in SINKS:
        m[f"sinks.writers.{sink}.busy_s"] = _sum(
            spans, lambda s: s.layer == "sinks.writers" and s.name.endswith("." + sink))
        n = size = 0
        for root in (run.path("batch_out"), run.path("ticks_out")):
            for sub in ("", "aggregated_stats", "reports"):
                for entry in (os.listdir(os.path.join(root, sub))
                              if os.path.isdir(os.path.join(root, sub)) else ()):
                    if entry.split(".")[0] == sink:
                        f, b = _files(os.path.join(root, sub, entry))
                        n, size = n + f, size + b
        m[f"sinks.writers.{sink}.files"] = n
        m[f"sinks.writers.{sink}.bytes_mb"] = size / 1e6
    if extra.get("input_bytes"):
        written = sum(m[f"sinks.writers.{s}.bytes_mb"] for s in SINKS) * 1e6
        written += _files(run.path("batch_out", "geo_cache"))[1]
        written += _files(run.path("ticks_out", "geo_cache"))[1] - extra["cache_bytes0"]
        m["sinks.writers.bytes_per_input_byte"] = written / extra["input_bytes"]

    # registry queries, per group
    group_of = extra.get("group_of")
    if group_of:
        m["plans.queries.query_p50_s"] = statistics.median(extra["op_s"])
        for s in spans:
            if s.layer == "plans.queries" and s.parent is None:
                qname, phase = s.name.rsplit(".", 1)
                key = f"plans.queries.{group_of(qname)}.{phase}_s"
                m[key] = m.get(key, 0.0) + s.duration
        q_counts = counters_by(log, lambda j: _query_group(by_id, job_span[j.job_id],
                                                           group_of))
        for g in QUERY_GROUPS:
            c = q_counts.get(g, Counters())
            m[f"plans.queries.{g}.jobs"] = c.jobs
            m[f"plans.queries.{g}.stages"] = c.stages
    return m


def _query_group(by_id, sp, group_of):
    for a in _ancestors(by_id, sp):
        if a.layer == "plans.queries" and a.parent is None:
            return group_of(a.name.rsplit(".", 1)[0])
    return None
