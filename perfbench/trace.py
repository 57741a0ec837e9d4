"""Spans around the engine's public functions, recorded from outside.

``Tracer.install`` replaces a set of public functions with wrappers in
every loaded module of the engine package that holds a reference to
them, so a call made through an imported name (``from ..sinks.writers
import write_parquet``) is traced the same as one made through the
defining module. Each wrapper records a span (layer, name, start, end,
parent span, thread) and, for its duration, sets the Spark job group of
the calling thread to the span's id. Jobs the Spark event log records
under that group belong to the span; jobs submitted under another group
(the streaming runtime's own) fall to the innermost span open when they
were submitted.

Spans stay in memory until ``Tracer.dump`` writes them at the end of
the run. Nothing here runs unless a traced run installs it.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import sys
import threading
import time
from dataclasses import asdict, dataclass

PACKAGE = "elb_log_etl_enrichment_spark"
GROUP_PREFIX = "perfbench:"
#: job group of the benchmark's own untimed check jobs, charged to no layer
CHECK_GROUP = "perfbench-check"

#: the five sinks the batch pipeline writes (the stream writes the first)
SINKS = (
    "cleaned_logs",
    "hourly_traffic_by_geo",
    "error_summary_geo",
    "bot_traffic_details",
    "bot_traffic_by_origin_summary",
)


@dataclass
class Span:
    span_id: int
    layer: str  # engine module below the package, e.g. "sinks.writers"
    name: str  # function name, plus the sink for sink writes
    parent: int | None
    thread: str
    start: float  # time.time(), seconds since the epoch
    end: float | None = None
    error: str | None = None
    repeat: bool = False  # returned an object an earlier call returned

    @property
    def duration(self) -> float:
        return (self.end or self.start) - self.start


def layer_of(fn) -> str:
    mod = fn.__module__
    return mod[len(PACKAGE) + 1:] if mod.startswith(PACKAGE + ".") else mod


def sink_of(args, kwargs) -> str:
    """The sink a ``sinks.writers`` call writes, from its path argument."""
    path = kwargs.get("path") or next((a for a in args if isinstance(a, str)), "")
    return next((s for s in SINKS if s in path), "other")


class Tracer:
    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._open: dict[int, Span] = {}
        self.spans: list[Span] = []
        self._patched: list[tuple[object, str, object]] = []
        self._results: dict[int, object] = {}  # id -> object, kept alive

    # -- spans ------------------------------------------------------------

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, layer: str, name: str):
        stack = self._stack()
        with self._lock:
            if stack:
                parent = stack[-1].span_id
            else:  # first span of a new thread: the newest open span
                parent = max(self._open, default=None)
            sp = Span(next(self._ids), layer, name, parent,
                      threading.current_thread().name, time.time())
            self._open[sp.span_id] = sp
            self.spans.append(sp)
        stack.append(sp)
        prev_group = self._sc.getLocalProperty("spark.jobGroup.id")
        prev_desc = self._sc.getLocalProperty("spark.job.description")
        self._sc.setLocalProperty("spark.jobGroup.id", f"{GROUP_PREFIX}{sp.span_id}")
        self._sc.setLocalProperty("spark.job.description", f"{layer}.{name}")
        try:
            yield sp
        except BaseException as e:
            sp.error = type(e).__name__
            raise
        finally:
            self._sc.setLocalProperty("spark.jobGroup.id", prev_group)
            self._sc.setLocalProperty("spark.job.description", prev_desc)
            sp.end = time.time()
            stack.pop()
            with self._lock:
                self._open.pop(sp.span_id, None)

    # -- wrapping ---------------------------------------------------------

    def wrap(self, fn):
        """A traced stand-in for ``fn``."""
        layer = layer_of(fn)
        name = fn.__name__
        naming = (lambda a, k: f"{name}.{sink_of(a, k)}") if layer == "sinks.writers" \
            else (lambda a, k: name)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(layer, naming(args, kwargs)) as sp:
                result = fn(*args, **kwargs)
                sp.repeat = id(result) in self._results
                self._results[id(result)] = result
                return result
        return traced

    def install(self, targets) -> None:
        """Wrap each ``(module, attribute)`` and rebind every reference
        to the original held by a loaded engine module."""
        for module, attr in targets:
            original = getattr(module, attr)
            traced = self.wrap(original)
            for mod in list(sys.modules.values()):
                if mod is None or not getattr(mod, "__name__", "").startswith(PACKAGE):
                    continue
                for key, value in list(vars(mod).items()):
                    if value is original:
                        setattr(mod, key, traced)
                        self._patched.append((mod, key, original))

    def uninstall(self) -> None:
        for mod, key, original in reversed(self._patched):
            setattr(mod, key, original)
        self._patched.clear()

    # -- reading ----------------------------------------------------------

    def span_of_job(self, job) -> Span | None:
        """The span a Spark job belongs to: by its job group when a
        wrapper set one, else the innermost span open at submission."""
        if job.group and job.group.startswith(GROUP_PREFIX):
            sid = int(job.group[len(GROUP_PREFIX):])
            return next((s for s in self.spans if s.span_id == sid), None)
        t = job.submit_ms / 1000.0
        live = [s for s in self.spans if s.start <= t <= (s.end or float("inf"))]
        return max(live, key=lambda s: s.start, default=None)

    def self_time(self, sp: Span) -> float:
        """Duration minus the part covered by direct children."""
        kids = sorted(
            (s.start, s.end or s.start) for s in self.spans if s.parent == sp.span_id
        )
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in kids:
            lo, hi = max(lo, sp.start), min(hi, sp.end or hi)
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        return max(sp.duration - covered, 0.0)

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            json.dump([asdict(s) for s in self.spans], f)
