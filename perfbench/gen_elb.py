"""Seeded ALB log inputs for the ``elb`` workload.

Everything here is a pure function of the seed: the same seed writes
byte-identical gzip objects (``mtime=0`` in the gzip header, sorted
lines, fixed compression level) and the same pre-built geo cache. Each
generator returns the ground-truth counts the output checks compare
against, so the checks never have to trust the program's own tallies.
"""

from __future__ import annotations

import bisect
import gzip
import os
import random
from dataclasses import dataclass, field
from datetime import datetime, timedelta

from elb_log_etl_enrichment_spark.sources.alb_fixtures import UAS, make_line

STATUSES = [200, 200, 200, 200, 301, 304, 404, 403, 500, 503]
PATHS = ["/api/v1/items", "/api/v2/users", "/static/app.js", "/checkout",
         "/search", "/admin/login", "/api/v1/cart", "/"]
#: user-agent mix: mostly browsers, some bots and curl, a few health checks
AGENTS = ["browser"] * 12 + ["bot"] * 3 + ["curl"] * 2 + ["healthcheck"]


@dataclass
class Truth:
    """Ground truth for one set of log objects."""

    lines: int = 0
    garbage: int = 0
    healthcheck: int = 0
    ips: set[str] = field(default_factory=set)  # distinct IPs of parseable lines
    input_bytes: int = 0

    @property
    def valid(self) -> int:
        """Lines the cleaned sink must hold: parseable, not health checks."""
        return self.lines - self.garbage - self.healthcheck


def _write_gz(path: str, lines: list[str]) -> int:
    data = ("\n".join(lines) + "\n").encode()
    with open(path, "wb") as raw:
        with gzip.GzipFile(fileobj=raw, mode="wb", mtime=0, compresslevel=6) as f:
            f.write(data)
    return os.path.getsize(path)


def _line(rng: random.Random, ts: datetime, ip: str, truth: Truth) -> str:
    agent = rng.choice(AGENTS)
    status = rng.choice(STATUSES)
    if agent == "healthcheck":
        truth.healthcheck += 1
    truth.ips.add(ip)
    return make_line(
        ts,
        ip,
        status=status,
        ua=UAS[agent],
        path=rng.choice(PATHS),
        rpt="-" if rng.random() < 0.05 else f"{rng.random() / 100:.3f}",
        tpt=f"{rng.random() / 10:.3f}",
        classification_reason="WAF,Blocked" if status == 403 else "-",
    )


def _garbage(rng: random.Random, i: int) -> str:
    kind = rng.randrange(3)
    if kind == 0:
        return f"garbage line {i}"
    if kind == 1:
        return f"https 2025-05-26T12:00:{i % 60:02d}.000000Z truncated"
    return ""


def write_batch_corpus(
    seed: int, logs_dir: str, n_lines: int, n_objects: int = 8,
    n_ips: int = 15_000, garbage_rate: float = 0.01,
) -> Truth:
    """``n_lines`` lines over ``n_objects`` gzip objects spanning 3 days.

    Client IPs follow a Zipf-like law over ``n_ips`` candidates (rank r
    drawn with weight 1/r), so a few IPs carry much of the traffic and
    most appear a handful of times; about ``garbage_rate`` of the lines
    are unparseable."""
    rng = random.Random(seed)
    pool = [
        f"{rng.randrange(1, 224)}.{rng.randrange(256)}.{rng.randrange(256)}."
        f"{rng.randrange(1, 255)}"
        for _ in range(n_ips)
    ]
    cum, acc = [], 0.0
    for r in range(1, n_ips + 1):
        acc += 1.0 / r
        cum.append(acc)
    truth = Truth()
    start = datetime(2025, 5, 26)
    span_s = 3 * 24 * 3600
    per_obj = n_lines // n_objects
    os.makedirs(logs_dir, exist_ok=True)
    for o in range(n_objects):
        lo = span_s * o // n_objects
        hi = span_s * (o + 1) // n_objects
        stamps = sorted(rng.uniform(lo, hi) for _ in range(per_obj))
        lines = []
        for i, s in enumerate(stamps):
            if rng.random() < garbage_rate:
                lines.append(_garbage(rng, i))
                truth.garbage += 1
                continue
            ip = pool[bisect.bisect_left(cum, rng.random() * acc)]
            lines.append(_line(rng, start + timedelta(seconds=s), ip, truth))
        truth.lines += len(lines)
        truth.input_bytes += _write_gz(
            os.path.join(logs_dir, f"elb_{o:02d}.log.gz"), lines
        )
    return truth


def tick_lines(seed: int, tick: int, scale: int = 10) -> tuple[list[str], Truth]:
    """One busy tick's log object, shaped like the stream stress script's:
    ``scale`` x 7 hours x 3 client slots, 2-4 requests each (~630 lines
    at scale 10). Slot 0 reuses one IP per (scale, hour) across ticks,
    so about a third of the IPs are already cached after the first
    tick; the other slots are new. One health check and one garbage
    line ride along."""
    rng = random.Random(seed * 1_000_003 + tick)
    base = datetime(2025, 6, 1) + timedelta(days=tick)
    truth = Truth()
    lines: list[str] = []
    for s in range(scale):
        for hour in (0, 6, 9, 12, 15, 18, 21):
            for u in range(3):
                ip = (
                    f"30.0.{hour}.{s}" if u == 0
                    else f"3{u}.{tick % 250 + 1}.{hour}.{s * 3 + rng.randrange(3)}"
                )
                for r in range(2 + rng.randrange(3)):
                    ts = base + timedelta(hours=hour, minutes=3 * r, seconds=s)
                    lines.append(_line(rng, ts, ip, truth))
    truth.ips.add("10.0.9.9")
    truth.healthcheck += 1
    lines.append(make_line(base, "10.0.9.9", ua=UAS["healthcheck"]))
    lines.append(f"garbage tick {tick}")
    truth.garbage += 1
    truth.lines = len(lines)
    return lines, truth


def tick_object_name(tick: int) -> str:
    """A busy tick's object name; it sorts after earlier ticks'."""
    return f"tick_{tick:04d}.log.gz"


def land_tick(seed: int, tick: int, logs_dir: str, scale: int = 10) -> Truth:
    """Write one busy tick's object under ``logs_dir``."""
    lines, truth = tick_lines(seed, tick, scale)
    os.makedirs(logs_dir, exist_ok=True)
    truth.input_bytes = _write_gz(os.path.join(logs_dir, tick_object_name(tick)), lines)
    return truth


def write_geo_cache(seed: int, cache_dir: str, n_ips: int, n_files: int) -> set[str]:
    """A pre-built geo cache of ``n_ips`` rows in ``GEO_SCHEMA`` split
    into ``n_files`` parquet files, written with pyarrow (no Spark).
    Its IPs (40.x.x.x) never collide with the tick IPs (3x.x.x.x), so
    every tick row that hits the cache hits a row an earlier tick wrote.
    Returns the cached IPs."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from elb_log_etl_enrichment_spark.sources.http_geo import fake_fetch

    rng = random.Random(seed ^ 0x5EED)
    ips = sorted({
        f"40.{rng.randrange(256)}.{rng.randrange(256)}.{rng.randrange(1, 255)}"
        for _ in range(n_ips)
    })
    rows = [fake_fetch(ip) for ip in ips]
    stamp = datetime(2025, 5, 1)
    cols = {k: [r[k] for r in rows] for k in rows[0]}
    cols["api_fetch_timestamp"] = [stamp] * len(rows)
    schema = pa.schema([
        ("client_ip", pa.string()), ("countryCode", pa.string()),
        ("countryName", pa.string()), ("regionName", pa.string()),
        ("city", pa.string()), ("lat", pa.float64()), ("lon", pa.float64()),
        ("isp", pa.string()), ("api_fetch_timestamp", pa.timestamp("us")),
    ])
    table = pa.table(cols, schema=schema)
    os.makedirs(cache_dir, exist_ok=True)
    step = -(-len(ips) // n_files)
    for i in range(n_files):
        pq.write_table(
            table.slice(i * step, step),
            os.path.join(cache_dir, f"part-{i:05d}-prebuilt.snappy.parquet"),
        )
    return set(ips)
