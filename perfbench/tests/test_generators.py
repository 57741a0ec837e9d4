"""The seeded input generators: same seed, byte-identical files and the
same ground truth; another seed, other files.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import gzip
import hashlib
import os

from perfbench import fidelity, gen_elb, gen_tables


def _digest(root) -> dict[str, str]:
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for f in sorted(files):
            p = os.path.join(dirpath, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def test_batch_corpus_is_a_function_of_the_seed(tmp_path):
    a = gen_elb.write_batch_corpus(7, str(tmp_path / "a"), 2_000, 4, 500)
    b = gen_elb.write_batch_corpus(7, str(tmp_path / "b"), 2_000, 4, 500)
    c = gen_elb.write_batch_corpus(8, str(tmp_path / "c"), 2_000, 4, 500)
    assert _digest(tmp_path / "a") == _digest(tmp_path / "b")
    assert _digest(tmp_path / "a") != _digest(tmp_path / "c")
    assert (a.lines, a.garbage, a.healthcheck, a.ips) == \
        (b.lines, b.garbage, b.healthcheck, b.ips)
    assert a.lines == 2_000 and 0 < a.garbage < 100 and a.healthcheck > 0
    assert a.input_bytes == sum(
        os.path.getsize(tmp_path / "a" / f) for f in os.listdir(tmp_path / "a"))
    # the truth counts what the objects hold
    lines = []
    for f in sorted(os.listdir(tmp_path / "a")):
        with gzip.open(tmp_path / "a" / f, "rt") as fh:
            lines += fh.read().splitlines()
    assert len(lines) == a.lines
    assert sum("ELB-HealthChecker" in ln for ln in lines) == a.healthcheck


def test_tick_objects_and_cache(tmp_path):
    t1 = gen_elb.land_tick(3, 5, str(tmp_path))
    first = _digest(tmp_path)
    os.remove(tmp_path / "tick_0005.log.gz")
    t2 = gen_elb.land_tick(3, 5, str(tmp_path))
    assert _digest(tmp_path) == first and t1.ips == t2.ips
    assert 500 < t1.lines < 800 and t1.garbage == 1
    ips = gen_elb.write_geo_cache(3, str(tmp_path / "cache"), 1_000, 7)
    assert len(os.listdir(tmp_path / "cache")) == 7
    assert not ips & t1.ips


def test_tables_are_a_function_of_the_seed(tmp_path):
    gen_tables.write_tables(5, str(tmp_path / "a"), 0.001)
    gen_tables.write_tables(5, str(tmp_path / "b"), 0.001)
    gen_tables.write_tables(6, str(tmp_path / "c"), 0.001)
    assert _digest(tmp_path / "a") == _digest(tmp_path / "b")
    assert _digest(tmp_path / "a") != _digest(tmp_path / "c")
    assert len(_digest(tmp_path / "a")) == 10
    # another seed changes the values, never the schemas or row counts
    assert fidelity.compare_tables(str(tmp_path / "a"), str(tmp_path / "c")) == 0
