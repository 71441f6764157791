"""The benchmark's own tests: SQLMetric parsing, the tail-percentile rule and
generator determinism. Run with ``python3 -m pytest lakebench/tests -q``."""

from __future__ import annotations

import hashlib
import os

import pytest

import gen
from layers import parse_metric, union_seconds
from run import tail_percentile

TOTAL = "total (min, med, max (stageId: taskId))\n"


@pytest.mark.parametrize("text, value", [
    ("7 ms", 0.007),
    ("1.3 s", 1.3),
    ("2.5 m", 150.0),
    ("1.25 h", 4500.0),
    ("1885.0 B", 1885.0),
    ("1018.0 KiB", 1018.0 * 1024),
    ("3.5 GiB", 3.5 * 2**30),
    ("60,000", 60000.0),
    ("1,234,567", 1234567.0),
    ("0", 0.0),
    (TOTAL + "7 ms (0 ms, 7 ms, 7 ms (stage 11.0: task 10))", 0.007),
    (TOTAL + "2.7 s (430 ms, 2.2 s, 2.2 s (stage 3.0: task 2))", 2.7),
    (TOTAL + "132.9 KiB (66.4 KiB, 66.4 KiB, 66.4 KiB (stage 5.0: task 3))", 132.9 * 1024),
    ("total (min, med, max)\n32.5 MiB (16.2 MiB, 16.2 MiB, 16.2 MiB)", 32.5 * 2**20),
])
def test_parse_metric(text, value):
    assert parse_metric(text) == pytest.approx(value)


@pytest.mark.parametrize("text", [
    "(min, med, max (stageId: taskId)):\n(1, 1, 1 (stage 13.0: task 11))",  # an average
    "12 parsecs",
    "",
])
def test_parse_metric_rejects(text):
    with pytest.raises((ValueError, IndexError)):
        parse_metric(text)


@pytest.mark.parametrize("n, percentile, beyond", [
    (5, 100.0, 0),      # too few samples for any percentile: the maximum
    (19, 100.0, 0),
    (20, 50.0, 10),
    (40, 75.0, 10),
    (100, 90.0, 10),
    (199, 90.0, 19),
    (200, 95.0, 10),
    (1000, 99.0, 10),
    (10000, 99.9, 10),
])
def test_tail_percentile(n, percentile, beyond):
    samples = [float(i) for i in range(n, 0, -1)]  # unsorted on purpose
    value, p, b = tail_percentile(samples)
    assert (p, b) == (percentile, beyond)
    assert b >= 10 or p == 100.0
    assert sum(x > value for x in samples) == b


def test_union_seconds():
    assert union_seconds([]) == 0
    assert union_seconds([(0, 2), (1, 3), (5, 6), (5.5, 5.8)]) == pytest.approx(4.0)


def _digest(root) -> str:
    h = hashlib.sha256()
    for dirpath, dirs, files in sorted(os.walk(root)):
        dirs.sort()
        for name in sorted(files):
            path = os.path.join(dirpath, name)
            h.update(os.path.relpath(path, root).encode())
            with open(path, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


@pytest.mark.parametrize("kind", sorted(gen.GENERATORS))
def test_same_seed_same_bytes(kind, tmp_path):
    a = gen.ensure(kind, 7, str(tmp_path / "a"))
    b = gen.ensure(kind, 7, str(tmp_path / "b"))
    c = gen.ensure(kind, 8, str(tmp_path / "c"))
    assert _digest(a) == _digest(b)
    assert _digest(a) != _digest(c)
