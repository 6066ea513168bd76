"""The benchmark's own tests.

    python3 -m pytest perfbench -q

The last test runs two traced runs per workload (a few minutes).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

import pytest

from perfbench import gen
from perfbench.trace import Span, self_time

ROOT = Path(__file__).resolve().parent.parent


def _tree(root: str) -> dict[str, bytes]:
    out = {}
    for dirpath, _, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = fh.read()
    return out


def _pages_after_days(seed: int, root: str, days: int) -> dict[str, bytes]:
    corpus = gen.Corpus(seed, 300, page_size=40)
    for _ in range(days):
        corpus.apply_day()
    corpus.write_pages(root)
    return _tree(root)


def test_same_seed_gives_byte_identical_pages(tmp_path):
    a = _pages_after_days(7, str(tmp_path / "a"), days=3)
    b = _pages_after_days(7, str(tmp_path / "b"), days=3)
    c = _pages_after_days(8, str(tmp_path / "c"), days=3)
    assert a and a == b
    assert a != c


def test_change_set_rates_and_resource_sizes():
    corpus = gen.Corpus(3, 5000)
    before = {t: dict(v) for t, v in corpus.versions.items()}
    ops = corpus.apply_day()
    assert ops == {"update": 50, "delete": 10, "insert": 10}
    bumped = sum(
        1 for t, v in corpus.versions.items() for k, ver in v.items() if before[t].get(k, ver) != ver
    )
    assert bumped == 50
    sizes = [len(corpus.body("Observation", k)) for k in list(corpus.versions["Observation"])[:200]]
    assert 500 <= min(sizes) and max(sizes) <= 3000


def test_stream_pages_are_seeded():
    def pages(seed):
        ids = [f"pat-{i:07d}" for i in range(100)]
        versions = dict.fromkeys(ids, 1)
        out, next_id = [], 100
        for p in range(3):
            page, next_id = gen.stream_page(seed, p, ids, 20, versions, next_id)
            out.append(page)
        return out, versions

    assert pages(5) == pages(5)
    page0 = pages(5)[0][0]
    assert sum(v == 1 for _, _, v in page0) == 10  # half new ids


def _span(sid, start, end, parent=None):
    return Span("s", start, end, parent, "r", sid)


def test_self_time_subtracts_the_union_of_children():
    parent = _span(1, 0.0, 10.0)
    kids = [
        _span(2, 1.0, 3.0, 1),
        _span(3, 2.0, 4.0, 1),  # overlaps the first (another thread)
        _span(4, 6.0, 7.0, 1),
        _span(5, 9.0, 12.0, 1),  # runs past the parent's end
    ]
    assert self_time(parent, kids) == pytest.approx(10.0 - 3.0 - 1.0 - 1.0)
    assert self_time(parent, []) == pytest.approx(10.0)
    assert self_time(parent, [_span(6, 11.0, 12.0, 1)]) == pytest.approx(10.0)


def _traced(workload: str, seed: int) -> dict:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", "1", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=600, check=True,
    )
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["correct"], result
    return {k: v["value"] for k, v in result["metrics"].items()}


@pytest.mark.parametrize(
    "workload, counts",
    [
        ("sync_pg", ("sync.jobs", "sync.actions", "sinks.statements", "sinks.connections", "sinks.rows")),
        ("query_mix", ("queries.jobs",)),
    ],
)
def test_traced_counts_repeat_exactly(workload, counts):
    first, second = _traced(workload, 21), _traced(workload, 21)
    for name in counts:
        assert first[name] > 0, name
        assert first[name] == second[name], name
