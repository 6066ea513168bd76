"""Outside-in tracing for the benchmark's traced run.

Spans are recorded around calls into the program's public functions:
the benchmark replaces module attributes (``pipeline.read_mirror_versions``,
``jdbc_upsert.apply_changeset``, ...) and the classic ``DataFrame``
action methods with timing wrappers, and restores them afterwards.
Nothing under the program's package is edited. Spans stay in memory
and are written out when the run ends.

Sink work happens in executor processes, so it is counted by
``CountingConnect``, a picklable wrapper around the workload's
``connect_fn`` whose connections append their totals to a file per
process; ``SinkCounts.drain`` sums and removes those files.
"""

from __future__ import annotations

import itertools
import json
import os
import threading
import time
from collections.abc import Callable
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str
    span_id: int


def self_time(span: Span, children: list[Span]) -> float:
    """The span's duration minus the part of it its children cover.

    Children may overlap each other (calls made from several threads),
    so the covered part is the union of their intervals, clipped to
    the span."""
    covered, cur_lo, cur_hi = 0.0, None, None
    for c in sorted(children, key=lambda c: c.start):
        lo, hi = max(c.start, span.start), min(c.end, span.end)
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        covered += cur_hi - cur_lo
    return (span.end - span.start) - covered


class Tracer:
    """Collects spans. Each thread keeps its own stack; a span opened
    on a thread with an empty stack hangs under ``root`` (the op span
    that started the work, set with ``op``)."""

    def __init__(self, run_id: str) -> None:
        self.run_id = run_id
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._restore: list[tuple[object, str, object]] = []
        self.root: int | None = None

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str):
        stack = self._stack()
        parent = stack[-1] if stack else self.root
        sid = next(self._ids)
        stack.append(sid)
        start = time.perf_counter()
        try:
            yield sid
        finally:
            end = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(Span(name, start, end, parent, self.run_id, sid))

    @contextmanager
    def op(self, name: str):
        """A top-level span for one benchmark op; spans opened by
        other threads during it hang under it."""
        with self.span(name) as sid:
            prev, self.root = self.root, sid
            try:
                yield sid
            finally:
                self.root = prev

    def wrap(
        self, owner: object, attr: str, name: str, on_result: Callable | None = None
    ) -> None:
        """Replace ``owner.attr`` with a wrapper that records a span
        and, if given, passes each result to ``on_result``."""
        original = getattr(owner, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            with tracer.span(name):
                result = original(*args, **kwargs)
            if on_result is not None:
                on_result(result)
            return result

        wrapper.__wrapped__ = original
        setattr(owner, attr, wrapper)
        self._restore.append((owner, attr, original))

    def unwrap_all(self) -> None:
        for owner, attr, original in reversed(self._restore):
            setattr(owner, attr, original)
        self._restore.clear()

    def children(self, sid: int) -> list[Span]:
        return [s for s in self.spans if s.parent == sid]

    def descendants(self, sid: int) -> list[Span]:
        out, todo = [], [sid]
        while todo:
            kids = self.children(todo.pop())
            out += kids
            todo += [k.span_id for k in kids]
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(asdict(s)) + "\n")


# --- sink counters (work done on executors) --------------------------

_COUNTERS = ("connections", "statements", "rows", "db_s")


class CountingConnect:
    """Picklable ``connect_fn`` wrapper. Each connection counts its
    statements (``execute``/``executemany`` calls), bound parameter
    rows and busy time (inside execute, executemany and commit), and
    appends them to ``<stats_dir>/<pid>.jsonl`` when it closes."""

    def __init__(self, connect_fn: Callable[[], object], stats_dir: str) -> None:
        self.connect_fn = connect_fn
        self.stats_dir = stats_dir

    def __call__(self):
        return _CountingConnection(self.connect_fn(), self.stats_dir)


class _CountingConnection:
    def __init__(self, conn, stats_dir: str) -> None:
        self._conn = conn
        self._stats_dir = stats_dir
        self.counts = {"connections": 1, "statements": 0, "rows": 0, "db_s": 0.0}

    def _timed(self, fn, *args):
        t0 = time.perf_counter()
        try:
            return fn(*args)
        finally:
            self.counts["db_s"] += time.perf_counter() - t0

    def cursor(self):
        return _CountingCursor(self, self._conn.cursor())

    def commit(self):
        return self._timed(self._conn.commit)

    def rollback(self):
        return self._conn.rollback()

    def close(self):
        try:
            self._conn.close()
        finally:
            path = os.path.join(self._stats_dir, f"{os.getpid()}.jsonl")
            with open(path, "a") as fh:
                fh.write(json.dumps(self.counts) + "\n")


class _CountingCursor:
    def __init__(self, conn: _CountingConnection, cur) -> None:
        self._conn = conn
        self._cur = cur

    def execute(self, sql, params=None):
        c = self._conn.counts
        c["statements"] += 1
        c["rows"] += 1 if params else 0
        args = (sql,) if params is None else (sql, params)
        self._conn._timed(self._cur.execute, *args)
        return self

    def executemany(self, sql, seq):
        seq = list(seq)
        c = self._conn.counts
        c["statements"] += 1
        c["rows"] += len(seq)
        return self._conn._timed(self._cur.executemany, sql, seq)

    def __getattr__(self, name):
        return getattr(self._cur, name)


class SinkCounts:
    """Reads and clears the per-process files ``CountingConnect``
    writes."""

    def __init__(self, stats_dir: str) -> None:
        self.stats_dir = stats_dir
        os.makedirs(stats_dir, exist_ok=True)

    def drain(self) -> dict[str, float]:
        total = dict.fromkeys(_COUNTERS, 0)
        for f in os.listdir(self.stats_dir):
            path = os.path.join(self.stats_dir, f)
            with open(path) as fh:
                for line in fh:
                    for k, v in json.loads(line).items():
                        total[k] += v
            os.remove(path)
        return total


# --- Spark scheduler counters ----------------------------------------

class JobCounter:
    """Jobs, stages and tasks run between two reads, from the
    scheduler's id counters and the status tracker. Counts every job
    in the application, whatever thread or job group submitted it,
    so one op must run at a time."""

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext
        self._dag = self._sc._jsc.sc().dagScheduler()
        self._mark = self._ids()

    def _ids(self) -> tuple[int, int]:
        return int(self._dag.nextJobId()), int(self._dag.nextStageId())

    def read(self) -> dict[str, int]:
        (j0, s0), (j1, s1) = self._mark, self._ids()
        self._mark = (j1, s1)
        tracker = self._sc.statusTracker()
        stages = tasks = 0
        for sid in range(s0, s1):
            info = tracker.getStageInfo(sid)
            if info is not None and info.numCompletedTasks > 0:
                stages += 1
                tasks += info.numCompletedTasks
        return {"jobs": j1 - j0, "stages": stages, "tasks": tasks}
