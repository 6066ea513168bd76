"""The benchmark's workloads: closed loops of ops, one client each.

``sync_pg``   the product path. ``sync.pipeline.run_sync`` over the four
              reference types, from ``fhir_bundles`` pages into a
              throwaway PostgreSQL mirror. The ``initial`` load and one
              resync pass are the warm-up; each timed op is a
              ``resync`` pass after a seeded daily change-set.
``query_mix`` a fixed rotation of registered queries into the ``noop``
              sink over the repository's sf 0.01 test tables (a copy
              under ``data/``); each timed op is one round of the
              rotation. The sync layers do no work here.

Every op is checked: the mirror's ``id -> version`` map must equal the
generator's after each sync pass, and each query's output must hash
equal to its DuckDB oracle once per run.
"""

from __future__ import annotations

import hashlib
import math
import os
import sqlite3
import statistics
import time
from contextlib import nullcontext
from dataclasses import dataclass, field

from perfbench import gen
from perfbench.cpu import tree_cpu_s
from perfbench.trace import CountingConnect, JobCounter, SinkCounts, Tracer, self_time

# Sizes are fixed for every seed; the seed changes only the content.
SYNC_RESOURCES = 2000
SYNC_PAGE_SIZE = 200
# The first resync is the first to run the update and delete paths;
# after it, passes are level under the pinned JVM flags (README, warm-up).
SYNC_WARMUP_RESYNCS = 1
# A run times at least this many ops, so that its median can set aside
# one slow op; a median of two is their mean.
MIN_OPS = 3
STREAM_MIRROR_ROWS = 10_000
STREAM_PAGE_SIZE = 500
STREAM_PAGES = 4
SCAN_REPEATS = 3
# Noop rounds after the cold toPandas round before timing starts.
QUERY_WARMUP_ROUNDS = 1
# Byte copies of the sf 0.01 tables the registered queries and their
# oracles were written for (TESTDATA.md), only those the mix reads.
QUERY_SF_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")
QUERY_TABLES = ("customer", "orders", "lineitem", "events", "documents", "embeddings")
# One query per operator family, every one with a DuckDB oracle.
QUERY_MIX = (
    "q_agg_basic", "q_tpch_q3", "q_sync_diff_full", "q_window_rank",
    "q_project_json", "q_udf_pandas", "q_text_tfidf",
    "q_dedup_exact", "q_embed_topk", "q_graph_degree_dist",
)


@dataclass
class Op:
    kind: str
    seconds: float
    cpu_s: float
    ok: bool
    layers: dict = field(default_factory=dict)


@dataclass
class Context:
    spark: object
    seed: int
    seconds: float
    work: str
    tracer: Tracer | None
    cpu_roots: set[int] = field(default_factory=lambda: {os.getpid()})
    ops: list[Op] = field(default_factory=list)
    warmup_s: float = 0.0
    warmup_ops: int = 0
    checks_ok: bool = True  # checks outside the timed ops (warm-up, stream)
    info: dict = field(default_factory=dict)
    layers: dict = field(default_factory=dict)


# --- tracing hooks ---------------------------------------------------

_ACTIONS = ("count", "collect", "foreachPartition", "toPandas", "isEmpty")
# Frames returned by ``read_mirror_versions`` during the current op;
# their rows are counted after it, outside its timing.
_mirror_frames: list = []


def install_trace(tracer: Tracer) -> None:
    """Wrap the program's layer entry points and the DataFrame actions."""
    from pyspark.sql.classic.dataframe import DataFrame

    from fhir2sql_spark.sinks import jdbc_upsert
    from fhir2sql_spark.sync import pipeline

    for attr in ("sync_resources", "extract_mirror_versions",
                 "extract_versions", "partition_malformed", "diff_snapshots"):
        tracer.wrap(pipeline, attr, f"sync.{attr}")
    tracer.wrap(pipeline, "read_mirror_versions", "sync.read_mirror_versions",
                on_result=_mirror_frames.append)
    for attr in ("apply_changeset", "merge_stage_into_target", "create_mirror_tables"):
        tracer.wrap(jdbc_upsert, attr, f"sinks.{attr}")
    for attr in _ACTIONS:
        tracer.wrap(DataFrame, attr, f"action.{attr}")


def _sum(spans, prefix: str) -> float:
    return sum(s.end - s.start for s in spans if s.name.startswith(prefix))


def _median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


# --- sync_pg ---------------------------------------------------------

def _mirror_map(srv, table: str) -> dict[str, int]:
    rows = srv.query(
        f"SELECT resource->>'id', resource->'meta'->>'versionId' FROM {table}"  # noqa: S608
    )
    return {r[0]: int(r[1]) for r in rows}


def sync_pg(ctx: Context) -> None:
    from fhir2sql_spark.sources.rest_pages import register_bundle_file_source
    from fhir2sql_spark.sync import pipeline

    from perfbench.pg import FLUSH_SETTINGS, PgServer

    spark = ctx.spark
    register_bundle_file_source(spark)
    srv = PgServer(os.path.join(ctx.work, "pg"))
    ctx.cpu_roots.add(srv.pid)
    try:
        corpus = gen.Corpus(ctx.seed, SYNC_RESOURCES, page_size=SYNC_PAGE_SIZE)
        pages_dir = os.path.join(ctx.work, "pages")
        connect = srv.connect_fn
        sinks = jobs = None
        if ctx.tracer is not None:
            sinks = SinkCounts(os.path.join(ctx.work, "sink-stats"))
            connect = CountingConnect(srv.connect_fn, sinks.stats_dir)
            jobs = JobCounter(spark)
        ctx.info.update(
            resources=SYNC_RESOURCES, page_size=SYNC_PAGE_SIZE, types=dict(gen.type_counts(SYNC_RESOURCES)),
            pg=FLUSH_SETTINGS, sink="batched executemany, dialect=pg", parallel_types=True,
        )

        def one_pass(kind: str) -> Op:
            if kind != "initial":
                corpus.apply_day()
            dirs = corpus.write_pages(pages_dir)
            if jobs is not None:
                jobs.read()
                sinks.drain()
                _mirror_frames.clear()
            c0, t0 = tree_cpu_s(ctx.cpu_roots), time.perf_counter()
            with _op_span(ctx, kind) as sid:
                sources = {t: spark.read.format("fhir_bundles").load(d) for t, d in dirs.items()}
                stats = pipeline.run_sync(spark, sources, connect, dialect="pg", parallel=True)
            dt, cpu = time.perf_counter() - t0, tree_cpu_s(ctx.cpu_roots) - c0
            ok = True
            for rtype, st in stats.items():
                ok &= st.counts_match and _mirror_map(srv, rtype.lower()) == corpus.expected(rtype)
            op = Op(kind, dt, cpu, ok)
            if sid is not None:
                op.layers = _sync_layers(ctx.tracer, sid, jobs.read(), sinks.drain())
                op.layers["sync.mirror_rows"] = sum(df.count() for df in _mirror_frames)
                op.layers["sources.pages"] = sum(len(os.listdir(d)) for d in dirs.values())
                op.layers["sources.resources"] = sum(len(corpus.versions[t]) for t in dirs)
            return op

        # Warm-up: the initial load, which compiles the sync's plans,
        # then resync passes until pass times level off.
        initial = one_pass("initial")
        ctx.info["initial_s"] = initial.seconds
        warm = [initial] + [one_pass("resync") for _ in range(SYNC_WARMUP_RESYNCS)]
        ctx.warmup_s = sum(o.seconds for o in warm)
        ctx.warmup_ops = len(warm)
        ctx.checks_ok &= all(o.ok for o in warm)

        run_timed(ctx, lambda: one_pass("resync"))

        if ctx.tracer is not None:
            ctx.layers.update(_median_layers(ctx.ops))
            ctx.layers["sinks.initial_apply_s"] = initial.layers.get("sinks.apply_s", 0.0)
            ctx.layers["sources.scan_s"] = _scan_time(spark, corpus.write_pages(pages_dir))
            ctx.layers.update(stream_phase(ctx))
    finally:
        srv.stop()


def run_timed(ctx: Context, one_op) -> None:
    """Closed loop: start ops until ``ctx.seconds`` have passed and at
    least ``MIN_OPS`` have run; the last one runs to its end."""
    deadline = time.perf_counter() + ctx.seconds
    while len(ctx.ops) < MIN_OPS or time.perf_counter() < deadline:
        ctx.ops.append(one_op())


def _op_span(ctx: Context, kind: str):
    return ctx.tracer.op(f"op.{kind}") if ctx.tracer is not None else nullcontext()


def _span(ctx: Context, name: str):
    return ctx.tracer.span(name) if ctx.tracer is not None else nullcontext()


def _sync_layers(tracer: Tracer, sid: int, jobs: dict, sinks: dict) -> dict:
    spans = tracer.descendants(sid)
    [op_span] = [s for s in tracer.spans if s.span_id == sid]
    # Driver self time: the op's wall time not covered by any call
    # into a lower layer, whichever of the per-type threads made it.
    lower = [s for s in spans if s.name != "sync.sync_resources"]
    out = {
        "sync.actions": sum(1 for s in spans if s.name in
                            ("action.count", "action.collect", "action.foreachPartition")),
        "sync.jobs": jobs["jobs"],
        "sync.stages": jobs["stages"],
        "sync.tasks": jobs["tasks"],
        "sync.action_s": _sum(spans, "action."),
        "sync.plan_s": sum(_sum(spans, f"sync.{n}") for n in
                           ("extract_versions", "partition_malformed", "diff_snapshots")),
        "sync.mirror_fetch_s": _sum(spans, "sync.read_mirror_versions"),
        "sync.driver_s": self_time(op_span, lower),
        "sinks.apply_s": _sum(spans, "sinks.apply_changeset") + _sum(spans, "sinks.merge_stage"),
        "sinks.connections": sinks["connections"],
        "sinks.statements": sinks["statements"],
        "sinks.rows": sinks["rows"],
        "sinks.db_s": sinks["db_s"],
    }
    out["sinks.rows_per_connection"] = sinks["rows"] / max(1, sinks["connections"])
    return out


def _median_layers(ops: list[Op]) -> dict:
    keys = ops[0].layers.keys()
    return {k: _median([o.layers[k] for o in ops]) for k in keys}


def _scan_time(spark, dirs: dict[str, str]) -> float:
    """One standalone ``noop`` materialization of a pass's source
    frames (all four types), median of ``SCAN_REPEATS``."""
    times = []
    for _ in range(SCAN_REPEATS):
        t0 = time.perf_counter()
        for d in dirs.values():
            spark.read.format("fhir_bundles").load(d).write.format("noop").mode("overwrite").save()
        times.append(time.perf_counter() - t0)
    return _median(times)


class SqliteConnect:
    """Picklable ``connect_fn`` for a file sqlite mirror."""

    def __init__(self, path: str) -> None:
        self.path = path

    def __call__(self):
        return sqlite3.connect(self.path, timeout=60, check_same_thread=False)


def stream_phase(ctx: Context) -> dict:
    """Continuous sync against a preloaded sqlite mirror: drop one
    seeded page at a time and wait on ``processAllAvailable``. Runs in
    the traced run only; ``stream_sync`` has no PostgreSQL dialect."""
    from fhir2sql_spark.sinks import jdbc_upsert
    from fhir2sql_spark.streaming.continuous_sync import stream_sync

    root = os.path.join(ctx.work, "stream")
    in_dir = os.path.join(root, "in")
    os.makedirs(in_dir)
    connect = SqliteConnect(os.path.join(root, "mirror.db"))
    jdbc_upsert.create_mirror_tables(connect, ["patient"])
    ids = [f"pat-{i:07d}" for i in range(STREAM_MIRROR_ROWS)]
    versions = dict.fromkeys(ids, 1)
    conn = connect()
    try:
        conn.executemany(
            "INSERT INTO patient (id, resource) VALUES (?, ?)",
            ((i + 1, gen.resource_json("Patient", rid, 1, ctx.seed)) for i, rid in enumerate(ids)),
        )
        conn.commit()
    finally:
        conn.close()
    stream = ctx.spark.readStream.format("fhir_bundles").load(in_dir)
    q = stream_sync(stream, connect, "patient", os.path.join(root, "ckpt"), available_now=False)
    page_s, next_id = [], STREAM_MIRROR_ROWS
    try:
        for p in range(STREAM_PAGES):
            page, next_id = gen.stream_page(ctx.seed, p, ids, STREAM_PAGE_SIZE, versions, next_id)
            gen.write_bundle(os.path.join(in_dir, f"page_{p:05d}.json"), [b for _, b, _ in page])
            t0 = time.perf_counter()
            q.processAllAvailable()
            page_s.append(time.perf_counter() - t0)
        progress = [p for p in q.recentProgress if p.numInputRows > 0]
    finally:
        q.stop()
    conn = connect()
    try:
        got = dict(conn.execute(
            "SELECT json_extract(resource, '$.id'),"
            " CAST(json_extract(resource, '$.meta.versionId') AS INTEGER) FROM patient"
        ))
    finally:
        conn.close()
    ctx.checks_ok &= got == versions

    def dur(p, keys):
        return sum(p.durationMs.get(k, 0) for k in keys)

    offset_keys = ("latestOffset", "getBatch", "walCommit", "commitOffsets")
    return {
        "streaming.batches": len(progress),
        "streaming.page_p50_s": _median(page_s[1:]),
        "streaming.trigger_ms": _median([dur(p, ("triggerExecution",)) for p in progress[1:]]),
        "streaming.add_batch_ms": _median([dur(p, ("addBatch",)) for p in progress[1:]]),
        "streaming.offset_ms": _median([dur(p, offset_keys) for p in progress[1:]]),
    }


# --- query_mix -------------------------------------------------------

def canonical_hash(df) -> str:
    """Order-independent hash of a pandas frame: columns by name, rows
    sorted, floats to 10 significant digits (engines may sum in a
    different order)."""

    def cell(v) -> str:
        if v is None:
            return "\x00NULL"
        if hasattr(v, "tolist") and not isinstance(v, (str, bytes)):
            v = v.tolist()
        if isinstance(v, float):
            return "\x00NULL" if math.isnan(v) else format(v + 0.0, ".10g")
        if isinstance(v, (list, tuple)):
            return "[" + ",".join(cell(x) for x in v) + "]"
        if v != v:  # pandas NaT / NA
            return "\x00NULL"
        return str(v)

    cols = sorted(df.columns)
    rows = sorted("\x1f".join(cell(v) for v in r) for r in df[cols].itertuples(index=False))
    h = hashlib.sha256(("\x1e".join(cols) + "\n").encode())
    for r in rows:
        h.update(r.encode() + b"\n")
    return h.hexdigest()


def _oracle_hashes() -> dict[str, str]:
    import duckdb

    from fhir2sql_spark import registry

    con = duckdb.connect()
    try:
        for t in QUERY_TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{QUERY_SF_DIR}/{t}.parquet')")
        return {n: canonical_hash(con.execute(registry.ORACLE[n]).df()) for n in QUERY_MIX}
    finally:
        con.close()


def query_mix(ctx: Context) -> None:
    from fhir2sql_spark import registry

    spark = ctx.spark
    registry.load_all()
    jobs = JobCounter(spark) if ctx.tracer is not None else None
    ctx.info.update(sf_dir="perfbench/data/sf0.01", queries=list(QUERY_MIX), sink="noop")

    # An op is one round of the rotation: a client refreshing a
    # dashboard of these ten queries. A single query's time varies by
    # 20-30 % run to run; a round's total much less.
    per_query: dict[str, list[float]] = {name: [] for name in QUERY_MIX}

    def one_round() -> Op:
        layers = dict.fromkeys(("build_s", "exec_s", "jobs", "stages", "tasks"), 0)
        if jobs is not None:
            jobs.read()
        c0, t0 = tree_cpu_s(ctx.cpu_roots), time.perf_counter()
        with _op_span(ctx, "round"):
            for name in QUERY_MIX:
                q0 = time.perf_counter()
                with _span(ctx, f"queries.build.{name}"):
                    df = registry.QUERIES[name](spark, QUERY_SF_DIR)
                q1 = time.perf_counter()
                with _span(ctx, f"queries.exec.{name}"):
                    df.write.format("noop").mode("overwrite").save()
                q2 = time.perf_counter()
                per_query[name].append(q2 - q0)
                layers["build_s"] += q1 - q0
                layers["exec_s"] += q2 - q1
        op = Op("round", time.perf_counter() - t0, tree_cpu_s(ctx.cpu_roots) - c0, True)
        if jobs is not None:
            op.layers = {**layers, **jobs.read()}
        return op

    # Warm-up is the cold round, which also yields the outputs for the
    # oracle check: each query collected with toPandas (only the Spark
    # side is timed; hashing and DuckDB are not), then noop rounds while
    # the JIT still compiles (README, Warm-up).
    got = {}
    for name in QUERY_MIX:
        t0 = time.perf_counter()
        pdf = registry.QUERIES[name](spark, QUERY_SF_DIR).toPandas()
        ctx.warmup_s += time.perf_counter() - t0
        got[name] = canonical_hash(pdf)
    ctx.warmup_s += sum(one_round().seconds for _ in range(QUERY_WARMUP_ROUNDS))
    ctx.warmup_ops = 1 + QUERY_WARMUP_ROUNDS
    for times in per_query.values():
        times.clear()

    run_timed(ctx, one_round)

    want = _oracle_hashes()
    bad = [n for n in QUERY_MIX if got[n] != want[n]]
    ctx.info["oracle_mismatch"] = bad
    for op in ctx.ops:
        op.ok = not bad

    if ctx.tracer is not None:
        ctx.layers.update({f"queries.{k}": v for k, v in _median_layers(ctx.ops).items()})
        for name, times in per_query.items():
            ctx.layers[f"queries.{name}_s"] = _median(times)


WORKLOADS = {"sync_pg": sync_pg, "query_mix": query_mix}
