"""The sync pipeline — the fhir2sql-equivalent product (SURVEY §7 M4).

The reference's ``run_sync`` / ``sync_blaze_2_pg`` (src/main.rs:
176-339) syncs its resource types one after another. Here every type
goes through ONE pass: each type's bundle pages and mirror snapshot
are tagged with their mirror table and unioned -> version extraction
-> distributed diff on ``(table, res_key)`` vs the mirror snapshots
(the driver-side BTreeMap replaced by the join in sync/diff.py) -> one
summary collect (op counts, pk allocation per table) -> one
parameterized apply job whose partitions write each row to its own
table -> count reconciliation per table. One type is the one-table
case of the same pass.

Invariants (property-tested in tests/test_sync_properties.py, from
the reference's doc comment src/main.rs:159-175):
  1. the four op tags partition the key universe;
  2. applying the diff converges the mirror to the source;
  3. re-sync of a converged mirror is all-noop (idempotence — the
     reference's daily re-run depends on this);
  4. diff(A, A) has no effects.
"""

from __future__ import annotations

import json
from collections.abc import Callable
from contextlib import closing
from dataclasses import dataclass
from functools import reduce
from itertools import accumulate

from pyspark.sql import Column, DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StringType, StructField, StructType

from fhir2sql_spark.sinks import jdbc_upsert
from fhir2sql_spark.sources.arrow_rows import arrow_frame
from fhir2sql_spark.sync.diff import OP_DELETE, OP_INSERT, OP_NOOP, OP_UPDATE, diff_snapshots
from fhir2sql_spark.sync.fhir import extract_versions, is_well_formed, partition_malformed

# Parallelism of insert-pk allocation (buckets = concurrent tasks).
_PK_BUCKETS = 64

MIRROR_SCHEMA = StructType([
    StructField("table", StringType()),
    StructField("pk_id", IntegerType()),
    StructField("resource", StringType()),
])


@dataclass
class SyncStats:
    inserts: int
    updates: int
    deletes: int
    noops: int
    malformed: int
    source_count: int
    mirror_count_after: int

    @property
    def counts_match(self) -> bool:
        """The reference's post-sync reconciliation
        (src/main.rs:288-297) — warn-only there, surfaced here."""
        return self.source_count == self.mirror_count_after


def _mirror_pk(mirror_raw: DataFrame) -> Column:
    """The mirror's pk column; either name plugs in, so a raw
    ``SELECT id, resource`` JDBC frame works unchanged."""
    return F.col("pk_id" if "pk_id" in mirror_raw.columns else "id").cast("int")


def extract_mirror_versions(mirror_raw: DataFrame) -> DataFrame:
    """(table, pk_id|id, resource) -> (table, pk_id, res_key,
    mir_version), fully distributed — the version-extraction half of
    the reference's full-scan + BTreeMap build (src/main.rs:49-75).
    Unparseable rows are skipped (src/main.rs:60-63) via the
    null-extraction filter."""
    ext = mirror_raw.select(
        "table",
        _mirror_pk(mirror_raw).alias("pk_id"),
        F.get_json_object("resource", "$.id").alias("res_key"),
        F.get_json_object("resource", "$.meta.versionId")
        .try_cast("long")
        .alias("mir_version"),
    )
    return ext.where(
        F.col("res_key").isNotNull() & F.col("mir_version").isNotNull()
    )


def read_mirror_versions(
    spark: SparkSession, connect_fn: Callable[[], object], *tables: str
) -> DataFrame:
    """Raw mirror snapshot ``(table, pk_id, resource)`` of ``tables``:
    the default mirror read of ``sync_resources`` when no ``mirror_df``
    is given, and so of ``run_sync``, ``stream_sync`` and the CLI. It
    fetches the tables through one driver-side connection (the in-process
    sqlite/duckdb databases are not visible to executors) and hands the
    rows to the JVM as Arrow batches, so reading the frame runs no
    Python worker task. The fetch inherits the reference's BTreeMap
    scale ceiling (src/main.rs:49-75): the mirror must fit in driver
    memory. Past that, pass ``mirror_df`` (a range-partitioned
    ``spark.read.jdbc`` scan, or any distributed source) so the mirror
    never materializes on the driver."""
    rows = []
    with closing(connect_fn()) as conn:
        cur = conn.cursor()
        for table in tables:
            cur.execute(f"SELECT id, resource FROM {table}")  # noqa: S608
            # normalize across drivers (the psql adapter fetches text)
            rows += [(table, int(pk), str(doc)) for pk, doc in cur.fetchall() or []]
    return arrow_frame(spark, MIRROR_SCHEMA, [list(zip(*rows))] if rows else [])


def sync_resources(
    spark: SparkSession,
    source_resources: DataFrame,
    connect_fn: Callable[[], object],
    table: str,
    batch_size: int = 10_000,
    strategy: str = "batched",
    apply_deletes: bool = True,
    mirror_df: DataFrame | None = None,
    dialect: str = "ansi",
) -> SyncStats:
    """One full sync of raw source resources into the mirror table: the
    one-table case of the pass ``run_sync`` makes.

    ``strategy``: 'batched' = per-partition parameterized executemany
    (parallel, independent transactions — the reference's flush model
    done right); 'merge' = stage the same change-set, then ONE
    set-based transaction applies it (atomic visibility).

    ``dialect="pg"`` routes every statement through the PostgreSQL
    dialect (sinks/pg_dialect.py — %s paramstyle, ::jsonb casts);
    wire-verified against a real server in tests/test_pg_roundtrip.py.

    ``mirror_df`` is the PRODUCTION mirror-read seam: a distributed
    (pk_id|id, resource) DataFrame — typically the range-partitioned
    parallel JDBC scan ``spark.read.jdbc(url, table, column="id",
    lowerBound=lo, upperBound=hi, numPartitions=n,
    properties={"user": ..., "password": ...})`` — so no step of the sync
    materializes the mirror on the driver (the reference's BTreeMap
    ceiling, src/main.rs:49-75). When omitted, the
    ``read_mirror_versions`` driver fetch is used.

    ``apply_deletes=False`` is the INCREMENTAL form for one micro-batch
    (streaming/continuous_sync.py): absence from the batch does not
    mean deletion, so mirror-only rows are left untouched and reported
    as 0 deletes; a periodic full-snapshot pass reconciles deletes.

    Source-wins semantics: ANY version difference overwrites with the
    source copy (the reference's `<`||`>`, src/main.rs:229-230)."""
    return _sync_tables(
        spark, {table: source_resources}, {table: mirror_df}, connect_fn,
        batch_size, strategy, apply_deletes, dialect,
    )[table]


def _sync_tables(
    spark: SparkSession, sources: dict[str, DataFrame], mirrors: dict[str, DataFrame | None],
    connect_fn: Callable[[], object], batch_size: int, strategy: str, apply_deletes: bool,
    dialect: str,
) -> dict[str, SyncStats]:
    """The one pass behind ``sync_resources`` and ``run_sync``:
    ``sources`` and ``mirrors`` map each mirror table to its raw source
    resources and its ``mirror_df`` (None: ``read_mirror_versions``).
    Each source is scanned ONCE, into the cached ``tagged`` diff, while
    an ``Observation`` on the extracted union counts well-formed and
    malformed resources per table; ONE summary ``collect`` over
    ``tagged`` (unioned with the raw mirror pks) yields every table's op
    counts, insert-bucket counts and max pk; ONE ``foreachPartition``
    job applies the ``(table, op, pk_id, resource)`` change-set, and
    none runs when the summary shows nothing to apply."""
    tables = list(sources)
    fetched = [t for t in tables if mirrors.get(t) is None]
    mirror_raw = reduce(DataFrame.unionByName, [
        m.select(F.lit(t).alias("table"), _mirror_pk(m).alias("pk_id"), "resource")
        for t, m in mirrors.items() if m is not None
    ] + ([read_mirror_versions(spark, connect_fn, *fetched)] if fetched else []))
    # The diff key is (table, res_key): ids repeat across types. Each
    # source is shuffled on it alone; the union keeps that partitioning
    # for the diff's join, and AQE runs each source's scan as its own
    # job. One exchange over the union ran the four `sync_pg` sources'
    # scans about 1 s later in a resync pass (event log).
    key = F.struct("table", "res_key")
    extracted = reduce(DataFrame.unionByName, [
        extract_versions(src).withColumn("table", F.lit(t)).repartition(key)
        for t, src in sources.items()
    ])
    ok, counts = is_well_formed(), []
    for i, t in enumerate(tables):
        mine = F.col("table") == t
        counts += [F.count_if(ok & mine).alias(f"ok{i}"), F.count_if(~ok & mine).alias(f"bad{i}")]
    seen = Observation()
    well_formed, _ = partition_malformed(extracted.observe(seen, *counts))
    tagged = diff_snapshots(
        well_formed.select(key.alias("res_key"), "src_version", "resource"),
        extract_mirror_versions(mirror_raw).select(key.alias("res_key"), "mir_version", "pk_id"),
    ).select("res_key.*", "op", "resource", "pk_id").cache()
    try:
        # Insert pks (the reference lets SERIAL do this): allocated per
        # table above its max RAW mirror pk, as unparseable rows hold
        # ids too. Bucket-parallel, so no single task numbers a whole
        # initial load: row_number inside _PK_BUCKETS res_key hash
        # buckets plus per-bucket offsets from the bucket counts. Ids
        # are dense in (bucket, res_key) order, stable across retries.
        bucket = F.pmod(F.xxhash64("res_key"), F.lit(_PK_BUCKETS)).cast("int")
        summary = (
            tagged.select(
                "table", "op", F.when(F.col("op") == OP_INSERT, bucket).alias("bucket")
            )
            .unionByName(
                mirror_raw.select("table", F.col("pk_id").alias("pk")), allowMissingColumns=True
            )
            .groupBy("table", "op", "bucket")
            .agg(F.count(F.lit(1)), F.max("pk"))
            .collect()
        )
        ops = {t: dict.fromkeys((OP_INSERT, OP_UPDATE, OP_DELETE, OP_NOOP), 0) for t in tables}
        max_pk, buckets = dict.fromkeys(tables, 0), {}
        for t, op, b, n, pk in summary:
            if op is None:  # the raw mirror rows
                max_pk[t] = pk or 0
            else:
                ops[t][op] += n
                if op == OP_INSERT:
                    buckets[t, b] = n
        # offsets[table][bucket], as one JSON literal that planning
        # folds: a CASE per (table, bucket) pair planned and compiled
        # for seconds, and a lit() per value costs one py4j call each.
        offsets = [
            list(accumulate((buckets.get((t, b), 0) for b in range(_PK_BUCKETS - 1)), initial=max_pk[t]))
            for t in tables
        ]
        table_no = F.array_position(F.array(*map(F.lit, tables)), F.col("table")).cast("int")
        offset_col = F.from_json(F.lit(json.dumps(offsets)), "array<array<bigint>>")[
            table_no - 1][F.col("__bucket")]
        applied = [OP_INSERT, OP_UPDATE] + ([OP_DELETE] if apply_deletes else [])
        w_bucket = Window.partitionBy("table", "op", "__bucket").orderBy("res_key")
        changes = (
            tagged.where(F.col("op").isin(applied))
            .withColumn("__bucket", bucket)
            # One apply partition per core: AQE would coalesce a small
            # change-set into one partition, so one connection would
            # write every table's rows alone.
            .repartition(spark.sparkContext.defaultParallelism, "table", "op", "__bucket")
            .select(
                "table",
                "op",
                F.when(
                    F.col("op") == OP_INSERT,
                    F.row_number().over(w_bucket) + offset_col,
                ).otherwise(F.col("pk_id")).cast("int").alias("pk_id"),
                "resource",
            )
        )
        apply = jdbc_upsert.merge_changeset if strategy == "merge" else jdbc_upsert.apply_changeset
        # Tables with nothing to apply (a converged re-sync, an all-noop
        # micro-batch) get no connection and no stage table; with none
        # left, no apply job runs.
        changed = [t for t in tables if any(ops[t][op] for op in applied)]
        if changed:
            apply(changes, changed, connect_fn, batch_size, dialect=dialect)
    finally:
        tagged.unpersist()

    with closing(connect_fn()) as conn:
        cur = conn.cursor()
        cur.execute("SELECT " + ", ".join(f"(SELECT COUNT(*) FROM {t})" for t in tables))  # noqa: S608
        mirror_after = dict(zip(tables, map(int, cur.fetchone())))
    if any(ops[t][op] for t in tables for op in (OP_INSERT, OP_UPDATE, OP_NOOP)):
        got = seen.get
        counts = {t: (got[f"ok{i}"], got[f"bad{i}"]) for i, t in enumerate(tables)}
    else:
        # No source row was well-formed: AQE drops the empty observed
        # stage from the final plan and the Observation gets no row.
        n = dict(extracted.groupBy("table").count().collect())
        counts = {t: (0, n.get(t, 0)) for t in tables}
    return {t: SyncStats(
        inserts=ops[t][OP_INSERT], updates=ops[t][OP_UPDATE],
        deletes=ops[t][OP_DELETE] if apply_deletes else 0, noops=ops[t][OP_NOOP],
        malformed=counts[t][1], source_count=counts[t][0], mirror_count_after=mirror_after[t],
    ) for t in tables}


def run_sync(
    spark: SparkSession,
    sources_by_type: dict[str, DataFrame],
    connect_fn: Callable[[], object],
    table_prefix: str = "",
    batch_size: int = 10_000,
    mirror_by_type: dict[str, DataFrame] | None = None,
    parallel: bool = False,
    dialect: str = "ansi",
) -> dict[str, SyncStats]:
    """Per-type orchestration (R10, src/main.rs:303-339): bootstrap the
    DDL idempotently, then sync every resource type in ONE
    pass, each type into its own lowercase table
    (src/main.rs:185). ``mirror_by_type`` optionally supplies a
    distributed mirror DataFrame per resource type (the production
    JDBC-read path — see ``sync_resources``). ``parallel`` is accepted
    and ignored; it goes once the benchmark stops passing it."""
    tables = {rt: f"{table_prefix}{rt.lower()}" for rt in sources_by_type}
    jdbc_upsert.create_mirror_tables(connect_fn, list(tables.values()), dialect=dialect)
    mirrors = mirror_by_type or {}
    stats = _sync_tables(
        spark, {tables[rt]: df for rt, df in sources_by_type.items()},
        {tables[rt]: mirrors.get(rt) for rt in tables}, connect_fn, batch_size,
        "batched", True, dialect,
    )
    return {rt: stats[t] for rt, t in tables.items()}
