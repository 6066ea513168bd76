"""The sync pipeline — the fhir2sql-equivalent product (SURVEY §7 M4).

Per resource type, mirroring the reference's ``run_sync`` /
``sync_blaze_2_pg`` (src/main.rs:176-339), in ONE pass over the source:
bundle pages -> version extraction -> distributed diff vs the mirror
snapshot (the driver-side BTreeMap replaced by the join in
sync/diff.py) -> one summary collect (op counts, pk allocation) -> one
parameterized apply job (insert/update/delete) -> count
reconciliation.

Invariants (property-tested in tests/test_sync_properties.py, from
the reference's doc comment src/main.rs:159-175):
  1. the four op tags partition the key universe;
  2. applying the diff converges the mirror to the source;
  3. re-sync of a converged mirror is all-noop (idempotence — the
     reference's daily re-run depends on this);
  4. diff(A, A) has no effects.
"""

from __future__ import annotations

from dataclasses import dataclass
from collections.abc import Callable

from pyspark.sql import Column, DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from fhir2sql_spark.sinks import jdbc_upsert
from fhir2sql_spark.sync.diff import OP_DELETE, OP_INSERT, OP_NOOP, OP_UPDATE, diff_snapshots
from fhir2sql_spark.sync.fhir import extract_versions, is_well_formed, partition_malformed

# Parallelism of insert-pk allocation (buckets = concurrent tasks).
_PK_BUCKETS = 64


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
    """(pk_id|id, resource) -> (pk_id, res_key, mir_version), fully
    distributed — the version-extraction half of the reference's
    full-scan + BTreeMap build (src/main.rs:49-75). Unparseable rows
    are skipped (src/main.rs:60-63) via the null-extraction filter."""
    ext = mirror_raw.select(
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
    spark: SparkSession, connect_fn: Callable[[], object], table: str
) -> DataFrame:
    """TEST-ONLY raw mirror snapshot ``(pk_id, resource)``: fetches
    the whole table through one driver-side connection (the in-process
    sqlite/duckdb databases are not visible to executors). This
    inherits the reference's BTreeMap scale ceiling by construction —
    production syncs must pass ``mirror_df`` to ``sync_resources``
    (built from ``sources.jdbc.mirror_reader``'s range-partitioned
    read, or any distributed source) so the mirror never materializes
    on the driver."""
    conn = connect_fn()
    try:
        cur = conn.cursor()
        cur.execute(f"SELECT id, resource FROM {table}")  # noqa: S608
        rows = cur.fetchall()
    finally:
        conn.close()
    # normalize across drivers (the psql adapter fetches text)
    rows = [(int(r[0]), str(r[1])) for r in rows or []]
    return spark.createDataFrame(rows, "pk_id int, resource string")


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
    """One full sync of raw source resources into the mirror table, in
    one pass: the source is scanned ONCE, into the cached ``tagged``
    diff, while an ``Observation`` on the extracted frame counts
    well-formed and malformed resources; ONE summary ``collect`` over
    ``tagged`` (unioned with the raw mirror pks) yields the op counts,
    the insert-bucket counts and the max pk; ONE ``foreachPartition``
    job applies the ``(op, pk_id, resource)`` change-set.

    ``strategy``: 'batched' = per-partition parameterized executemany
    (parallel, independent transactions — the reference's flush model
    done right); 'merge' = stage the same change-set, then ONE
    set-based transaction applies it (atomic visibility).

    ``dialect="pg"`` routes every statement through the PostgreSQL
    dialect (sinks/pg_dialect.py — %s paramstyle, ::jsonb casts);
    wire-verified against a real server in tests/test_pg_roundtrip.py.

    ``mirror_df`` is the PRODUCTION mirror-read seam: a distributed
    (pk_id|id, resource) DataFrame — typically
    ``sources.jdbc.mirror_reader(spark, cfg, lo, hi).load()``, a
    range-partitioned parallel JDBC scan — so no step of the sync
    materializes the mirror on the driver (the reference's BTreeMap
    ceiling, src/main.rs:49-75). When omitted, the test-only
    ``read_mirror_versions`` driver fetch is used.

    ``apply_deletes=False`` is the INCREMENTAL form for one micro-batch
    (streaming/continuous_sync.py): absence from the batch does not
    mean deletion, so mirror-only rows are left untouched and reported
    as 0 deletes; a periodic full-snapshot pass reconciles deletes.

    Source-wins semantics: ANY version difference overwrites with the
    source copy (the reference's `<`||`>`, src/main.rs:229-230)."""
    seen = Observation()
    ok = is_well_formed()
    extracted = extract_versions(source_resources).observe(
        seen, F.count_if(ok).alias("source_count"), F.count_if(~ok).alias("malformed")
    )
    well_formed, _ = partition_malformed(extracted)
    if mirror_df is None:
        mirror_df = read_mirror_versions(spark, connect_fn, table)
    mirror = extract_mirror_versions(mirror_df)
    tagged = diff_snapshots(
        well_formed.select("res_key", "src_version", "resource"),
        mirror.select("res_key", "mir_version", "pk_id"),
    ).cache()
    try:
        # Insert pks (the reference lets SERIAL do this): allocated
        # above the max RAW mirror pk, as unparseable rows hold ids
        # too. Bucket-parallel, so no single task numbers a whole
        # initial load: row_number inside _PK_BUCKETS res_key hash
        # buckets plus per-bucket offsets from the bucket counts. Ids
        # are dense in (bucket, res_key) order, stable across retries.
        bucket = F.pmod(F.xxhash64("res_key"), F.lit(_PK_BUCKETS)).cast("int")
        summary = (
            tagged.select("op", F.when(F.col("op") == OP_INSERT, bucket).alias("bucket"))
            .unionByName(
                mirror_df.select(_mirror_pk(mirror_df).alias("pk")),
                allowMissingColumns=True,
            )
            .groupBy("op", "bucket")
            .agg(F.count(F.lit(1)), F.max("pk"))
            .collect()
        )
        ops = dict.fromkeys((OP_INSERT, OP_UPDATE, OP_DELETE, OP_NOOP), 0)
        max_pk, buckets = 0, {}
        for op, b, n, pk in summary:
            if op is None:  # the raw mirror rows
                max_pk = pk or 0
            else:
                ops[op] += n
                if op == OP_INSERT:
                    buckets[b] = n
        offsets, acc = [], max_pk
        for b in sorted(buckets):
            offsets.append(F.when(F.col("__bucket") == b, F.lit(acc)))
            acc += buckets[b]
        offset_col = F.coalesce(*offsets, F.lit(0))
        applied = [OP_INSERT, OP_UPDATE] + ([OP_DELETE] if apply_deletes else [])
        w_bucket = Window.partitionBy("op", "__bucket").orderBy("res_key")
        changes = (
            tagged.where(F.col("op").isin(applied))
            .withColumn("__bucket", bucket)
            .select(
                "op",
                F.when(
                    F.col("op") == OP_INSERT,
                    F.row_number().over(w_bucket) + offset_col,
                ).otherwise(F.col("pk_id")).cast("int").alias("pk_id"),
                "resource",
            )
        )
        apply = jdbc_upsert.merge_changeset if strategy == "merge" else jdbc_upsert.apply_changeset
        apply(changes, table, connect_fn, batch_size, dialect=dialect)
    finally:
        tagged.unpersist()

    conn = connect_fn()
    try:
        cur = conn.cursor()
        cur.execute(f"SELECT COUNT(*) FROM {table}")  # noqa: S608
        mirror_after = int(cur.fetchone()[0])
    finally:
        conn.close()
    if ops[OP_INSERT] + ops[OP_UPDATE] + ops[OP_NOOP]:
        counts = seen.get
    else:
        # No source row was well-formed: AQE drops the empty observed
        # stage from the final plan and the Observation gets no row.
        counts = {"source_count": 0, "malformed": source_resources.count()}
    return SyncStats(
        inserts=ops[OP_INSERT],
        updates=ops[OP_UPDATE],
        deletes=ops[OP_DELETE] if apply_deletes else 0,
        noops=ops[OP_NOOP],
        malformed=counts["malformed"],
        source_count=counts["source_count"],
        mirror_count_after=mirror_after,
    )


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
    """Per-type orchestration (R10, src/main.rs:303-339): bootstrap
    DDL idempotently, then sync each resource type. The reference is
    strictly sequential (src/main.rs:319-325); types are independent,
    so ``parallel=True`` submits them as concurrent Spark jobs from
    one thread per type — the SparkSession schedules them side by
    side, overlapping each type's scan/shuffle with another's JDBC
    writes. Safe because every type owns its table and its
    ``<table>__stage``; ``connect_fn`` must hand out a fresh
    connection per call (it already must for executor use).
    ``mirror_by_type`` optionally supplies a distributed mirror
    DataFrame per resource type (the production JDBC-read path — see
    ``sync_resources``)."""
    tables = {
        rt: f"{table_prefix}{rt.lower()}" for rt in sources_by_type
    }  # lowercase table naming, src/main.rs:185
    jdbc_upsert.create_mirror_tables(
        connect_fn, list(tables.values()), dialect=dialect
    )
    mirrors = mirror_by_type or {}
    if not parallel:
        return {
            rt: sync_resources(
                spark, df, connect_fn, tables[rt], batch_size,
                mirror_df=mirrors.get(rt), dialect=dialect,
            )
            for rt, df in sources_by_type.items()
        }
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=len(sources_by_type)) as pool:
        futures = {
            rt: pool.submit(
                sync_resources, spark, df, connect_fn, tables[rt],
                batch_size, mirror_df=mirrors.get(rt), dialect=dialect,
            )
            for rt, df in sources_by_type.items()
        }
        return {rt: f.result() for rt, f in futures.items()}
