"""Relational upsert/delete sink — the reference's write path (R6-R8).

The reference batches multi-row UPDATE/INSERT/DELETE SQL built by
string interpolation with $$-quoting (/root/reference/src/main.rs:
78-138) — injection-prone by design (a resource containing ``$$``
breaks the statement, SURVEY §2.1). This sink only ever issues
PARAMETERIZED statements.

Two strategies:

- ``apply_changeset`` / ``foreach_partition_write``: each non-empty
  partition opens its own DBAPI connection (via a picklable
  ``connect_fn``) and executes parameterized ``executemany`` batches
  of ``batch_size`` rows (default 10k, the reference's pg_batch_size,
  src/main.rs:359) in a per-partition transaction. Executor-parallel —
  N partitions write concurrently vs the reference's single
  serialized pool. A change-set's inserts, updates and deletes, for
  every table it names, go out in one job.

- ``merge_changeset``: the same change-set is loaded into a staging
  table per target in parallel, then ``merge_stage_into_target`` runs
  one set-based UPDATE…FROM / INSERT…SELECT / DELETE…IN per target.
  One transaction, exactly-once-ish visibility; the preferred 100 TB
  shape (the per-row path holds locks longer and retries
  non-atomically).

Tests run the DBAPI path against sqlite/duckdb in-process and, with
``dialect="pg"``, against a throwaway PostgreSQL server
(tests/test_pg_roundtrip.py).

DDL bootstrap mirrors src/db_utils.rs:84-144 with
``last_updated_at`` maintained by the sink itself instead of a
trigger (SURVEY §1.1).
"""

from __future__ import annotations

import itertools
import time
import uuid
from collections.abc import Callable, Iterator, Sequence
from contextlib import closing, contextmanager

from pyspark.sql import DataFrame

from fhir2sql_spark.sinks import pg_dialect

MIRROR_DDL = """
CREATE TABLE IF NOT EXISTS {table} (
    id INTEGER PRIMARY KEY,
    created_at TIMESTAMP NOT NULL DEFAULT CURRENT_TIMESTAMP,
    last_updated_at TIMESTAMP NOT NULL DEFAULT CURRENT_TIMESTAMP,
    resource TEXT NOT NULL
)
"""

INSERT_SQL = "INSERT INTO {table} (id, resource) VALUES (?, ?)"
UPDATE_SQL = (
    "UPDATE {table} SET resource = ?, last_updated_at = CURRENT_TIMESTAMP"
    " WHERE id = ?"
)
DELETE_SQL = "DELETE FROM {table} WHERE id = ?"

# (insert, update, delete) per sink dialect.
_CHANGE_SQL = {
    "ansi": (INSERT_SQL, UPDATE_SQL, DELETE_SQL),
    "pg": (pg_dialect.PG_INSERT_SQL, pg_dialect.PG_UPDATE_SQL, pg_dialect.PG_DELETE_SQL),
}


def connect_with_retry(
    connect_fn: Callable[[], object],
    attempts: int = 20,
    backoff_s: float = 5.0,
    sleep: Callable[[float], None] = time.sleep,
):
    """Bounded-retry connection establishment, mirroring the
    reference's pool construction (/root/reference/src/db_utils.rs:
    6-32: 20 attempts, 5s backoff). Raises the final error."""
    for _ in range(attempts - 1):
        try:
            return connect_fn()
        except Exception:
            sleep(backoff_s)
    return connect_fn()


@contextmanager
def _transaction(connect: Callable[[], object]) -> Iterator:
    """A fresh connection from ``connect``, committed when the block
    exits cleanly, rolled back when it raises, and closed either way."""
    conn = connect()
    try:
        yield conn
        conn.commit()
    except Exception:
        conn.rollback()
        raise
    finally:
        conn.close()


def _execute(connect_fn: Callable[[], object], *statements: str) -> None:
    """Run ``statements`` in one transaction on a fresh connection."""
    with _transaction(connect_fn) as conn:
        cur = conn.cursor()
        for sql in statements:
            cur.execute(sql)


def create_mirror_tables(
    connect_fn: Callable[[], object],
    tables: Sequence[str],
    dialect: str = "ansi",
) -> None:
    """Idempotent DDL bootstrap (CREATE TABLE IF NOT EXISTS x N),
    mirroring src/db_utils.rs:84-111. ``dialect="pg"`` additionally
    installs the ``update_last_updated()`` plpgsql trigger pair on
    each table (src/db_utils.rs:112-134) — idempotent via
    CREATE OR REPLACE FUNCTION + drop-then-create trigger."""
    if dialect == "pg":
        ddl = []
        for t in tables:
            st = pg_dialect.pg_statements(t)
            ddl += [
                st["ddl"],
                st["touch_fn"],
                f"DROP TRIGGER IF EXISTS update_last_updated_trigger ON {t}",  # noqa: S608
                st["touch_trigger"],
            ]
    else:
        ddl = [MIRROR_DDL.format(table=t) for t in tables]
    _execute(connect_fn, *ddl)


def table_exists(connect_fn: Callable[[], object], table: str) -> bool:
    """Set-containment existence check (src/db_utils.rs:63-81),
    via a portable probe query."""
    with closing(connect_fn()) as conn:
        try:
            conn.cursor().execute(f"SELECT 1 FROM {table} WHERE 1=0")  # noqa: S608
            return True
        except Exception:
            return False


def foreach_partition_write(
    df: DataFrame,
    sql: str,
    connect_fn: Callable[[], object],
    batch_size: int = 10_000,
) -> None:
    """Executor-side parameterized writes of one statement. Row tuples
    are taken positionally from the DataFrame columns, so the caller
    selects columns in the placeholder order."""
    _foreach_partition_tx(df, _executemany(lambda row: (sql, tuple(row)), batch_size), connect_fn)


def _foreach_partition_tx(
    df: DataFrame,
    write: Callable[[object, Iterator], None],
    connect_fn: Callable[[], object],
) -> None:
    """``write(conn, rows)`` for every non-empty partition on its own
    connection (3 attempts, 1 s apart), in one transaction; an empty
    partition opens none."""

    def run(rows) -> None:
        rows = iter(rows)
        first = next(rows, None)
        if first is None:
            return
        with _transaction(lambda: connect_with_retry(connect_fn, 3, 1.0)) as conn:
            write(conn, itertools.chain([first], rows))

    df.foreachPartition(run)


def _executemany(
    route: Callable[[object], tuple[str, tuple]], batch_size: int
) -> Callable[[object, Iterator], None]:
    """A partition writer: ``route`` maps each row to its (statement,
    params); rows are batched per statement and sent with executemany
    every ``batch_size`` rows."""

    def write(conn, rows) -> None:
        cur = conn.cursor()
        batches: dict[str, list[tuple]] = {}
        for row in rows:
            sql, params = route(row)
            batch = batches.setdefault(sql, [])
            batch.append(params)
            if len(batch) >= batch_size:
                cur.executemany(sql, batch)
                batches[sql] = []
        for sql, batch in batches.items():
            if batch:
                cur.executemany(sql, batch)

    return write


def apply_changeset(
    changes: DataFrame,
    tables: Sequence[str],
    connect_fn: Callable[[], object],
    batch_size: int = 10_000,
    dialect: str = "ansi",
) -> None:
    """Apply a CDC change-set of ``(table, op, pk_id, resource)`` rows
    to ``tables``, ``op`` one of 'insert' / 'update' / 'delete'
    (``resource`` is ignored for deletes), in ONE ``foreachPartition``
    job: each partition runs its rows' inserts, updates and deletes,
    whatever their table, in one transaction, with independent batch
    boundaries per statement (reference flush semantics,
    src/main.rs:250-282 — the reference's coupled else-if flush is a
    documented quirk we do NOT replicate, SURVEY §2.1).

    ``dialect="pg"`` swaps in the PostgreSQL statements
    (sinks/pg_dialect.py — %s paramstyle, ::jsonb casts; same
    positional tuple contract, golden-pinned in tests/test_pg_dialect.py
    and executed on a real server in tests/test_pg_roundtrip.py).
    ``connect_fn`` is then expected to be a psycopg-style factory."""
    if dialect not in _CHANGE_SQL:
        raise ValueError(f"unknown sink dialect {dialect!r}")
    sql = {t: [s.format(table=t) for s in _CHANGE_SQL[dialect]] for t in tables}

    def route(row) -> tuple[str, tuple]:
        table, op, pk_id, resource = row
        ins, upd, dele = sql[table]
        if op == "insert":
            return ins, (pk_id, resource)
        if op == "update":
            return upd, (resource, pk_id)
        if op == "delete":
            return dele, (pk_id,)
        raise ValueError(f"unknown change-set op {op!r}")

    _foreach_partition_tx(changes, _executemany(route, batch_size), connect_fn)


def copy_partition_write(
    df: DataFrame,
    table: str,
    columns: Sequence[str],
    connect_fn: Callable[[], object],
) -> None:
    """Bulk append via PostgreSQL ``COPY … FROM STDIN`` (VERDICT r7
    #6): one COPY stream + one transaction per partition, the real
    high-throughput ingest path — one statement parse for the whole
    partition instead of per-batch INSERT mogrification, and COPY's
    text-format escaping carries newline/tab-bearing payloads the
    row-per-line INSERT protocol must reject. ``connect_fn`` must
    produce connections exposing ``copy_rows`` (sinks/psql_dbapi.py);
    measured ~195k rows/s vs the multi-row-INSERT path's ~8.5k on the
    throwaway cluster, a ~23× speedup (SCALE.md "PG sink bulk-load").
    Executor-parallel like foreach_partition_write — N partitions COPY
    concurrently."""
    _foreach_partition_tx(
        df,
        lambda conn, rows: conn.copy_rows(table, columns, (tuple(r) for r in rows)),
        connect_fn,
    )


# --- staging + set-based merge (the scale path) ---------------------

MERGE_FROM_STAGE_SQL = """UPDATE {table} SET resource = s.resource,
    last_updated_at = CURRENT_TIMESTAMP
FROM {stage} s
WHERE {table}.id = s.pk_id AND s.op = 'update'"""

INSERT_FROM_STAGE_SQL = """INSERT INTO {table} (id, resource)
SELECT s.pk_id, s.resource FROM {stage} s WHERE s.op = 'insert'"""

DELETE_FROM_STAGE_SQL = """DELETE FROM {table}
WHERE id IN (SELECT s.pk_id FROM {stage} s WHERE s.op = 'delete')"""

# (update, insert, delete) from the stage, per sink dialect.
_STAGE_SQL = {
    "ansi": (MERGE_FROM_STAGE_SQL, INSERT_FROM_STAGE_SQL, DELETE_FROM_STAGE_SQL),
    "pg": (
        pg_dialect.PG_MERGE_FROM_STAGE_SQL,
        pg_dialect.PG_INSERT_FROM_STAGE_SQL,
        pg_dialect.PG_DELETE_FROM_STAGE_SQL,
    ),
}


def merge_changeset(
    changes: DataFrame,
    tables: Sequence[str],
    connect_fn: Callable[[], object],
    batch_size: int = 10_000,
    dialect: str = "ansi",
) -> None:
    """The set-based form of ``apply_changeset``: load the same change-set
    into one stage table per target in one parallel job, then apply
    each stage to its table in one transaction. Stage names are unique
    to the call, so concurrent merges into one table never share a
    stage, and the stages are dropped even when a step fails."""
    stages = {t: f"{t}__stage_{uuid.uuid4().hex}" for t in tables}
    ph = "%s, %s, %s" if dialect == "pg" else "?, ?, ?"
    load = {t: f"INSERT INTO {s} (op, pk_id, resource) VALUES ({ph})"  # noqa: S608
            for t, s in stages.items()}
    try:
        _execute(connect_fn, *(f"CREATE TABLE {s} (pk_id INT, op TEXT, resource TEXT)"
                               for s in stages.values()))
        _foreach_partition_tx(
            changes, _executemany(lambda row: (load[row[0]], tuple(row[1:])), batch_size),
            connect_fn,
        )
        for t, s in stages.items():
            merge_stage_into_target(connect_fn, t, s, dialect=dialect)
    finally:
        _execute(connect_fn, *(f"DROP TABLE IF EXISTS {s}" for s in stages.values()))  # noqa: S608


def merge_stage_into_target(
    connect_fn: Callable[[], object],
    table: str,
    stage: str,
    dialect: str = "ansi",
) -> None:
    """One set-based transaction applying a staged change-set. The
    stage table holds (pk_id, op, resource) loaded in parallel
    beforehand.

    The guarded BEGIN makes the three statements one transaction on
    autocommit-by-default engines (DuckDB's DBAPI); python sqlite3
    auto-begins on DML, and drivers that reject a redundant BEGIN
    simply keep their own transaction semantics (verified atomic for
    both local engines in tests/test_merge_duckdb.py).

    ``dialect="pg"`` swaps in the PostgreSQL stage statements (the
    ``::jsonb`` casts a JSONB target column requires — PG has no
    implicit text->jsonb assignment cast)."""
    with _transaction(connect_fn) as conn:
        cur = conn.cursor()
        try:
            cur.execute("BEGIN")
        except Exception:
            pass
        for sql in _STAGE_SQL["pg" if dialect == "pg" else "ansi"]:
            cur.execute(sql.format(table=table, stage=stage))
