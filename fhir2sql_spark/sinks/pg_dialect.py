"""PostgreSQL dialect for the upsert/delete sink (R6-R8, R12).

The generic sink (jdbc_upsert.py) emits ANSI qmark-parameterized SQL
that sqlite/DuckDB execute in tests. A real deployment of the
reference replacement talks to PostgreSQL, whose wire surface differs
in exactly the ways no ANSI engine can falsify:

- paramstyle: psycopg uses ``%s`` (pyformat), not ``?``;
- the resource column is ``JSONB`` and the set-based update casts
  ``::jsonb`` (/root/reference/src/main.rs:86 — the reference
  interpolates ``$$``-quoted literals; we keep the values
  PARAMETERIZED and only the cast in SQL, closing its injection bug
  while preserving the statement shape);
- upsert via ``ON CONFLICT (id) DO UPDATE`` (PG-native, replaces the
  reference's separate insert/update classification when the caller
  wants idempotent replay);
- DDL: ``JSONB NOT NULL`` resource and the
  ``update_last_updated()`` plpgsql trigger pair
  (src/db_utils.rs:112-134) as the PG-native alternative to the
  sink-maintained ``last_updated_at``.

Every statement below is pinned by golden tests
(tests/test_pg_dialect.py) and executed against a real PostgreSQL
server by tests/test_pg_roundtrip.py (``dialect="pg"`` with the
psql-backed ``sinks/psql_dbapi.py`` connection).
"""

from __future__ import annotations

PG_MIRROR_DDL = """CREATE TABLE IF NOT EXISTS {table} (
    id INTEGER PRIMARY KEY,
    created_at TIMESTAMP NOT NULL DEFAULT CURRENT_TIMESTAMP,
    last_updated_at TIMESTAMP NOT NULL DEFAULT CURRENT_TIMESTAMP,
    resource JSONB NOT NULL
)"""

# src/db_utils.rs:112-134 verbatim shape: BEFORE UPDATE trigger keeps
# last_updated_at fresh server-side (the generic sink does it in the
# UPDATE statement instead; with the trigger installed both paths
# agree).
PG_TOUCH_FUNCTION_DDL = """CREATE OR REPLACE FUNCTION update_last_updated()
RETURNS TRIGGER AS $$
BEGIN
    NEW.last_updated_at = CURRENT_TIMESTAMP;
    RETURN NEW;
END;
$$ LANGUAGE plpgsql"""

PG_TOUCH_TRIGGER_DDL = """CREATE TRIGGER update_last_updated_trigger
BEFORE UPDATE ON {table}
FOR EACH ROW
EXECUTE PROCEDURE update_last_updated()"""

# Parameterized per-row statements (psycopg %s placeholders). The
# update keeps the reference's ::jsonb cast on the VALUE side.
PG_INSERT_SQL = "INSERT INTO {table} (id, resource) VALUES (%s, %s::jsonb)"
PG_UPDATE_SQL = (
    "UPDATE {table} SET resource = %s::jsonb,"
    " last_updated_at = CURRENT_TIMESTAMP WHERE id = %s"
)
PG_DELETE_SQL = "DELETE FROM {table} WHERE id = %s"

# Idempotent upsert — PG-native replacement for insert-vs-update
# classification on replay (foreachBatch sinks must be
# replay-idempotent; ON CONFLICT makes the write path so even if the
# diff stage re-runs).
PG_UPSERT_SQL = (
    "INSERT INTO {table} (id, resource) VALUES (%s, %s::jsonb)"
    " ON CONFLICT (id) DO UPDATE SET resource = EXCLUDED.resource,"
    " last_updated_at = CURRENT_TIMESTAMP"
)

# Set-based stage merge (the 100 TB shape) — the reference's
# UPDATE ... FROM construction (src/main.rs:86) with the staged table
# standing in for its inline VALUES list.
PG_MERGE_FROM_STAGE_SQL = """UPDATE {table} SET resource = s.resource::jsonb,
    last_updated_at = CURRENT_TIMESTAMP
FROM {stage} s
WHERE {table}.id = s.pk_id AND s.op = 'update'"""

PG_INSERT_FROM_STAGE_SQL = """INSERT INTO {table} (id, resource)
SELECT s.pk_id, s.resource::jsonb FROM {stage} s WHERE s.op = 'insert'"""

PG_DELETE_FROM_STAGE_SQL = """DELETE FROM {table}
WHERE id IN (SELECT s.pk_id FROM {stage} s WHERE s.op = 'delete')"""


def pg_statements(table: str, stage: str | None = None) -> dict[str, str]:
    """Every statement the PG sink can emit, formatted for ``table``
    (and ``stage`` when given), keyed by name. tests/test_pg_dialect.py
    pins them; tests/test_pg_roundtrip.py runs each key on a real
    server, so a new key needs a new round-trip test."""
    out = {
        "ddl": PG_MIRROR_DDL.format(table=table),
        "touch_fn": PG_TOUCH_FUNCTION_DDL,
        "touch_trigger": PG_TOUCH_TRIGGER_DDL.format(table=table),
        "insert": PG_INSERT_SQL.format(table=table),
        "update": PG_UPDATE_SQL.format(table=table),
        "delete": PG_DELETE_SQL.format(table=table),
        "upsert": PG_UPSERT_SQL.format(table=table),
    }
    if stage is not None:
        out.update(
            {
                "merge_stage": PG_MERGE_FROM_STAGE_SQL.format(
                    table=table, stage=stage
                ),
                "insert_stage": PG_INSERT_FROM_STAGE_SQL.format(
                    table=table, stage=stage
                ),
                "delete_stage": PG_DELETE_FROM_STAGE_SQL.format(
                    table=table, stage=stage
                ),
            }
        )
    return out
