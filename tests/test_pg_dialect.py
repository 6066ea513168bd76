"""Golden-SQL pins for the PostgreSQL sink dialect. Every statement
``pg_statements`` emits also runs against a real server in
tests/test_pg_roundtrip.py."""

from __future__ import annotations

from fhir2sql_spark.sinks.pg_dialect import pg_statements


def test_pg_golden_pins():
    st = pg_statements("patient", stage="patient_stage")
    assert st["insert"] == (
        "INSERT INTO patient (id, resource) VALUES (%s, %s::jsonb)"
    )
    assert st["update"] == (
        "UPDATE patient SET resource = %s::jsonb,"
        " last_updated_at = CURRENT_TIMESTAMP WHERE id = %s"
    )
    assert st["delete"] == "DELETE FROM patient WHERE id = %s"
    assert st["upsert"] == (
        "INSERT INTO patient (id, resource) VALUES (%s, %s::jsonb)"
        " ON CONFLICT (id) DO UPDATE SET resource = EXCLUDED.resource,"
        " last_updated_at = CURRENT_TIMESTAMP"
    )
    # reference shape: UPDATE ... SET resource = <...>::jsonb FROM ...
    # WHERE <stage>.id = <table>.id  (src/main.rs:86), staged variant
    assert "FROM patient_stage s" in st["merge_stage"]
    assert "s.resource::jsonb" in st["merge_stage"]
    assert st["ddl"].startswith("CREATE TABLE IF NOT EXISTS patient")
    assert "JSONB NOT NULL" in st["ddl"]
    assert "$$" in st["touch_fn"] and "plpgsql" in st["touch_fn"]
    assert "BEFORE UPDATE ON patient" in st["touch_trigger"]


def test_paramstyle_counts_match_changeset_contract():
    """apply_changeset feeds (pk_id, resource) / (resource, pk_id) /
    (pk_id,) tuples positionally; the PG statements must carry exactly
    that many placeholders in that order."""
    st = pg_statements("t")
    assert st["insert"].count("%s") == 2
    assert st["update"].count("%s") == 2
    assert st["delete"].count("%s") == 1
    assert st["upsert"].count("%s") == 2
