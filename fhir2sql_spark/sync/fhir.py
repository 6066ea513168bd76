"""FHIR resource envelope extraction (R2) — Spark rendering.

The reference parses ``$.id`` and ``$.meta.versionId`` (a JSON
*string*) per resource, returning None on any absence
(/root/reference/src/main.rs:37-46); unparseable mirror rows are
skipped with a warning (src/main.rs:60-63). Here both are one
vectorized projection; rows failing extraction carry NULLs and are
split off by ``partition_malformed`` (row-level tolerance,
stage-level fail-fast — SURVEY §2.1).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def extract_versions(resources: DataFrame, resource_col: str = "resource") -> DataFrame:
    """Project (res_key, src_version, resource) from raw JSON strings.

    ``$.meta.versionId`` arrives as a JSON string and is cast to long
    (src/main.rs:39: ``as_str() -> parse::<i64>()``); try_cast because
    a non-numeric value must yield NULL (the reference's skip path,
    src/main.rs:219-225) — ANSI mode would otherwise fail the stage.
    """
    c = F.col(resource_col)
    return resources.select(
        F.get_json_object(c, "$.id").alias("res_key"),
        F.get_json_object(c, "$.meta.versionId").try_cast("long").alias("src_version"),
        c.alias("resource"),
    )


def is_well_formed() -> Column:
    """A resource is well-formed iff both id and versionId extracted
    (get_version() -> Some, src/main.rs:41-45)."""
    return F.col("res_key").isNotNull() & F.col("src_version").isNotNull()


def partition_malformed(extracted: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(well_formed, malformed), split by ``is_well_formed``."""
    ok = is_well_formed()
    return extracted.where(ok), extracted.where(~ok)


# --- typed (nested-struct) resource parsing -------------------------

PATIENT_SCHEMA = (
    "resourceType STRING, id STRING,"
    " meta STRUCT<versionId: STRING, lastUpdated: STRING>,"
    " gender STRING, birthDate STRING,"
    " identifier ARRAY<STRUCT<system: STRING, value: STRING>>"
)

OBSERVATION_SCHEMA = (
    "resourceType STRING, id STRING,"
    " meta STRUCT<versionId: STRING, lastUpdated: STRING>,"
    " subject STRUCT<reference: STRING>,"
    " valueQuantity STRUCT<value: DOUBLE, unit: STRING>"
)


def parse_patients(resources: DataFrame, resource_col: str = "resource") -> DataFrame:
    """Full nested parse of Patient JSON (FIXTURES.md §2.3 shape) into
    typed columns — the from_json(StructType) tier above the
    JSON-path projection the reference uses (SURVEY §1.1). PERMISSIVE
    mode: malformed documents yield NULL fields, not failures."""
    parsed = F.from_json(F.col(resource_col), PATIENT_SCHEMA)
    return resources.select(
        parsed.getField("id").alias("patient_id"),
        parsed.getField("meta").getField("versionId").try_cast("long").alias("version_id"),
        F.to_date(parsed.getField("birthDate")).alias("birth_date"),
        parsed.getField("gender").alias("gender"),
        parsed.getField("identifier").alias("identifiers"),
    )


def parse_observations(
    resources: DataFrame, resource_col: str = "resource"
) -> DataFrame:
    """Typed Observation parse incl. the subject reference
    ('Patient/<id>' -> patient_id) used for cross-resource joins."""
    parsed = F.from_json(F.col(resource_col), OBSERVATION_SCHEMA)
    subject_ref = parsed.getField("subject").getField("reference")
    return resources.select(
        parsed.getField("id").alias("obs_id"),
        F.regexp_replace(subject_ref, "^Patient/", "").alias("patient_id"),
        parsed.getField("valueQuantity").getField("value").alias("value"),
        parsed.getField("valueQuantity").getField("unit").alias("unit"),
    )


def observations_with_patients(
    observations: DataFrame, patients: DataFrame
) -> DataFrame:
    """Cross-resource-type join on the FHIR reference — the analytics
    query the mirror exists to serve. Patient is usually the smaller
    side at scale per-partition-of-care, but both sides shuffle on
    patient_id in the general case (AQE broadcasts when one side is
    filtered small)."""
    return observations.join(patients, "patient_id", "left")
