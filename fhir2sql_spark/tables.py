"""Parquet table access for the synthetic star schema (TESTDATA.md).

``load`` is the single scan entry point for all queries so that
projection/filter pushdown behavior is uniform and auditable with
``.explain``. Tables are plain parquet files; at 100 TB these would be
partitioned datasets — the loader API is path-based so nothing changes.

Schema inference runs at most once per file version. A plain
``spark.read.parquet`` runs a one-task Spark job to read the footer on
every call (65-80 ms warm on a 4-vCPU VM, 13 times per ``query_mix``
round); a read given the schema runs none (7-10 ms). ``_SCHEMAS`` maps
``(abspath, st_mtime_ns, st_size)`` of the table path to its inferred
schema, so a rewritten file is inferred again. An in-place rewrite
that keeps both the ``st_mtime_ns`` and the size is not detected and
is read with the old schema; a schema is the one inferred under the
confs of the session that first read the file. The cache holds
schemas, not DataFrames: each call returns a fresh relation with its
own attribute ids (two loads of one table self-join unambiguously, as
``q_sync_diff_full`` does) and its own file listing.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# (abspath, st_mtime_ns, st_size) -> (schema, read through nanosAsLong)
_SCHEMAS: dict[tuple[str, int, int], tuple[StructType, bool]] = {}


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    # Timestamp determinism is a correctness requirement: date_format,
    # DATE casts, and timestamp literals all resolve against the
    # SESSION timezone, and the driver's session may carry any tz.
    # Every query funnels through this loader, so pin UTC here (it is
    # a runtime conf; verified session-dynamic). Without this, window
    # starts and probe literals shift by the session offset and the
    # oracle hash breaks (caught by a Pacific/Kiritimati preflight).
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        return _load_events(spark, os.path.join(sf_dir, "events.parquet"))
    return _read(spark, os.path.join(sf_dir, f"{name}.parquet"))[0]


def _load_events(spark: SparkSession, path: str) -> DataFrame:
    """Read events.parquet with a vintage-independent ``ts`` type.

    events.ts may be parquet TIMESTAMP(NANOS) (round-1 generator), which
    the Spark reader rejects outright ([PARQUET_TYPE_ILLEGAL]); newer
    generators emit TIMESTAMP(MICROS, isAdjustedToUTC=false), which reads
    natively as TIMESTAMP_NTZ. Try the plain read first and enable
    ``spark.sql.legacy.parquet.nanosAsLong`` only on the nanos rejection
    (see ``_read``).

    The legacy branch integer-divides to micros (exact for whole-micro
    values; int64 ``DIV`` avoids double rounding at ~1.7e18 ns epochs)
    and casts to TIMESTAMP_NTZ — lossless under the pinned UTC session tz
    — so the Spark type of ``ts``, and hence the output schema of every
    query projecting it, is the same for both generator vintages.
    """
    df, nanos = _read(spark, path, nanos_fallback=True)
    if not nanos:
        return df
    return df.withColumn(
        "ts", F.expr("cast(timestamp_micros(ts DIV 1000) as timestamp_ntz)")
    )


def _read(
    spark: SparkSession, path: str, nanos_fallback: bool = False
) -> tuple[DataFrame, bool]:
    """A fresh parquet relation over ``path``, inferring its schema only
    on the first read of this file version; the flag says whether it
    was read with ``nanosAsLong``. With ``nanos_fallback``, a read
    rejected for TIMESTAMP(NANOS) is retried with that conf, which is
    cached with the schema and set again on every later read."""
    path = os.path.abspath(path)
    try:
        st = os.stat(path)
        key = (path, st.st_mtime_ns, st.st_size)
    except OSError:  # let Spark raise its own error for the path
        key = None
    if key in _SCHEMAS:
        schema, nanos = _SCHEMAS[key]
        with _nanos_as_long(spark, nanos):
            return spark.read.schema(schema).parquet(path), nanos
    try:
        df, nanos = spark.read.parquet(path), False
    except Exception as exc:  # AnalysisException: PARQUET_TYPE_ILLEGAL
        if not nanos_fallback or "NANOS" not in str(exc).upper():
            raise
        with _nanos_as_long(spark, True):
            df, nanos = spark.read.parquet(path), True
    if key is not None:
        _SCHEMAS[key] = (df.schema, nanos)
    return df, nanos


@contextmanager
def _nanos_as_long(spark: SparkSession, on: bool):
    """Set ``spark.sql.legacy.parquet.nanosAsLong`` around a read when
    ``on``, restoring its prior value after. Safe because the scan's
    hadoop conf is captured when the read is built, so later execution
    does not re-consult the session conf (verified empirically)."""
    if not on:
        yield
        return
    conf_key = "spark.sql.legacy.parquet.nanosAsLong"
    prior = spark.conf.get(conf_key, None)
    spark.conf.set(conf_key, "true")
    try:
        yield
    finally:
        if prior is None:
            spark.conf.unset(conf_key)
        else:
            spark.conf.set(conf_key, prior)
