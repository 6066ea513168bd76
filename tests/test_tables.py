"""Loader-level tests: events.ts vintage independence + conf hygiene.

The round-2 advisor flagged two defects in ``tables.load``:

1. the legacy-nanos branch yielded TIMESTAMP (LTZ) while the native-micros
   path yields TIMESTAMP_NTZ, so downstream schemas depended on which
   generator vintage produced events.parquet;
2. ``spark.sql.legacy.parquet.nanosAsLong`` was set unconditionally and
   session-wide, silently turning any future nanos column in *other*
   tables into bigint.

Both are fixed in ``tables._load_events``; these tests pin the fix, and
that ``load`` infers each file version's schema only once.
"""

from __future__ import annotations

import datetime as dt

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from fhir2sql_spark.tables import _load_events, load

CONF_KEY = "spark.sql.legacy.parquet.nanosAsLong"

ROWS = [
    (dt.datetime(2024, 1, 1, 0, 0, 0), 1),
    (dt.datetime(2024, 1, 2, 3, 4, 5), 2),
]


def _write_events(path: str, unit: str) -> None:
    t = pa.table(
        {
            "ts": pa.array([r[0] for r in ROWS], type=pa.timestamp(unit)),
            "v": pa.array([r[1] for r in ROWS], type=pa.int64()),
        }
    )
    # version 2.6 + no coercion preserves nanos physical type
    pq.write_table(t, path, coerce_timestamps=None, version="2.6")


@pytest.mark.parametrize("unit", ["ns", "us"])
def test_events_ts_type_is_vintage_independent(spark, tmp_path, unit):
    path = str(tmp_path / "events.parquet")
    _write_events(path, unit)
    df = _load_events(spark, path)
    assert dict(df.dtypes)["ts"] == "timestamp_ntz"
    got = sorted((r["ts"], r["v"]) for r in df.collect())
    assert got == ROWS


@pytest.mark.parametrize("unit", ["ns", "us"])
def test_nanos_conf_does_not_leak(spark, tmp_path, unit):
    prior = spark.conf.get(CONF_KEY, None)
    path = str(tmp_path / "events.parquet")
    _write_events(path, unit)
    _load_events(spark, path).collect()
    assert spark.conf.get(CONF_KEY, None) == prior


def test_load_real_events_is_ntz(spark, sf_dir):
    assert dict(load(spark, sf_dir, "events").dtypes)["ts"] == "timestamp_ntz"


# --- schema cache: one inference per file version -------------------


def _next_job_id(spark) -> int:
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


def _write_region(path: str, extra: bool = False) -> None:
    cols = {
        "r_regionkey": pa.array([0, 1, 2], type=pa.int64()),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA"]),
    }
    if extra:
        cols["r_extra"] = pa.array([10, 11, 12], type=pa.int32())
    pq.write_table(pa.table(cols), path)


def test_second_load_runs_no_spark_job(spark, tmp_path):
    _write_region(str(tmp_path / "region.parquet"))
    j0 = _next_job_id(spark)
    load(spark, str(tmp_path), "region")
    j1 = _next_job_id(spark)
    df = load(spark, str(tmp_path), "region")
    j2 = _next_job_id(spark)
    assert j1 - j0 >= 1  # the first load infers the schema
    assert j2 - j1 == 0
    assert sorted(r["r_regionkey"] for r in df.collect()) == [0, 1, 2]


def test_rewritten_file_is_inferred_again(spark, tmp_path):
    path = str(tmp_path / "region.parquet")
    _write_region(path)
    assert "r_extra" not in load(spark, str(tmp_path), "region").columns
    _write_region(path, extra=True)
    df = load(spark, str(tmp_path), "region")
    assert df.columns == ["r_regionkey", "r_name", "r_extra"]
    assert sorted(r["r_extra"] for r in df.collect()) == [10, 11, 12]


def test_two_loads_self_join_unambiguously(spark, sf_dir):
    """Each load is its own relation: column references from either
    side of a self-join resolve to that side."""
    a = load(spark, sf_dir, "orders")
    b = load(spark, sf_dir, "orders").where("o_orderkey % 2 = 0")
    joined = a.join(b, a["o_orderkey"] == b["o_orderkey"], "full_outer").select(
        a["o_orderkey"].alias("ka"), b["o_orderkey"].alias("kb")
    )
    rows = joined.collect()
    keys = sorted(r["o_orderkey"] for r in a.select("o_orderkey").collect())
    assert sorted(r["ka"] for r in rows) == keys
    assert sorted(r["kb"] for r in rows if r["kb"] is not None) == [
        k for k in keys if k % 2 == 0
    ]
    assert all(r["kb"] in (None, r["ka"]) for r in rows)


@pytest.mark.parametrize("unit", ["ns", "us"])
def test_events_vintages_on_first_and_second_load(spark, tmp_path, unit):
    _write_events(str(tmp_path / "events.parquet"), unit)
    prior = spark.conf.get(CONF_KEY, None)
    for _ in range(2):
        df = load(spark, str(tmp_path), "events")
        assert spark.conf.get(CONF_KEY, None) == prior
        assert dict(df.dtypes)["ts"] == "timestamp_ntz"
        assert sorted((r["ts"], r["v"]) for r in df.collect()) == ROWS
        assert spark.conf.get(CONF_KEY, None) == prior
