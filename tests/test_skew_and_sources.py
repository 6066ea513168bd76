"""Salted-join equivalence + streaming bundle source + health-check
retry semantics."""

from __future__ import annotations

import json
from collections import Counter
from types import SimpleNamespace

import pytest

from pyspark.sql import functions as F

from fhir2sql_spark.operators.skew import salted_join
from fhir2sql_spark.sources.rest_pages import (
    check_source_health,
    register_bundle_file_source,
)


def test_salted_join_equals_plain_join(spark):
    # skewed left: 90% of rows on key 7
    left = spark.range(0, 2000).select(
        F.when(F.col("id") % 10 != 0, F.lit(7)).otherwise(F.col("id") % 50).alias("k"),
        F.col("id").alias("l_val"),
    )
    right = spark.range(0, 50).select(
        F.col("id").alias("k"), (F.col("id") * 100).alias("r_val")
    )
    plain = salted = None
    plain = {
        (r["k"], r["l_val"], r["r_val"])
        for r in left.join(right, "k").collect()
    }
    salted = {
        (r["k"], r["l_val"], r["r_val"])
        for r in salted_join(left, right, "k", salt=8).collect()
    }
    assert salted == plain and len(plain) > 0


def test_salted_join_spreads_hot_key(spark):
    left = spark.range(0, 1000).select(
        F.lit(7).alias("k"), F.col("id").alias("l_val")
    )
    right = spark.createDataFrame([(7, "x")], "k long, r_val string")
    df = salted_join(left, right, "k", salt=8)
    assert df.count() == 1000


def test_streaming_bundle_source_incremental(spark, tmp_path):
    register_bundle_file_source(spark)

    def page(n, ids):
        return {
            "type": "searchset",
            "entry": [
                {"resource": {"resourceType": "Patient", "id": f"p-{i}"}}
                for i in ids
            ],
            "link": [],
        }

    (tmp_path / "page_0.json").write_text(json.dumps(page(0, range(10))))
    ckpt, out = str(tmp_path / "ckpt"), str(tmp_path / "out")

    def drain():
        stream = (
            spark.readStream.format("fhir_bundles")
            .option("path", str(tmp_path))
            .load()
        )
        q = (
            stream.writeStream.format("parquet")
            .outputMode("append")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        q.stop()

    drain()
    assert spark.read.parquet(out).count() == 10

    # a new page file appears -> only ITS rows are ingested next drain
    (tmp_path / "page_1.json").write_text(json.dumps(page(1, range(10, 25))))
    drain()
    rows = spark.read.parquet(out).count()
    assert rows == 25


def test_bundle_file_reads_agree_on_gappy_pages(spark, tmp_path):
    """Batch read, availableNow streaming read and replay
    (readBetweenOffsets) of one directory hold the same rows: an entry
    without a resource is skipped, and a middle file without entries
    yields nothing while the files after it are still read."""
    pages = [
        {"entry": [
            {"resource": {"resourceType": "Patient", "id": "p-1", "b": 2, "a": 1}},
            {"fullUrl": "urn:uuid:no-resource"},
            {"resource": {"resourceType": "Patient", "id": "p-1", "b": 2, "a": 1}},
        ]},
        {"type": "searchset", "link": []},
        {"entry": [{"resource": {"resourceType": "Patient", "id": "p-2"}}]},
    ]
    for i, page in enumerate(pages):
        (tmp_path / f"page_{i}.json").write_text(json.dumps(page))
    expected = Counter(
        [
            '{"a":1,"b":2,"id":"p-1","resourceType":"Patient"}',
            '{"a":1,"b":2,"id":"p-1","resourceType":"Patient"}',
            '{"id":"p-2","resourceType":"Patient"}',
        ]
    )

    register_bundle_file_source(spark)
    batch = spark.read.format("fhir_bundles").option("path", str(tmp_path)).load()
    assert Counter(r.resource for r in batch.collect()) == expected

    q = (
        spark.readStream.format("fhir_bundles")
        .option("path", str(tmp_path))
        .load()
        .writeStream.format("memory")
        .queryName("gappy_bundle_pages")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(120)
        streamed = spark.table("gappy_bundle_pages").collect()
    finally:
        q.stop()
    assert Counter(r.resource for r in streamed) == expected

    registered = []
    register_bundle_file_source(
        SimpleNamespace(dataSource=SimpleNamespace(register=registered.append))
    )
    stream_reader = registered[0]({"path": str(tmp_path)}).simpleStreamReader(None)
    replayed = stream_reader.readBetweenOffsets({"ingested": 0}, {"ingested": 3})
    assert Counter(row for (row,) in replayed) == expected


def test_health_check_retries_bounded():
    calls = {"n": 0}
    sleeps: list[float] = []

    def flaky(url):
        calls["n"] += 1
        if calls["n"] < 3:
            raise ConnectionError("down")
        return {"ok": True}

    assert check_source_health(flaky, "http://x/health", attempts=5, sleep=sleeps.append)
    assert calls["n"] == 3
    assert sleeps == [60.0, 60.0]

    calls["n"] = -100  # always failing from here (n < 3 for many calls)
    sleeps.clear()
    assert not check_source_health(
        lambda u: (_ for _ in ()).throw(ConnectionError()), "http://x", attempts=4,
        sleep=sleeps.append,
    )
    assert len(sleeps) == 3  # no sleep after the final attempt


def test_salted_join_rejects_outer_flavors(spark):
    df = spark.range(5).withColumnRenamed("id", "k")
    right = spark.range(5).withColumnRenamed("id", "k")
    for how in ("right", "full", "full_outer", "left_semi"):
        with pytest.raises(ValueError, match="salted_join supports"):
            salted_join(df, right, "k", salt=4, how=how)


def test_banded_inequality_join_equals_nested_loop(spark):
    """banded_inequality_join must produce EXACTLY the nested-loop
    result for the same bounded-gap predicate — on a 2k x 2k input
    where the BNLJ already hurts — and must plan as an equi-join."""
    from fhir2sql_spark.operators.skew import banded_inequality_join

    df = spark.range(2000).selectExpr(
        "id", "CAST((id * 37) % 1500 AS DOUBLE) + (id % 7) * 0.25 AS val"
    )
    a = df.selectExpr("id AS a_id", "val AS a_val")
    b = df.selectExpr("id AS b_id", "val AS b_val")

    plain = a.join(
        b,
        (F.col("a_val") > F.col("b_val"))
        & (
            F.col("a_val").cast("decimal(18,2)")
            - F.col("b_val").cast("decimal(18,2)")
            <= 10
        ),
    )
    banded = banded_inequality_join(a, b, "a_val", "b_val", max_gap=10)

    key = lambda r: (r["a_id"], r["b_id"])  # noqa: E731
    got = sorted(key(r) for r in banded.collect())
    want = sorted(key(r) for r in plain.collect())
    assert got == want and len(got) > 10_000

    plan = banded._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_banded_inequality_join_narrow_bands(spark):
    """band_width < max_gap replicates more keys but must not change
    the result (coverage math in the operator docstring)."""
    from fhir2sql_spark.operators.skew import banded_inequality_join

    df = spark.range(500).selectExpr("id", "CAST(id % 97 AS DOUBLE) AS val")
    a = df.selectExpr("id AS a_id", "val AS a_val")
    b = df.selectExpr("id AS b_id", "val AS b_val")
    wide = banded_inequality_join(a, b, "a_val", "b_val", max_gap=12)
    narrow = banded_inequality_join(
        a, b, "a_val", "b_val", max_gap=12, band_width=5
    )
    key = lambda r: (r["a_id"], r["b_id"])  # noqa: E731
    assert sorted(key(r) for r in wide.collect()) == sorted(
        key(r) for r in narrow.collect()
    )
