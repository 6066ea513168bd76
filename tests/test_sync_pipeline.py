"""End-to-end sync pipeline test (SURVEY §5.2-4): bundle-page source ->
version diff -> parameterized sqlite sink -> reconciliation. This is
the fhir2sql-equivalent product exercised at its real surfaces."""

from __future__ import annotations

import json
import sqlite3
import threading

import pytest

from pyspark.sql import functions as F

from fhir2sql_spark.sinks import jdbc_upsert
from fhir2sql_spark.sources.rest_pages import read_bundles, register_bundle_file_source
from fhir2sql_spark.sync.pipeline import SyncStats, run_sync, sync_resources


def _resource(rid: str, version: int, rtype: str = "Patient", **extra) -> dict:
    return {
        "resourceType": rtype,
        "id": rid,
        "meta": {"versionId": str(version), "lastUpdated": "2024-05-01T12:00:00Z"},
        "gender": ["female", "male"][hash(rid) % 2],
        **extra,
    }


def _bundle_fixture(n: int = 120, page_size: int = 50) -> dict[str, dict]:
    """Paged searchset bundles keyed by URL, FIXTURES.md §2.2 shape."""
    resources = [_resource(f"pat-{i:06d}", 1 + i % 3) for i in range(n)]
    pages: dict[str, dict] = {}
    n_pages = (n + page_size - 1) // page_size
    for p in range(n_pages):
        url = f"http://blaze/fhir/Patient?page={p}"
        links = [{"relation": "self", "url": url}]
        if p + 1 < n_pages:
            links.append(
                {"relation": "next", "url": f"http://blaze/fhir/Patient?page={p+1}"}
            )
        pages[url] = {
            "id": f"p{p}",
            "resourceType": "Bundle",
            "type": "searchset",
            "total": n,
            "entry": [
                {"resource": r}
                for r in resources[p * page_size : (p + 1) * page_size]
            ],
            "link": links,
        }
    return pages


@pytest.fixture()
def sqlite_db(tmp_path):
    path = str(tmp_path / "mirror.db")

    def connect():
        return sqlite3.connect(path, timeout=60, check_same_thread=False)

    return connect


def test_full_sync_from_bundles_converges(spark, sqlite_db):
    pages = _bundle_fixture(n=120, page_size=50)
    src = read_bundles(
        spark, "http://blaze/fhir/Patient?page=0", fetch=lambda u: pages[u]
    )
    assert src.count() == 120

    jdbc_upsert.create_mirror_tables(sqlite_db, ["patient"])
    stats = sync_resources(spark, src, sqlite_db, "patient", batch_size=32)
    assert stats.inserts == 120
    assert stats.updates == stats.deletes == 0
    assert stats.counts_match

    # idempotence: re-sync of converged mirror is all-noop (src/main.rs:159-164)
    stats2 = sync_resources(spark, src, sqlite_db, "patient", batch_size=32)
    assert stats2.inserts == stats2.updates == stats2.deletes == 0
    assert stats2.noops == 120
    assert stats2.counts_match


def test_incremental_sync_applies_cdc(spark, sqlite_db):
    pages = _bundle_fixture(n=100, page_size=40)
    src1 = read_bundles(
        spark, "http://blaze/fhir/Patient?page=0", fetch=lambda u: pages[u]
    )
    jdbc_upsert.create_mirror_tables(sqlite_db, ["patient"])
    sync_resources(spark, src1, sqlite_db, "patient")

    # second snapshot: drop ids %10==0 (deletes), bump version on %3==0
    # (updates), add 10 new (inserts)
    res2 = [
        _resource(f"pat-{i:06d}", (1 + i % 3) + (1 if i % 3 == 0 else 0))
        for i in range(100)
        if i % 10 != 0
    ] + [_resource(f"new-{i:06d}", 1) for i in range(10)]
    src2 = spark.createDataFrame(
        [(json.dumps(r, sort_keys=True),) for r in res2], "resource string"
    )
    stats = sync_resources(spark, src2, sqlite_db, "patient")
    expected_updates = sum(1 for i in range(100) if i % 10 != 0 and i % 3 == 0)
    assert stats.inserts == 10
    assert stats.deletes == 10
    assert stats.updates == expected_updates
    assert stats.counts_match

    # the mirror's contents equal the source snapshot exactly
    conn = sqlite_db()
    rows = conn.execute("SELECT resource FROM patient").fetchall()
    conn.close()
    mirror_ids = sorted(json.loads(r[0])["id"] for r in rows)
    assert mirror_ids == sorted(r["id"] for r in res2)


def test_malformed_resources_skipped_not_fatal(spark, sqlite_db):
    good = [_resource(f"pat-{i}", 1) for i in range(5)]
    bad = [
        {"resourceType": "Patient"},  # missing id (src/main.rs:41-45)
        {"resourceType": "Patient", "id": "x", "meta": {}},  # missing versionId
        {"resourceType": "Patient", "id": "y", "meta": {"versionId": "abc"}},
    ]
    src = spark.createDataFrame(
        [(json.dumps(r, sort_keys=True),) for r in good + bad], "resource string"
    )
    jdbc_upsert.create_mirror_tables(sqlite_db, ["patient"])
    stats = sync_resources(spark, src, sqlite_db, "patient")
    assert stats.inserts == 5
    assert stats.malformed == 3
    assert stats.counts_match


@pytest.mark.slow
def test_run_sync_multi_type_bootstrap(spark, sqlite_db):
    srcs = {
        rtype: spark.createDataFrame(
            [
                (json.dumps(_resource(f"{rtype[:3]}-{i}", 1, rtype), sort_keys=True),)
                for i in range(7)
            ],
            "resource string",
        )
        for rtype in ["Patient", "Specimen", "Observation", "Condition"]
    }
    stats = run_sync(spark, srcs, sqlite_db)
    assert set(stats) == set(srcs)
    assert all(s.inserts == 7 and s.counts_match for s in stats.values())
    assert jdbc_upsert.table_exists(sqlite_db, "patient")
    assert jdbc_upsert.table_exists(sqlite_db, "observation")


@pytest.mark.slow
def test_run_sync_parallel_equals_sequential(spark, sqlite_db):
    """run_sync with the ``parallel`` keyword (still accepted, now one
    pass over all types) must return the same stats and converge every
    mirror to the same rows as one ``sync_resources`` call per type in
    sequence, and a re-run on converged state is all-noop (the
    reference's daily-rerun idempotence)."""

    def _srcs(version):
        return _type_frames(spark, 9, version)

    def _sequential(version):
        jdbc_upsert.create_mirror_tables(sqlite_db, [f"seq_{rt.lower()}" for rt in _TYPES])
        return {
            rt: sync_resources(spark, df, sqlite_db, f"seq_{rt.lower()}")
            for rt, df in _srcs(version).items()
        }

    def _same_mirrors():
        for rt in _TYPES:
            assert _mirror_rows(sqlite_db, f"par_{rt.lower()}") == _mirror_rows(
                sqlite_db, f"seq_{rt.lower()}"
            )

    stats = run_sync(spark, _srcs(1), sqlite_db, table_prefix="par_", parallel=True)
    assert set(stats) == set(_TYPES)
    assert all(s.inserts == 9 and s.counts_match for s in stats.values())
    assert stats == _sequential(1)
    _same_mirrors()

    rerun = run_sync(spark, _srcs(1), sqlite_db, table_prefix="par_", parallel=True)
    assert all(
        s.inserts == 0 and s.updates == 0 and s.deletes == 0 and s.noops == 9
        for s in rerun.values()
    )
    assert rerun == _sequential(1)

    bumped = run_sync(spark, _srcs(2), sqlite_db, table_prefix="par_", parallel=True)
    assert all(s.updates == 9 and s.counts_match for s in bumped.values())
    assert bumped == _sequential(2)
    _same_mirrors()


def test_bundle_file_datasource(spark, tmp_path):
    pages = _bundle_fixture(n=60, page_size=20)
    for i, (_, bundle) in enumerate(sorted(pages.items())):
        (tmp_path / f"page_{i:04d}.json").write_text(json.dumps(bundle))
    register_bundle_file_source(spark)
    df = spark.read.format("fhir_bundles").option("path", str(tmp_path)).load()
    assert df.count() == 60
    # one partition per page file — the parallel-scan contract
    assert df.rdd.getNumPartitions() == 3


def test_stage_and_merge_path(spark, sqlite_db):
    jdbc_upsert.create_mirror_tables(sqlite_db, ["patient"])
    conn = sqlite_db()
    conn.execute(
        "INSERT INTO patient (id, resource) VALUES (1, ?)",
        (json.dumps(_resource("pat-keep", 1)),),
    )
    conn.execute(
        "INSERT INTO patient (id, resource) VALUES (2, ?)",
        (json.dumps(_resource("pat-old", 1)),),
    )
    conn.execute("CREATE TABLE stage (pk_id INT, op TEXT, resource TEXT)")
    conn.executemany(
        "INSERT INTO stage VALUES (?, ?, ?)",
        [
            (2, "update", json.dumps(_resource("pat-old", 2))),
            (3, "insert", json.dumps(_resource("pat-new", 1))),
        ],
    )
    conn.commit()
    conn.close()
    jdbc_upsert.merge_stage_into_target(sqlite_db, "patient", "stage")
    conn = sqlite_db()
    rows = dict(
        (r[0], json.loads(r[1])) for r in conn.execute(
            "SELECT id, resource FROM patient"
        ).fetchall()
    )
    conn.close()
    assert rows[2]["meta"]["versionId"] == "2"
    assert rows[3]["id"] == "pat-new"


def test_merge_strategy_converges_like_batched(spark, sqlite_db):
    pages = _bundle_fixture(n=80, page_size=40)
    src = read_bundles(
        spark, "http://blaze/fhir/Patient?page=0", fetch=lambda u: pages[u]
    )
    jdbc_upsert.create_mirror_tables(sqlite_db, ["patient"])
    stats = sync_resources(spark, src, sqlite_db, "patient", strategy="merge")
    assert stats.inserts == 80 and stats.counts_match

    # incremental through the merge path
    res2 = [
        _resource(f"pat-{i:06d}", 2 if i < 10 else (1 + i % 3))
        for i in range(5, 80)
    ]
    src2 = spark.createDataFrame(
        [(json.dumps(r, sort_keys=True),) for r in res2], "resource string"
    )
    stats2 = sync_resources(spark, src2, sqlite_db, "patient", strategy="merge")
    assert stats2.deletes == 5
    assert stats2.counts_match
    conn = sqlite_db()
    ids = sorted(
        json.loads(r[0])["id"]
        for r in conn.execute("SELECT resource FROM patient").fetchall()
    )
    conn.close()
    assert ids == sorted(r["id"] for r in res2)


def test_typed_parse_and_cross_resource_join(spark):
    from fhir2sql_spark.sync.fhir import (
        observations_with_patients,
        parse_observations,
        parse_patients,
    )

    pats = spark.createDataFrame(
        [
            (json.dumps({
                "resourceType": "Patient", "id": f"pat-{i}",
                "meta": {"versionId": "1"}, "gender": "female",
                "birthDate": "1970-04-02",
                "identifier": [{"system": "urn:ex", "value": f"P{i}"}],
            }),)
            for i in range(5)
        ],
        "resource string",
    )
    obs = spark.createDataFrame(
        [
            (json.dumps({
                "resourceType": "Observation", "id": f"obs-{i}",
                "meta": {"versionId": "1"},
                "subject": {"reference": f"Patient/pat-{i % 5}"},
                "valueQuantity": {"value": 1.5 * i, "unit": "mg"},
            }),)
            for i in range(10)
        ],
        "resource string",
    )
    p = parse_patients(pats)
    o = parse_observations(obs)
    assert p.where(p.birth_date.isNotNull()).count() == 5
    assert o.where(o.patient_id.startswith("pat-")).count() == 10
    joined = observations_with_patients(o, p)
    assert joined.count() == 10
    assert joined.where(joined.gender.isNotNull()).count() == 10
    # malformed documents parse to NULL fields, never fail (PERMISSIVE)
    bad = spark.createDataFrame([("not json at all",)], "resource string")
    assert parse_patients(bad).where(F.col("patient_id").isNull()).count() == 1


def _dump_mirror_parquet(spark, connect_fn, table, path) -> None:
    """Simulate the production range-partitioned JDBC read: the mirror
    table lands as a multi-partition (id, resource) DataFrame that was
    never driver-materialized inside the pipeline (here the dump goes
    through the driver only because sqlite is in-process)."""
    conn = connect_fn()
    rows = conn.execute(f"SELECT id, resource FROM {table}").fetchall()
    conn.close()
    df = spark.createDataFrame(rows or [], "id int, resource string").repartition(8)
    df.write.mode("overwrite").parquet(path)


def test_partitioned_mirror_df_seam_applies_cdc(spark, sqlite_db, tmp_path):
    """VERDICT r2 #1: the production path — mirror supplied as a
    distributed DataFrame (spark.read.jdbc-shaped) — must run the
    identical CDC as the driver-fetch fallback."""
    pages = _bundle_fixture(n=100, page_size=40)
    src1 = read_bundles(
        spark, "http://blaze/fhir/Patient?page=0", fetch=lambda u: pages[u]
    )
    jdbc_upsert.create_mirror_tables(sqlite_db, ["patient"])
    sync_resources(spark, src1, sqlite_db, "patient")

    # snapshot the mirror to parquet and re-read it as the partitioned
    # mirror frame (stand-in for spark.read.jdbc(partitionColumn='id'))
    mpath = str(tmp_path / "mirror_snapshot")
    _dump_mirror_parquet(spark, sqlite_db, "patient", mpath)
    mirror_df = spark.read.parquet(mpath)
    assert mirror_df.rdd.getNumPartitions() > 1  # genuinely distributed

    res2 = [
        _resource(f"pat-{i:06d}", (1 + i % 3) + (1 if i % 3 == 0 else 0))
        for i in range(100)
        if i % 10 != 0
    ] + [_resource(f"new-{i:06d}", 1) for i in range(10)]
    src2 = spark.createDataFrame(
        [(json.dumps(r, sort_keys=True),) for r in res2], "resource string"
    )
    stats = sync_resources(spark, src2, sqlite_db, "patient", mirror_df=mirror_df)
    expected_updates = sum(1 for i in range(100) if i % 10 != 0 and i % 3 == 0)
    assert stats.inserts == 10
    assert stats.deletes == 10
    assert stats.updates == expected_updates
    assert stats.counts_match

    conn = sqlite_db()
    rows = conn.execute("SELECT resource FROM patient").fetchall()
    conn.close()
    mirror_ids = sorted(json.loads(r[0])["id"] for r in rows)
    assert mirror_ids == sorted(r["id"] for r in res2)


def test_mirror_df_seam_converges_and_is_idempotent(spark, sqlite_db, tmp_path):
    """Convergence + idempotence (src/main.rs:159-175) through the
    partitioned-mirror path: after one sync via mirror_df the next
    mirror_df-driven sync must be all-noop."""
    pages = _bundle_fixture(n=60, page_size=25)
    src = read_bundles(
        spark, "http://blaze/fhir/Patient?page=0", fetch=lambda u: pages[u]
    )
    jdbc_upsert.create_mirror_tables(sqlite_db, ["patient"])
    # initial load through the seam too: empty-mirror parquet frame
    empty = spark.createDataFrame([], "id int, resource string")
    stats1 = sync_resources(spark, src, sqlite_db, "patient", mirror_df=empty)
    assert stats1.inserts == 60 and stats1.counts_match

    mpath = str(tmp_path / "mirror_snapshot2")
    _dump_mirror_parquet(spark, sqlite_db, "patient", mpath)
    stats2 = sync_resources(
        spark, src, sqlite_db, "patient", mirror_df=spark.read.parquet(mpath)
    )
    assert stats2.inserts == stats2.updates == stats2.deletes == 0
    assert stats2.noops == 60 and stats2.counts_match


def test_run_sync_accepts_mirror_by_type(spark, sqlite_db):
    srcs = {
        "Patient": spark.createDataFrame(
            [(json.dumps(_resource(f"p-{i}", 1), sort_keys=True),) for i in range(5)],
            "resource string",
        ),
        "Observation": spark.createDataFrame(
            [
                (json.dumps(_resource(f"o-{i}", 1, rtype="Observation"), sort_keys=True),)
                for i in range(3)
            ],
            "resource string",
        ),
    }
    empty = spark.createDataFrame([], "id int, resource string")
    stats = run_sync(
        spark, srcs, sqlite_db, mirror_by_type={"Patient": empty, "Observation": empty}
    )
    assert stats["Patient"].inserts == 5
    assert stats["Observation"].inserts == 3
    assert all(s.counts_match for s in stats.values())


@pytest.mark.slow
def test_parallel_sync_no_cross_talk_and_stable_pks(spark, sqlite_db):
    """Four types through one run_sync pass into ONE target DB (4 types
    x 40 rows): each type's table must hold exactly its own resources,
    a re-run on converged state is all-noop (the reference's daily
    re-run idempotence), and pk allocation must be STABLE under retry —
    a re-run of the same snapshot and a version-bump update both leave
    every (res_key -> pk_id) assignment unchanged (the M4 pipeline's
    partial-failure contract: replays never re-key the mirror)."""
    types = ["Patient", "Specimen", "Observation", "Condition"]

    def _srcs(version):
        return {
            rt: spark.createDataFrame(
                [
                    (
                        json.dumps(
                            _resource(f"{rt[:3]}-{i:04d}", version, rt),
                            sort_keys=True,
                        ),
                    )
                    for i in range(40)
                ],
                "resource string",
            )
            for rt in types
        }

    def _pk_maps():
        conn = sqlite_db()
        maps = {}
        for rt in types:
            rows = conn.execute(
                f"SELECT id, resource FROM ct_{rt.lower()}"
            ).fetchall()
            for _, res in rows:
                assert json.loads(res)["resourceType"] == rt, "cross-talk"
            maps[rt] = {json.loads(res)["id"]: pk for pk, res in rows}
        conn.close()
        return maps

    stats = run_sync(spark, _srcs(1), sqlite_db, table_prefix="ct_")
    assert set(stats) == set(types)
    assert all(s.inserts == 40 and s.counts_match for s in stats.values())
    first = _pk_maps()
    assert all(len(m) == 40 for m in first.values())

    # retry of the same snapshot: all-noop, identical pk assignment
    rerun = run_sync(spark, _srcs(1), sqlite_db, table_prefix="ct_")
    assert all(
        s.noops == 40 and s.inserts == 0 and s.updates == 0 and s.deletes == 0
        for s in rerun.values()
    )
    assert _pk_maps() == first

    # updates overwrite in place: versions move, pks do not
    bump = run_sync(spark, _srcs(2), sqlite_db, table_prefix="ct_")
    assert all(s.updates == 40 and s.counts_match for s in bump.values())
    assert _pk_maps() == first


@pytest.mark.slow
def test_merge_failure_rolls_back_and_replay_converges(spark, sqlite_db):
    """Mid-merge failure + replay (merge strategy): a crash on the
    LAST statement of the set-based transaction must leave the target
    byte-identical (the earlier UPDATE/INSERT statements roll back),
    and a replay with a healthy connection must converge — the
    src/main.rs:159-175 semantics under partial failure."""
    pages = _bundle_fixture(n=30, page_size=30)
    src = read_bundles(
        spark, "http://blaze/fhir/Patient?page=0", fetch=lambda u: pages[u]
    )
    jdbc_upsert.create_mirror_tables(sqlite_db, ["patient"])
    sync_resources(spark, src, sqlite_db, "patient", strategy="merge")

    def _snapshot():
        conn = sqlite_db()
        rows = conn.execute(
            "SELECT id, resource FROM patient ORDER BY id"
        ).fetchall()
        conn.close()
        return rows

    before = _snapshot()
    assert len(before) == 30

    # second snapshot: drops 5, updates 5, inserts 5
    res2 = [
        _resource(f"pat-{i:06d}", 2 if i < 10 else (1 + i % 3))
        for i in range(5, 30)
    ] + [_resource(f"pat-new-{i}", 1) for i in range(5)]
    src2 = spark.createDataFrame(
        [(json.dumps(r, sort_keys=True),) for r in res2], "resource string"
    )

    class _FailOnTargetDelete:
        """Connection proxy: the DELETE against the TARGET table (the
        merge transaction's last statement) raises; everything else —
        stage load INSERTs, DDL, SELECTs — passes through."""

        def __init__(self, real):
            self._real = real

        def cursor(self):
            proxy = self

            class _Cur:
                def __init__(self, cur):
                    self._cur = cur

                def execute(self, sql, *a):
                    if sql.strip().upper().startswith("DELETE FROM PATIENT"):
                        raise RuntimeError("injected mid-merge crash")
                    return self._cur.execute(sql, *a)

                def __getattr__(self, name):
                    return getattr(self._cur, name)

            return _Cur(proxy._real.cursor())

        def execute(self, sql, *a):
            return self.cursor().execute(sql, *a)

        def __getattr__(self, name):
            return getattr(self._real, name)

    def failing_connect():
        return _FailOnTargetDelete(sqlite_db())

    with pytest.raises(RuntimeError, match="injected"):
        sync_resources(spark, src2, failing_connect, "patient", strategy="merge")
    assert _snapshot() == before, "partial merge leaked through rollback"
    assert _tables(sqlite_db) == ["patient"], "failed merge left its stage table"

    # replay with a healthy connection: full convergence
    stats = sync_resources(spark, src2, sqlite_db, "patient", strategy="merge")
    assert stats.counts_match
    conn = sqlite_db()
    ids = sorted(
        json.loads(r[0])["id"]
        for r in conn.execute("SELECT resource FROM patient").fetchall()
    )
    conn.close()
    assert ids == sorted(r["id"] for r in res2)


def _json_frame(spark, resources):
    return spark.createDataFrame(
        [(json.dumps(r, sort_keys=True),) for r in resources], "resource string"
    )


_TYPES = ["Patient", "Specimen", "Observation", "Condition"]


def _type_frames(spark, n, version=1, malformed=()):
    """One source per type in ``_TYPES``: ``n`` resources at
    ``version``, ids prefixed by type, then the ``malformed`` ones."""
    return {
        rt: _json_frame(
            spark, [_resource(f"{rt[:3]}-{i}", version, rt) for i in range(n)] + list(malformed)
        )
        for rt in _TYPES
    }


def _mirror_rows(connect_fn, table):
    """``{pk: (id, versionId)}`` of one mirror table."""
    conn = connect_fn()
    rows = conn.execute(
        f"SELECT id, json_extract(resource, '$.id'),"  # noqa: S608
        f" json_extract(resource, '$.meta.versionId') FROM {table}"
    ).fetchall()
    conn.close()
    return {pk: (rid, v) for pk, rid, v in rows}


def _tables(connect_fn):
    conn = connect_fn()
    names = conn.execute("SELECT name FROM sqlite_master WHERE type = 'table'").fetchall()
    conn.close()
    return sorted(n for (n,) in names)


def test_run_sync_keeps_ids_shared_across_types_apart(spark, sqlite_db):
    """Patient/x-1 and Observation/x-1 share one id. The diff keys on
    (table, id), so each table holds its own row, a re-run is all-noop,
    and a version bump or a deletion touches only its own type."""

    def sync(patients, observation_version):
        return run_sync(spark, {
            "Patient": _json_frame(spark, [_resource(p, 1) for p in patients]),
            "Observation": _json_frame(
                spark, [_resource("x-1", observation_version, "Observation")]
            ),
        }, sqlite_db)

    def stats(inserts=0, updates=0, deletes=0, noops=0, after=1):
        return SyncStats(
            inserts=inserts, updates=updates, deletes=deletes, noops=noops,
            malformed=0, source_count=after, mirror_count_after=after,
        )

    assert sync(["x-1", "x-2"], 1) == {
        "Patient": stats(inserts=2, after=2), "Observation": stats(inserts=1),
    }
    patients = _mirror_rows(sqlite_db, "patient")
    assert sorted(patients.values()) == [("x-1", "1"), ("x-2", "1")]
    assert _mirror_rows(sqlite_db, "observation") == {1: ("x-1", "1")}

    assert sync(["x-1", "x-2"], 1) == {
        "Patient": stats(noops=2, after=2), "Observation": stats(noops=1),
    }
    assert sync(["x-1", "x-2"], 2) == {
        "Patient": stats(noops=2, after=2), "Observation": stats(updates=1),
    }
    assert _mirror_rows(sqlite_db, "patient") == patients
    assert _mirror_rows(sqlite_db, "observation") == {1: ("x-1", "2")}

    assert sync(["x-2"], 2) == {
        "Patient": stats(deletes=1, noops=1), "Observation": stats(noops=1),
    }
    assert list(_mirror_rows(sqlite_db, "patient").values()) == [("x-2", "1")]
    assert _mirror_rows(sqlite_db, "observation") == {1: ("x-1", "2")}


def test_overlapping_merges_into_one_table_stage_apart(spark, sqlite_db, monkeypatch):
    """A second merge sync of the same table runs to completion between
    the first one's stage load and its merge. Each call stages into its
    own table, so both change-sets land and no stage table is left."""
    jdbc_upsert.create_mirror_tables(sqlite_db, ["patient"])
    ids = [f"pat-{i}" for i in range(10)]
    sync_resources(
        spark, _json_frame(spark, [_resource(p, 1) for p in ids]), sqlite_db, "patient",
        strategy="merge",
    )
    first = _json_frame(spark, [_resource(p, 2 if i < 5 else 1) for i, p in enumerate(ids)])
    second = _json_frame(spark, [_resource(p, 2 if i >= 5 else 1) for i, p in enumerate(ids)])
    real, calls, inner = jdbc_upsert.merge_stage_into_target, [], []

    def overlapped(*args, **kwargs):
        calls.append(args)
        if len(calls) == 1:
            inner.append(
                sync_resources(spark, second, sqlite_db, "patient", strategy="merge")
            )
        return real(*args, **kwargs)

    monkeypatch.setattr(jdbc_upsert, "merge_stage_into_target", overlapped)
    outer = sync_resources(spark, first, sqlite_db, "patient", strategy="merge")
    monkeypatch.undo()
    assert (inner[0].updates, outer.updates) == (5, 5)
    assert outer.counts_match
    assert sorted(_mirror_rows(sqlite_db, "patient").values()) == [(p, "2") for p in ids]
    assert _tables(sqlite_db) == ["patient"]


def _returns_within(seconds, fn, *args, **kwargs):
    """Call ``fn`` on a daemon thread and fail, instead of hanging the
    suite, if it has not returned after ``seconds``: the sync's
    ``Observation.get`` blocks until the observed plan has run."""
    out = {}

    def run():
        try:
            out["value"] = fn(*args, **kwargs)
        except BaseException as e:  # re-raised on the test thread
            out["error"] = e

    t = threading.Thread(target=run, daemon=True)
    t.start()
    t.join(seconds)
    assert not t.is_alive(), f"{fn.__name__} did not return within {seconds} s"
    if "error" in out:
        raise out["error"]
    return out["value"]


@pytest.mark.parametrize("via_mirror_df", [False, True])
def test_insert_pks_skip_unparseable_mirror_rows(spark, sqlite_db, via_mirror_df):
    """The mirror's highest id holds a row with no versionId: it is
    skipped by the diff, but its id is taken, so new pks must start
    above it (not above the highest PARSEABLE row, which collided on
    the primary key)."""
    jdbc_upsert.create_mirror_tables(sqlite_db, ["patient"])
    mirror = [(1, json.dumps(_resource("a", 1), sort_keys=True)), (2, '{"id": "bad"}')]
    conn = sqlite_db()
    conn.executemany("INSERT INTO patient (id, resource) VALUES (?, ?)", mirror)
    conn.commit()
    conn.close()
    mirror_df = (
        spark.createDataFrame(mirror, "id int, resource string") if via_mirror_df else None
    )
    src = _json_frame(spark, [_resource("a", 1), _resource("b", 1)])
    stats = sync_resources(spark, src, sqlite_db, "patient", mirror_df=mirror_df)
    assert stats == SyncStats(
        inserts=1, updates=0, deletes=0, noops=1, malformed=0,
        source_count=2, mirror_count_after=3,
    )
    conn = sqlite_db()
    rows = dict(conn.execute("SELECT id, json_extract(resource, '$.id') FROM patient"))
    conn.close()
    assert rows == {1: "a", 2: "bad", 3: "b"}


def _udf_frame(spark, docs, scanned):
    """A source whose rows come out of a Python UDF that counts every
    row it produces in the accumulator ``scanned``."""

    @F.udf("string")
    def doc(i):
        scanned.add(1)
        return docs[i]

    return spark.range(len(docs)).select(doc(F.col("id").cast("int")).alias("resource"))


def _count_actions(monkeypatch) -> list[str]:
    """Record the name of every outermost DataFrame action from here
    on (until ``monkeypatch.undo()``)."""
    from pyspark.sql.classic.dataframe import DataFrame

    actions, depth = [], [0]

    def counting(name, original):
        def wrapper(*args, **kwargs):
            if depth[0] == 0:
                actions.append(name)
            depth[0] += 1
            try:
                return original(*args, **kwargs)
            finally:
                depth[0] -= 1

        return wrapper

    for name in ("collect", "count", "foreach", "foreachPartition", "toPandas",
                 "isEmpty", "take", "head", "first", "tail", "toLocalIterator", "show"):
        monkeypatch.setattr(DataFrame, name, counting(name, getattr(DataFrame, name)))
    return actions


def test_sync_scans_source_once_in_two_actions(spark, sqlite_db, monkeypatch):
    """One sync reads each source once and runs two DataFrame actions:
    the summary collect and the apply job. That holds for one table
    through sync_resources and for four types through run_sync."""
    jdbc_upsert.create_mirror_tables(sqlite_db, ["patient"])
    first = [_resource(f"pat-{i:03d}", 1) for i in range(10)] + [_resource("gone", 1)]
    sync_resources(spark, _json_frame(spark, first), sqlite_db, "patient")

    docs = [
        json.dumps(_resource(f"pat-{i:03d}", 2 if i < 5 else 1), sort_keys=True)
        for i in range(20)
    ]
    scanned = spark.sparkContext.accumulator(0)
    src = _udf_frame(spark, docs, scanned)

    actions = _count_actions(monkeypatch)
    stats = sync_resources(spark, src, sqlite_db, "patient")
    monkeypatch.undo()
    assert stats == SyncStats(
        inserts=10, updates=5, deletes=1, noops=5, malformed=0,
        source_count=20, mirror_count_after=20,
    )
    assert scanned.value == len(docs)
    assert actions == ["collect", "foreachPartition"]

    run_sync(spark, _type_frames(spark, 4), sqlite_db, table_prefix="four_")
    scanned = spark.sparkContext.accumulator(0)
    srcs = {
        rt: _udf_frame(spark, [
            json.dumps(_resource(f"{rt[:3]}-{i}", 2 if i < 2 else 1, rt), sort_keys=True)
            for i in range(6)
        ], scanned)
        for rt in _TYPES
    }
    actions = _count_actions(monkeypatch)
    stats = run_sync(spark, srcs, sqlite_db, table_prefix="four_")
    monkeypatch.undo()
    assert stats == {rt: SyncStats(
        inserts=2, updates=2, deletes=0, noops=2, malformed=0,
        source_count=6, mirror_count_after=6,
    ) for rt in _TYPES}
    assert scanned.value == 6 * len(_TYPES)
    assert actions == ["collect", "foreachPartition"]


def test_empty_source_deletes_whole_mirror(spark, sqlite_db):
    jdbc_upsert.create_mirror_tables(sqlite_db, ["patient"])
    src = _json_frame(spark, [_resource(f"pat-{i}", 1) for i in range(5)])
    sync_resources(spark, src, sqlite_db, "patient")
    empty = spark.createDataFrame([], "resource string")
    stats = _returns_within(180, sync_resources, spark, empty, sqlite_db, "patient")
    assert stats == SyncStats(
        inserts=0, updates=0, deletes=5, noops=0, malformed=0,
        source_count=0, mirror_count_after=0,
    )


def test_all_malformed_source(spark, sqlite_db):
    jdbc_upsert.create_mirror_tables(sqlite_db, ["patient"])
    bad = [{"resourceType": "Patient"}, {"id": "x", "meta": {}}, {"id": "y"}]
    stats = _returns_within(
        180, sync_resources, spark, _json_frame(spark, bad), sqlite_db, "patient"
    )
    assert stats == SyncStats(
        inserts=0, updates=0, deletes=0, noops=0, malformed=3,
        source_count=0, mirror_count_after=0,
    )


@pytest.mark.parametrize("via_mirror_df", [False, True])
def test_empty_mirror(spark, sqlite_db, via_mirror_df):
    jdbc_upsert.create_mirror_tables(sqlite_db, ["patient"])
    src = _json_frame(
        spark, [_resource(f"pat-{i}", 1) for i in range(4)] + [{"id": "no-meta"}]
    )
    mirror_df = (
        spark.createDataFrame([], "id int, resource string") if via_mirror_df else None
    )
    stats = _returns_within(
        180, sync_resources, spark, src, sqlite_db, "patient", mirror_df=mirror_df
    )
    assert stats == SyncStats(
        inserts=4, updates=0, deletes=0, noops=0, malformed=1,
        source_count=4, mirror_count_after=4,
    )


@pytest.mark.parametrize("strategy", ["batched", "merge", "run_sync"])
def test_converged_resync_runs_only_the_summary_collect(
    spark, sqlite_db, monkeypatch, strategy
):
    """A re-sync with nothing to apply stops after the summary collect:
    no apply job (for merge, no staging job), also for four types in
    one run_sync pass."""
    srcs = _type_frames(spark, 6, malformed=[{"id": "x"}])

    def sync():
        if strategy == "run_sync":
            return run_sync(spark, srcs, sqlite_db)
        return {"Patient": sync_resources(
            spark, srcs["Patient"], sqlite_db, "patient", strategy=strategy
        )}

    jdbc_upsert.create_mirror_tables(sqlite_db, ["patient"])
    sync()
    actions = _count_actions(monkeypatch)
    stats = sync()
    monkeypatch.undo()
    assert stats == {rt: SyncStats(
        inserts=0, updates=0, deletes=0, noops=6, malformed=1,
        source_count=6, mirror_count_after=6,
    ) for rt in (_TYPES if strategy == "run_sync" else ["Patient"])}
    assert actions == ["collect"]


@pytest.mark.parametrize("local_relation", [True, False])
def test_driver_fetched_frames_run_no_python_worker(spark, sqlite_db, local_relation):
    """The default mirror read and the REST page walk reach the JVM as
    Arrow batches: no PythonRDD in their lineage, schemas unchanged.
    Small tables become a local relation; with the threshold at 1 byte
    they become an RDD of Arrow batches."""
    from fhir2sql_spark.sync.pipeline import read_mirror_versions

    jdbc_upsert.create_mirror_tables(sqlite_db, ["patient", "empty"])
    conn = sqlite_db()
    conn.executemany(
        "INSERT INTO patient (id, resource) VALUES (?, ?)",
        [(i, json.dumps(_resource(f"pat-{i}", 1))) for i in range(1, 6)],
    )
    conn.commit()
    conn.close()
    pages = _bundle_fixture(n=120, page_size=50)
    no_entries = {"resourceType": "Bundle", "type": "searchset", "entry": []}
    conf = "spark.sql.execution.arrow.localRelationThreshold"
    threshold = spark.conf.get(conf)
    spark.conf.set(conf, threshold if local_relation else "1")
    try:
        mirror = read_mirror_versions(spark, sqlite_db, "patient")
        empty_mirror = read_mirror_versions(spark, sqlite_db, "empty")
        walk = read_bundles(
            spark, "http://blaze/fhir/Patient?page=0", fetch=lambda u: pages[u],
            page_batch=40,
        )
        empty_walk = read_bundles(spark, "http://blaze/first", fetch=lambda u: no_entries)
    finally:
        spark.conf.set(conf, threshold)

    for df in (mirror, empty_mirror):
        assert df.schema.simpleString() == "struct<table:string,pk_id:int,resource:string>"
    for df in (walk, empty_walk):
        assert df.schema.simpleString() == "struct<resource:string>"
    for df in (mirror, empty_mirror, walk, empty_walk):
        lineage = df._jdf.queryExecution().toRdd().toDebugString()
        assert "PythonRDD" not in lineage, lineage
    assert sorted(r.pk_id for r in mirror.collect()) == [1, 2, 3, 4, 5]
    assert walk.count() == 120
    assert empty_mirror.count() == empty_walk.count() == 0


def test_connect_with_retry_semantics():
    from fhir2sql_spark.sinks.jdbc_upsert import connect_with_retry

    calls = {"n": 0}
    sleeps: list[float] = []

    def flaky():
        calls["n"] += 1
        if calls["n"] < 4:
            raise ConnectionError("down")
        return "conn"

    assert connect_with_retry(flaky, attempts=5, sleep=sleeps.append) == "conn"
    assert calls["n"] == 4 and sleeps == [5.0, 5.0, 5.0]

    import pytest as _pytest

    with _pytest.raises(ConnectionError):
        connect_with_retry(
            lambda: (_ for _ in ()).throw(ConnectionError("dead")),
            attempts=3,
            sleep=sleeps.append,
        )
