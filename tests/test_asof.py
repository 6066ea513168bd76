"""As-of join: the candidate-join contract form and the merge-sorted
scale form must agree exactly (same latest-at-or-before row, same
tie-breaks), including the boundary cases a sort-order bug would flip:
an event exactly AT the probe time, equal-timestamp tie-break by max
id, and probes with no eligible event (dropped — inner flavor)."""

from __future__ import annotations

from datetime import datetime

import pytest

from pyspark.sql import functions as F

from fhir2sql_spark.operators.asof import asof_join, asof_join_sorted
from fhir2sql_spark.tables import load

_KW = dict(
    on="user_id",
    left_ts="probe_ts",
    right_ts="event_ts",
    probe_key="probe_id",
    tie_break="event_id",
)


def _collect(df):
    return {
        tuple(r)
        for r in df.select(
            "probe_id", "user_id", "probe_ts", "event_id", "event_ts"
        ).collect()
    }


def test_asof_forms_agree_on_edge_cases(spark):
    probes = spark.createDataFrame(
        [
            (1, 7, "2024-01-01 10:00:00"),  # event exactly at probe ts eligible
            (2, 7, "2024-01-01 09:59:59"),  # strictly-before only
            (3, 7, "2024-01-01 00:00:00"),  # no eligible event -> dropped
            (4, 8, "2024-01-01 12:00:00"),  # tie: two events same ts, max id wins
        ],
        "probe_id long, user_id long, probe_ts string",
    ).withColumn("probe_ts", F.col("probe_ts").cast("timestamp"))
    events = spark.createDataFrame(
        [
            (100, 7, "2024-01-01 09:00:00"),
            (101, 7, "2024-01-01 10:00:00"),
            (200, 8, "2024-01-01 11:00:00"),
            (201, 8, "2024-01-01 11:00:00"),
        ],
        "event_id long, user_id long, event_ts string",
    ).withColumn("event_ts", F.col("event_ts").cast("timestamp"))

    a = _collect(asof_join(probes, events, **_KW))
    b = _collect(asof_join_sorted(probes, events, **_KW))
    assert a == b
    by_probe = {r[0]: r[3] for r in b}
    assert by_probe == {1: 101, 2: 100, 4: 201}  # probe 3 dropped


def test_asof_left_flavor_partitions_probes(spark):
    """r12 how="left": every left row survives exactly once — matched
    rows equal the inner flavor, unmatched (incl. out-of-tolerance and
    NULL-key) rows carry NULL right columns. The left flavor must be
    the inner flavor plus exactly the anti-join complement, which is
    what lets q_attribution drop its second as-of derivation."""
    probes = spark.createDataFrame(
        [
            (1, 7, "2024-01-01 10:00:00"),   # match at probe ts
            (2, 7, "2024-01-01 09:59:59"),   # strictly-before match
            (3, 7, "2024-01-01 00:00:00"),   # no eligible event
            (4, 8, "2024-01-01 12:00:00"),   # tie -> max event_id
            (5, 7, "2024-01-03 10:00:00"),   # match exists but stale
            (6, None, "2024-01-01 10:00:00"),  # NULL key never matches
        ],
        "probe_id long, user_id long, probe_ts string",
    ).withColumn("probe_ts", F.col("probe_ts").cast("timestamp"))
    events = spark.createDataFrame(
        [
            (100, 7, "2024-01-01 09:00:00"),
            (101, 7, "2024-01-01 10:00:00"),
            (200, 8, "2024-01-01 11:00:00"),
            (201, 8, "2024-01-01 11:00:00"),
        ],
        "event_id long, user_id long, event_ts string",
    ).withColumn("event_ts", F.col("event_ts").cast("timestamp"))

    kw = dict(_KW, tolerance="12 hours")
    inner = {
        r["probe_id"]: r["event_id"]
        for r in asof_join_sorted(probes, events, **kw).collect()
    }
    left = {
        r["probe_id"]: r["event_id"]
        for r in asof_join_sorted(probes, events, how="left", **kw).collect()
    }
    assert inner == {1: 101, 2: 100, 4: 201}
    assert left == {1: 101, 2: 100, 3: None, 4: 201, 5: None, 6: None}
    with pytest.raises(ValueError):
        asof_join_sorted(probes, events, how="outer", **_KW)


def test_asof_forms_agree_on_fixture(spark, sf_dir):
    o = load(spark, sf_dir, "orders")
    e = load(spark, sf_dir, "events")
    probes = o.select(
        F.col("o_orderkey").alias("probe_id"),
        (F.col("o_custkey") % 150).alias("user_id"),
        F.expr(
            "timestamp '2024-01-01 00:00:00'"
            " + make_interval(0, 0, 0, 0, cast(o_orderkey % 720 as int), 0, 0)"
        ).alias("probe_ts"),
    )
    events = e.select("user_id", "event_id", F.col("ts").alias("event_ts"))
    a = _collect(asof_join(probes, events, **_KW))
    b = _collect(asof_join_sorted(probes, events, **_KW))
    assert a == b and len(a) > 0


@pytest.mark.slow
def test_asof_forms_agree_random(spark):
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    ts = st.integers(min_value=0, max_value=50)
    probe = st.tuples(st.integers(0, 5), ts)  # (user, probe second)
    event = st.tuples(st.integers(0, 5), ts)  # (user, event second)

    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        probes=st.lists(probe, min_size=1, max_size=15),
        events=st.lists(event, min_size=1, max_size=15),
    )
    def inner(probes, events):
        pdf = spark.createDataFrame(
            [
                (i, u, f"2024-01-01 00:00:{s:02d}")
                for i, (u, s) in enumerate(probes)
            ],
            "probe_id long, user_id long, probe_ts string",
        ).withColumn("probe_ts", F.col("probe_ts").cast("timestamp"))
        edf = spark.createDataFrame(
            [
                (i, u, f"2024-01-01 00:00:{s:02d}")
                for i, (u, s) in enumerate(events)
            ],
            "event_id long, user_id long, event_ts string",
        ).withColumn("event_ts", F.col("event_ts").cast("timestamp"))
        a = _collect(asof_join(pdf, edf, **_KW))
        b = _collect(asof_join_sorted(pdf, edf, **_KW))
        assert a == b

    inner()


def test_asof_contract_null_keys_and_overlap(spark):
    """Both forms must agree on NULL join keys (dropped, SQL equi-join
    semantics) and reject overlapping non-key column names — round-1
    advisor finding: the window form used to group NULL keys while the
    join form dropped them."""
    left = spark.createDataFrame(
        [(None, datetime(2024, 1, 2), 1), (5, datetime(2024, 1, 2), 2)],
        "k int, lts timestamp, probe_id int",
    )
    right = spark.createDataFrame(
        [(None, datetime(2024, 1, 1), 100), (5, datetime(2024, 1, 1), 200)],
        "k int, rts timestamp, rid int",
    )
    a = asof_join(left, right, "k", "lts", "rts", "probe_id", "rid").collect()
    b = asof_join_sorted(left, right, "k", "lts", "rts", "probe_id", "rid").collect()
    assert sorted(r["probe_id"] for r in a) == [2]
    assert sorted((r["probe_id"], r["rid"]) for r in a) == sorted(
        (r["probe_id"], r["rid"]) for r in b
    )

    clash = right.withColumnRenamed("rts", "lts")
    with pytest.raises(ValueError, match="disjoint non-key"):
        asof_join(left, clash, "k", "lts", "lts", "probe_id", "rid")
    with pytest.raises(ValueError, match="disjoint non-key"):
        asof_join_sorted(left, clash, "k", "lts", "lts", "probe_id", "rid")


@pytest.mark.slow
def test_asof_forward_forms_agree_random(spark):
    """direction='forward': candidate and merge-sorted forms agree,
    including equal-ts eligibility (>=) and min-tie-break selection."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    ts = st.integers(min_value=0, max_value=50)
    probe = st.tuples(st.integers(0, 5), ts)
    event = st.tuples(st.integers(0, 5), ts)

    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        probes=st.lists(probe, min_size=1, max_size=15),
        events=st.lists(event, min_size=1, max_size=15),
    )
    def inner(probes, events):
        pdf = spark.createDataFrame(
            [
                (i, u, f"2024-01-01 00:00:{s:02d}")
                for i, (u, s) in enumerate(probes)
            ],
            "probe_id long, user_id long, probe_ts string",
        ).withColumn("probe_ts", F.col("probe_ts").cast("timestamp"))
        edf = spark.createDataFrame(
            [
                (i, u, f"2024-01-01 00:00:{s:02d}")
                for i, (u, s) in enumerate(events)
            ],
            "event_id long, user_id long, event_ts string",
        ).withColumn("event_ts", F.col("event_ts").cast("timestamp"))
        a = _collect(asof_join(pdf, edf, direction="forward", **_KW))
        b = _collect(asof_join_sorted(pdf, edf, direction="forward", **_KW))
        assert a == b

    inner()


def test_asof_forward_picks_earliest_at_or_after(spark):
    pdf = spark.createDataFrame(
        [(1, 7, "2024-01-01 00:00:10")],
        "probe_id long, user_id long, probe_ts string",
    ).withColumn("probe_ts", F.col("probe_ts").cast("timestamp"))
    edf = spark.createDataFrame(
        [
            (1, 7, "2024-01-01 00:00:05"),  # before: ineligible
            (2, 7, "2024-01-01 00:00:10"),  # AT probe: eligible
            (3, 7, "2024-01-01 00:00:10"),  # equal ts: larger id loses
            (4, 7, "2024-01-01 00:00:20"),
        ],
        "event_id long, user_id long, event_ts string",
    ).withColumn("event_ts", F.col("event_ts").cast("timestamp"))
    for fn in (asof_join, asof_join_sorted):
        rows = fn(pdf, edf, direction="forward", **_KW).collect()
        assert len(rows) == 1 and rows[0]["event_id"] == 2


def test_asof_tolerance_bounds_staleness(spark):
    """tolerance='1 hours' keeps only matches within the hour; the
    nearest-but-stale match drops its probe entirely (inner flavor),
    and both forms enforce the identical bound."""
    probes = spark.createDataFrame(
        [
            (1, 7, "2024-01-01 10:00:00"),  # match at 09:30 -> fresh
            (2, 7, "2024-01-01 12:00:00"),  # nearest 09:30 is stale -> drop
            (3, 7, "2024-01-01 10:30:00"),  # boundary: exactly 1h old -> keep
        ],
        "probe_id long, user_id long, probe_ts string",
    ).withColumn("probe_ts", F.col("probe_ts").cast("timestamp"))
    events = spark.createDataFrame(
        [(100, 7, "2024-01-01 09:30:00")],
        "event_id long, user_id long, event_ts string",
    ).withColumn("event_ts", F.col("event_ts").cast("timestamp"))

    kw = dict(_KW, tolerance="1 hours")
    a = _collect(asof_join(probes, events, **kw))
    b = _collect(asof_join_sorted(probes, events, **kw))
    assert a == b
    assert {r[0] for r in a} == {1, 3}


def test_asof_tolerance_forms_agree_random(spark):
    """Random snapshots: candidate-join and merge-sorted forms agree
    under a tolerance in both directions."""
    import random

    rnd = random.Random(4242)
    base = datetime(2024, 1, 1)
    probes = [
        (i, rnd.randrange(5), base.replace(hour=rnd.randrange(24)))
        for i in range(60)
    ]
    events = [
        (100 + i, rnd.randrange(5), base.replace(hour=rnd.randrange(24)))
        for i in range(120)
    ]
    pdf = spark.createDataFrame(
        probes, "probe_id long, user_id long, probe_ts timestamp"
    )
    edf = spark.createDataFrame(
        events, "event_id long, user_id long, event_ts timestamp"
    )
    for direction in ("backward", "forward"):
        kw = dict(_KW, direction=direction, tolerance="3 hours")
        a = _collect(asof_join(pdf, edf, **kw))
        b = _collect(asof_join_sorted(pdf, edf, **kw))
        assert a == b, direction
        # tolerance output is a subset of the unbounded output
        unbounded = _collect(asof_join(pdf, edf, **dict(_KW, direction=direction)))
        assert a <= unbounded


def _physical_nodes(df) -> list:
    """Every node of ``df``'s physical plan (AQE's current plan)."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.executedPlan()
    nodes, stack = [], [plan]
    while stack:
        node = stack.pop()
        nodes.append(node)
        kids = node.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))
    return nodes


def test_asof_left_null_keys_bypass_the_window(spark, tmp_path):
    """how="left" unions NULL-key probes in after the merge, with NULL
    right columns, so they never enter the window (where all of them
    would share its one NULL partition). The fixture goes through
    parquet so the NULL-key filter stays a plan node."""
    probes = spark.createDataFrame(
        [
            (1, 7, "2024-01-01 10:00:00"),
            (2, None, "2024-01-01 10:00:00"),
            (3, None, "2024-01-02 10:00:00"),
            (4, 8, "2024-01-01 00:00:00"),  # no eligible event
            (5, 8, "2024-01-01 12:00:00"),
        ],
        "probe_id long, user_id long, probe_ts string",
    ).withColumn("probe_ts", F.col("probe_ts").cast("timestamp"))
    events = spark.createDataFrame(
        [
            (100, 7, "2024-01-01 09:00:00"),
            (101, None, "2024-01-01 09:00:00"),  # NULL right key: filtered
            (200, 8, "2024-01-01 11:00:00"),
        ],
        "event_id long, user_id long, event_ts string",
    ).withColumn("event_ts", F.col("event_ts").cast("timestamp"))
    probes.write.parquet(str(tmp_path / "probes"))
    events.write.parquet(str(tmp_path / "events"))
    out = asof_join_sorted(
        spark.read.parquet(str(tmp_path / "probes")),
        spark.read.parquet(str(tmp_path / "events")),
        how="left",
        **_KW,
    )
    nodes = _physical_nodes(out)  # before execution replaces it with stages
    assert out.columns == ["probe_id", "user_id", "probe_ts", "event_id", "event_ts"]
    assert sorted(out.collect(), key=lambda r: r["probe_id"]) == [
        (1, 7, datetime(2024, 1, 1, 10), 100, datetime(2024, 1, 1, 9)),
        (2, None, datetime(2024, 1, 1, 10), None, None),
        (3, None, datetime(2024, 1, 2, 10), None, None),
        (4, 8, datetime(2024, 1, 1, 0), None, None),
        (5, 8, datetime(2024, 1, 1, 12), 200, datetime(2024, 1, 1, 11)),
    ]
    windows = [n.toString() for n in nodes if n.nodeName() == "Window"]
    assert windows
    assert not any("isnull(user_id" in w for w in windows), windows
    assert any(
        n.nodeName() == "Filter" and "isnull(user_id" in n.toString()
        for n in nodes
    )
