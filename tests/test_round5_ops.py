"""Round-5 late additions: rolling distinct, attribution, triangles,
phrase search, hashed-ngram classifier, semantic dedup.

Each operator gets (a) a brute-force / independent-formulation parity
check and (b) the structural properties that the oracle hash can't
express (e.g. orientation invariance, window edge behavior).
"""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from tests.conftest import SF_MED


# ------------------------------------------------------------- rolling


def test_rolling_distinct_matches_bruteforce(spark):
    from fhir2sql_spark.operators.rolling import rolling_distinct

    rows = [
        Row(ts=f"2024-01-01 {h:02d}:{m:02d}:00", k=k)
        for h, m, k in [
            (0, 5, 1), (0, 10, 2), (1, 0, 1), (3, 30, 3),
            (5, 0, 1), (5, 1, 1), (9, 59, 4), (10, 0, 1),
        ]
    ]
    df = spark.createDataFrame(rows).select(
        F.col("ts").cast("timestamp").alias("ts"), F.col("k")
    )
    got = {
        r["bucket"].hour: r["n_distinct"]
        for r in rolling_distinct(df, "ts", "k", "hour", 3).collect()
    }
    # brute force: bucket hours {0,1,3,5,9,10}; window = 3 buckets
    data = {0: {1, 2}, 1: {1}, 3: {3}, 5: {1}, 9: {4}, 10: {1}}
    want = {
        h: len(set().union(*[data.get(x, set()) for x in range(h - 2, h + 1)]))
        for h in data
    }
    assert got == want


def test_rolling_distinct_window_one_is_plain_dau(spark):
    from fhir2sql_spark.operators.rolling import rolling_distinct

    e = spark.read.parquet(f"{SF_MED}/events.parquet").limit(2000)
    r1 = rolling_distinct(e, "ts", "user_id", "hour", 1)
    plain = (
        e.select(F.date_trunc("hour", "ts").alias("bucket"), "user_id")
        .groupBy("bucket")
        .agg(F.countDistinct("user_id").alias("n_distinct"))
    )
    assert sorted(map(tuple, r1.collect())) == sorted(map(tuple, plain.collect()))


def test_rolling_distinct_rejects_bad_window(spark):
    from fhir2sql_spark.operators.rolling import rolling_distinct

    with pytest.raises(ValueError):
        rolling_distinct(spark.range(1), "ts", "id", "hour", 0)


# ------------------------------------------------------------ triangles


def _edges(spark, pairs):
    return spark.createDataFrame(
        [Row(src=a, dst=b) for a, b in pairs], "src long, dst long"
    )


def test_triangle_counts_known_graph(spark):
    from fhir2sql_spark.operators.triangles import triangle_counts

    # K4 on {1,2,3,4} (4 triangles, each vertex in 3) + pendant 5
    k4 = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    got = {
        r["node"]: r["triangles"]
        for r in triangle_counts(_edges(spark, k4 + [(4, 5)])).collect()
    }
    assert got == {1: 3, 2: 3, 3: 3, 4: 3}


def test_triangle_counts_no_triangle(spark):
    from fhir2sql_spark.operators.triangles import triangle_counts

    # a star has wedges but no triangle
    star = [(1, x) for x in range(2, 8)]
    assert triangle_counts(_edges(spark, star)).count() == 0


def test_triangle_counts_hub_skew_matches_naive(spark):
    from fhir2sql_spark.operators.triangles import triangle_counts

    # hub 0 connected to all; ring among 1..12 — exercises the
    # degree-orientation path (hub must not own the wedges)
    n = 12
    edges = [(0, i) for i in range(1, n + 1)] + [
        (i, i % n + 1) for i in range(1, n + 1) if i < i % n + 1
    ]
    edges = sorted(set((min(a, b), max(a, b)) for a, b in edges))
    got = {
        r["node"]: r["triangles"]
        for r in triangle_counts(_edges(spark, edges)).collect()
    }
    # each ring edge forms one triangle with the hub: n-? ring edges
    ring = [(a, b) for a, b in edges if a != 0]
    import itertools

    naive = {}
    nodes = set(itertools.chain.from_iterable(edges))
    eset = set(edges)
    for a, b, c in itertools.combinations(sorted(nodes), 3):
        if {(a, b), (a, c), (b, c)} <= eset:
            for v in (a, b, c):
                naive[v] = naive.get(v, 0) + 1
    assert got == naive and got[0] == len(ring)


def test_cooccurrence_edges_distinct_groups(spark):
    from fhir2sql_spark.operators.triangles import cooccurrence_edges

    df = spark.createDataFrame(
        [
            Row(g=1, i=10), Row(g=1, i=20), Row(g=1, i=20),  # dup row
            Row(g=2, i=10), Row(g=2, i=20),
            Row(g=3, i=10), Row(g=3, i=30),
        ]
    )
    got = {
        (r["src"], r["dst"]): r["weight"]
        for r in cooccurrence_edges(df, "g", "i", min_weight=1).collect()
    }
    assert got == {(10, 20): 2, (10, 30): 1}


# ----------------------------------------------------------- text ops


def test_phrase_hits_counts_and_edges(spark):
    from fhir2sql_spark.operators.text import phrase_hits

    df = spark.createDataFrame(
        [
            Row(id=1, t="a b a b a"),       # "a b" twice
            Row(id=2, t="a"),               # shorter than phrase
            Row(id=3, t="b a"),             # no match
            Row(id=4, t="a b"),             # exact
        ]
    )
    got = {
        r["id"]: r["n"]
        for r in df.select("id", phrase_hits(F.col("t"), "a b").alias("n")).collect()
    }
    assert got == {1: 2, 2: 0, 3: 0, 4: 1}


def test_phrase_hits_rejects_empty(spark):
    from fhir2sql_spark.operators.text import phrase_hits

    with pytest.raises(ValueError):
        phrase_hits(F.col("t"), "   ")


def test_hashed_ngram_score_bruteforce(spark):
    import hashlib

    from fhir2sql_spark.operators.text import hashed_ngram_score

    texts = ["alpha beta gamma", "one two", "solo"]
    df = spark.createDataFrame([Row(id=i, t=t) for i, t in enumerate(texts)])
    got = {
        r["id"]: r["s"]
        for r in df.select(
            "id", hashed_ngram_score(F.col("t")).alias("s")
        ).collect()
    }

    def brute(text):
        toks = text.split()
        if len(toks) < 2:
            return None
        ws = []
        for a, b in zip(toks, toks[1:]):
            h = int(hashlib.md5(f"{a} {b}".encode()).hexdigest()[:15], 16)
            ws.append(h % 1001 - 500)
        return sum(ws) / len(ws)

    for i, t in enumerate(texts):
        want = brute(t)
        if want is None:
            assert got[i] is None
        else:
            assert got[i] == pytest.approx(want, abs=0)


# ------------------------------------------------------ semantic dedup


def test_semantic_dedup_planted_clones(spark):
    from fhir2sql_spark.operators import similarity

    emb = (
        spark.read.parquet(f"{SF_MED}/embeddings.parquet")
        .where(F.col("vec_id") < 200)
        .select("vec_id", "embedding")
    )
    clones = emb.select((F.col("vec_id") + 1000).alias("vec_id"), "embedding")
    corpus = emb.unionByName(clones)
    out = similarity.semantic_dedup(corpus, tau=0.99, n_centroids=8)
    rows = {r["vec_id"]: (r["cell"], r["is_dup"]) for r in out.collect()}
    assert len(rows) == 400
    for vid in range(200):
        cell, dup = rows[vid]
        ccell, cdup = rows[vid + 1000]
        assert ccell == cell          # clone lands in the same cell
        assert cdup is True           # clone (higher id) marked dup
    # originals: a gaussian fixture has no cosine>=0.99 pair
    assert not any(rows[v][1] for v in range(200))


def test_semantic_dedup_empty_corpus(spark):
    from fhir2sql_spark.operators import similarity

    emb = spark.read.parquet(f"{SF_MED}/embeddings.parquet").where(F.lit(False))
    assert similarity.semantic_dedup(emb).count() == 0


# ----------------------------------------------------------- queries


def test_attribution_conservation(spark):
    """Attributed purchase count equals total purchases; revenue
    conserved to the cent."""
    from fhir2sql_spark.registry import QUERIES, load_all

    load_all()
    out = QUERIES["q_attribution"](spark, SF_MED).collect()
    e = spark.read.parquet(f"{SF_MED}/events.parquet")
    total = e.where(F.col("event_type") == "purchase").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("rev"),
    ).collect()[0]
    assert sum(r["n_purchases"] for r in out) == total["n"]
    assert sum(r["revenue"] for r in out) == pytest.approx(total["rev"], abs=1e-6)
    assert {r["channel"] for r in out} <= {
        "view", "click", "signup", "organic"
    }


def test_graph_triangles_nonempty_at_sf_med(spark):
    from fhir2sql_spark.registry import QUERIES, load_all

    load_all()
    out = QUERIES["q_graph_triangles"](spark, SF_MED).collect()
    # sf0.01 fixture: 61 triangles (each credits 3 corners)
    assert sum(r["triangles"] for r in out) == 3 * 61


def test_classifier_forms_agree(spark):
    """The no-shuffle HOF form and the exploded hash-aggregate form
    (the registered hot path) compute identical scores."""
    from fhir2sql_spark.operators.text import (
        hashed_ngram_score,
        hashed_ngram_scores,
    )

    docs = spark.read.parquet(f"{SF_MED}/documents.parquet").limit(100)
    hof = docs.select(
        "doc_id", hashed_ngram_score(F.col("text")).alias("score")
    ).where(F.col("score").isNotNull())
    exploded = hashed_ngram_scores(docs)
    a = {r["doc_id"]: r["score"] for r in hof.collect()}
    b = {r["doc_id"]: r["score"] for r in exploded.collect()}
    assert a == b  # bit-exact: same integer sum, same IEEE division


def test_semantic_dedup_margin_vs_tau(spark):
    """The BLAS pairwise stage is hash-safe only while no same-cell
    pair sits within float noise of tau=0.4 — assert the margin on
    the oracle-gate fixture (sf0.01) with plenty of headroom."""
    import numpy as np

    emb = spark.read.parquet(f"{SF_MED}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    rows = emb.orderBy("vec_id").collect()
    x = np.array([r["embedding"] for r in rows], dtype=np.float64)
    u = x / np.linalg.norm(x, axis=1, keepdims=True)
    cents = u[:16]
    cells = np.argmax(u @ cents.T, axis=1)
    margin = 1.0
    for c in range(16):
        idx = np.where(cells == c)[0]
        if len(idx) < 2:
            continue
        sims = u[idx] @ u[idx].T
        iu = np.triu_indices(len(idx), k=1)
        margin = min(margin, np.abs(sims[iu] - 0.4).min())
    assert margin > 1e-6  # measured 1.3e-4; BLAS drift is ~1e-15


def test_triangles_property_random_graphs(spark):
    """Hypothesis: degree-ordered distributed counts == brute force on
    random graphs."""
    import itertools

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from fhir2sql_spark.operators.triangles import triangle_counts

    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=[HealthCheck.too_slow],
    )
    @given(
        edges=st.sets(
            st.tuples(
                st.integers(0, 9), st.integers(0, 9)
            ).filter(lambda p: p[0] != p[1]),
            min_size=0,
            max_size=25,
        )
    )
    def run(edges):
        und = sorted({(min(a, b), max(a, b)) for a, b in edges})
        got = (
            {}
            if not und
            else {
                r["node"]: r["triangles"]
                for r in triangle_counts(_edges(spark, und)).collect()
            }
        )
        eset = set(und)
        naive = {}
        nodes = sorted(set(itertools.chain.from_iterable(und)))
        for a, b, c in itertools.combinations(nodes, 3):
            if {(a, b), (a, c), (b, c)} <= eset:
                for v in (a, b, c):
                    naive[v] = naive.get(v, 0) + 1
        assert got == naive

    run()


def test_rolling_distinct_property(spark):
    """Hypothesis: operator == brute force over random (hour, key)
    event sets, for several window sizes."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from fhir2sql_spark.operators.rolling import rolling_distinct

    @settings(
        max_examples=6,
        deadline=None,
        suppress_health_check=[HealthCheck.too_slow],
    )
    @given(
        pts=st.lists(
            st.tuples(st.integers(0, 30), st.integers(0, 5)),
            min_size=1,
            max_size=40,
        ),
        w=st.integers(1, 5),
    )
    def run(pts, w):
        df = spark.createDataFrame(
            [Row(ts=f"2024-03-01 {h:02d}:00:00" if h < 24
                 else f"2024-03-02 {h-24:02d}:00:00", k=k) for h, k in pts]
        ).select(F.col("ts").cast("timestamp").alias("ts"), "k")
        got = {
            (r["bucket"].day, r["bucket"].hour): r["n_distinct"]
            for r in rolling_distinct(df, "ts", "k", "hour", w).collect()
        }
        data = {}
        for h, k in pts:
            data.setdefault(h, set()).add(k)
        want = {
            (1 + hh // 24, hh % 24): len(
                set().union(*[data.get(x, set()) for x in range(hh - w + 1, hh + 1)])
            )
            for hh in data
        }
        assert got == want

    run()
