"""Integer-lattice portable k-means (operators/lattice.py) — the
round-6 trained-codebook graduation vehicle. The exact end-to-end gate
is the DuckDB oracle parity (test_oracle_parity + drivercheck on
q_embed_ivf_trained / q_embed_pq_trained / q_dedup_semantic_trained);
these tests pin the operator-level invariants the oracles rely on:
md5-seed order, integer exactness, tie rules, empty-cell retention,
and the domain guard — and what training buys: planted-cluster
recovery, a PQ MSE cut against the first-N books, and clone flagging
under a trained codebook."""

from __future__ import annotations

import hashlib

import numpy as np
import pytest
from pyspark.sql import functions as F

from fhir2sql_spark.operators import lattice
from fhir2sql_spark.tables import load
from tests.conftest import SF_MED


def _quantize_np(vecs, scale=1000):
    # np.round is HALF-EVEN; Spark/DuckDB ROUND is half-away-from-zero
    v = np.asarray(vecs, dtype=np.float64) * scale
    return np.where(v >= 0, np.floor(v + 0.5), np.ceil(v - 0.5)).astype(
        np.int64
    )


def _mk(spark, vecs):
    return spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )


def test_quantize_half_away_from_zero(spark):
    # exact .5 lattice boundaries: 0.0005*1000 = 0.5 (representable)
    df = _mk(spark, [[0.0005, -0.0005, 0.0015, -0.0015]])
    [r] = lattice.quantize(df).collect()
    # float32 storage perturbs 0.0005 off the exact boundary; what
    # matters is that Spark matches the reference computed from the
    # SAME float32-promoted doubles (the oracle shares the promotion)
    f32 = np.array([0.0005, -0.0005, 0.0015, -0.0015], dtype=np.float32)
    assert list(r["qv"]) == list(_quantize_np(f32.astype(np.float64)))


def test_seed_codebook_is_md5_order(spark):
    df = _mk(spark, np.random.RandomState(0).randn(20, 4))
    qv = lattice.quantize(df)
    seeds = lattice._seed_codebook(qv, 5)
    ids_by_md5 = sorted(
        range(20), key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i)
    )[:5]
    expect = {
        tuple(_quantize_np(np.array(df.collect()[i]["embedding"])))
        for i in ids_by_md5
    }
    got = {tuple(v) for _, v in seeds}
    assert got == expect
    assert [c for c, _ in seeds] == [0, 1, 2, 3, 4]


def test_lattice_kmeans_reproducible_and_exact_vs_numpy(spark):
    rng = np.random.RandomState(7)
    vecs = rng.randn(60, 8) * 0.3
    df = _mk(spark, vecs)
    qv = lattice.quantize(df)
    a = {
        r["cent_id"]: tuple(r["cv"])
        for r in lattice.lattice_kmeans(qv, k=4, iters=2).collect()
    }
    b = {
        r["cent_id"]: tuple(r["cv"])
        for r in lattice.lattice_kmeans(qv, k=4, iters=2).collect()
    }
    assert a == b  # deterministic across runs

    # numpy replica of the portable algorithm
    q = _quantize_np(np.array(vecs, dtype=np.float32).astype(np.float64))
    order = sorted(
        range(len(q)), key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i)
    )
    cents = q[order[:4]].copy()
    for _ in range(2):
        d2 = ((q[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        asg = d2.argmin(axis=1)  # first-min == lowest cent_id
        for c in range(4):
            members = q[asg == c]
            if len(members):
                m = members.sum(axis=0).astype(np.float64) / len(members)
                cents[c] = np.where(
                    m >= 0, np.floor(m + 0.5), np.ceil(m - 0.5)
                ).astype(np.int64)
    assert a == {c: tuple(cents[c]) for c in range(4)}


def test_lattice_kmeans_empty_cell_keeps_centroid(spark):
    # 3 identical points, k=3: two cells go empty after round 1 and
    # must retain their seed centroids verbatim
    df = _mk(spark, [[0.1, 0.1]] * 3)
    qv = lattice.quantize(df)
    out = lattice.lattice_kmeans(qv, k=3, iters=2).collect()
    assert len(out) == 3
    assert all(tuple(r["cv"]) == (100, 100) for r in out)


def test_lattice_assign_matches_numpy_argmin(spark):
    rng = np.random.RandomState(7)
    vecs = rng.randn(40, 6)
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    qv = lattice.quantize(df)
    cents = lattice.lattice_kmeans(qv, k=4, iters=1)
    got = {
        r["vid"]: (r["cell"], r["d2"])
        for r in lattice.lattice_assign(qv, cents).collect()
    }
    code = np.stack(
        [
            np.array(r["cv"], dtype=np.int64)
            for r in cents.orderBy("cent_id").collect()
        ]
    )
    q = np.array(
        [r["qv"] for r in qv.orderBy("vid").collect()], dtype=np.int64
    )
    d2 = (
        (q * q).sum(1)[:, None]
        - 2 * q @ code.T
        + (code * code).sum(1)[None, :]
    )
    for i in range(len(q)):
        cell = int(np.argmin(d2[i]))  # ties -> lowest cent_id
        assert got[i] == (cell, int(d2[i][cell]))


def test_lattice_assign_tie_breaks_to_lowest_cent(spark):
    # two IDENTICAL centroids: every vector is equidistant from both,
    # so the winner must always be cent_id 0
    qv = spark.createDataFrame(
        [(i, [i, i + 1]) for i in range(5)], "vid long, qv array<long>"
    )
    cents = spark.createDataFrame(
        [(0, [2, 2]), (1, [2, 2])], "cent_id int, cv array<long>"
    )
    rows = lattice.lattice_assign(qv, cents).collect()
    assert {r["cell"] for r in rows} == {0}


def test_lattice_ivf_topk_matches_bruteforce(spark, sf_dir):
    emb = load(spark, sf_dir, "embeddings").limit(200)
    qv = lattice.quantize(emb)
    cents = lattice.lattice_kmeans(qv, k=8, iters=2)
    out = lattice.lattice_ivf_topk(
        qv.where(F.col("vid") < 3), qv, cents, k=5, n_probe=8
    ).collect()
    assert out
    # n_probe == k_cells -> every candidate scored: equals exact top-k
    rows = qv.collect()
    X = {r["vid"]: np.array(r["qv"], dtype=np.int64) for r in rows}
    for qid in {r["q_id"] for r in out}:
        d = sorted(
            (int(((X[qid] - v) ** 2).sum()), cid)
            for cid, v in X.items()
            if cid != qid
        )[:5]
        got = sorted(
            (r["adist"], r["c_id"]) for r in out if r["q_id"] == qid
        )
        assert got == d


def test_lattice_pq_search_dim_guard(spark):
    df = _mk(spark, np.random.RandomState(1).randn(20, 8) * 0.2)
    qv = lattice.quantize(df)
    books = lattice.lattice_pq_train(qv, m=2, n_codes=4, iters=1)
    bad_q = _mk(spark, np.random.RandomState(2).randn(2, 6) * 0.2)
    with pytest.raises(Exception, match="dim"):
        lattice.lattice_pq_search(
            lattice.quantize(bad_q), qv, books, k=2, m=2
        ).collect()


def test_lattice_pq_train_fewer_vectors_than_codes(spark):
    """Like lattice_kmeans, the PQ trainer trains min(n_codes, |qv|)
    codes per subspace, and the search runs over those books: with
    every vector its own codeword, ADC is the exact squared L2."""
    vecs = np.random.RandomState(4).randn(3, 8) * 0.2
    qv = lattice.quantize(_mk(spark, vecs))
    books = lattice.lattice_pq_train(qv, m=2, n_codes=16, iters=2)
    rows = books.collect()
    assert len(rows) == 6
    assert {(r["s"], r["code_id"]) for r in rows} == {
        (s, c) for s in range(2) for c in range(3)
    }
    out = lattice.lattice_pq_search(qv, qv, books, k=2, m=2).collect()
    assert len(out) == 6  # 3 queries x 2 other vectors
    X = _quantize_np(np.array(vecs, dtype=np.float32).astype(np.float64))
    for r in out:
        assert r["adist"] == int(((X[r["q_id"]] - X[r["c_id"]]) ** 2).sum())


def test_lattice_pq_books_shape_and_adc_exact(spark):
    rng = np.random.RandomState(3)
    df = _mk(spark, rng.randn(40, 8) * 0.2)
    qv = lattice.quantize(df)
    books = lattice.lattice_pq_train(qv, m=2, n_codes=4, iters=2)
    rows = books.collect()
    assert len(rows) == 8  # m * n_codes
    bks = {(r["s"], r["code_id"]): np.array(r["w"], dtype=np.int64) for r in rows}
    out = lattice.lattice_pq_search(
        qv.where(F.col("vid") < 2), qv, books, k=3, m=2
    ).collect()
    # replicate encode + ADC in numpy: distances must be bit-identical
    X = {r["vid"]: np.array(r["qv"], dtype=np.int64) for r in qv.collect()}
    for r in out:
        q, c = X[r["q_id"]], X[r["c_id"]]
        adist = 0
        for s in range(2):
            xs, qs = c[s * 4 : (s + 1) * 4], q[s * 4 : (s + 1) * 4]
            code = min(
                range(4), key=lambda j: (int(((xs - bks[(s, j)]) ** 2).sum()), j)
            )
            adist += int(((qs - bks[(s, code)]) ** 2).sum())
        assert adist == r["adist"]


def test_lattice_semantic_dedup_matches_float_cosine(spark, sf_dir):
    emb = load(spark, sf_dir, "embeddings").limit(150)
    qv = lattice.quantize(emb)
    cents = lattice.lattice_kmeans(qv, k=4, iters=1)
    out = {
        r["vec_id"]: r["is_dup"]
        for r in lattice.lattice_semantic_dedup(
            qv, cents, tau_num=2, tau_den=5
        ).collect()
    }
    assert len(out) == 150
    # the integer predicate IS cos >= 0.4 on the quantized vectors:
    # verify against float cosine computed from the same lattice points
    rows = qv.collect()
    X = {r["vid"]: np.array(r["qv"], dtype=np.float64) for r in rows}
    cent_rows = cents.collect()
    C = np.stack([np.array(r["cv"], dtype=np.float64) for r in cent_rows])
    cell = {
        vid: int(np.argmin(((v - C) ** 2).sum(axis=1)))
        for vid, v in X.items()
    }
    for vid, v in X.items():
        nb = [
            u
            for u, w in X.items()
            if u < vid
            and cell[u] == cell[vid]
            and np.linalg.norm(w) > 0
            and np.linalg.norm(v) > 0
            and float(w @ v) / (np.linalg.norm(w) * np.linalg.norm(v))
            >= 0.4 - 1e-12
        ]
        # strictly-above-threshold expectation; boundary-exact pairs
        # (rational cosine == 2/5) would need the integer predicate,
        # which is the point — none exist in the gaussian fixture
        assert out[vid] == bool(nb), vid


def test_lattice_domain_guard(spark):
    df = spark.createDataFrame(
        [(0, [4.0e6])], "vec_id long, embedding array<float>"
    )
    qv = lattice.quantize(df, scale=1000)
    with pytest.raises(Exception, match="exact-arithmetic domain"):
        lattice.lattice_kmeans(qv, k=1, iters=1)


def test_lattice_domain_guard_is_dim_aware(spark):
    """ADVICE r6: at dim=1024 a flat |q| bound of 3e6 admitted
    dim*q^2 > 2^53. |q| = 2e6 passed the old guard; the dim-aware
    guard must reject it (1024 * (2e6)^2 = 4.1e15 > 2^51)."""
    df = spark.createDataFrame(
        [(0, [2000.0] * 1024)], "vec_id long, embedding array<float>"
    )
    qv = lattice.quantize(df, scale=1000)
    with pytest.raises(Exception, match="exact-arithmetic domain"):
        lattice.lattice_kmeans(qv, k=1, iters=1)
    # and the same magnitude at dim=1 is fine (1 * 4e12 < 2^51)
    small = lattice.quantize(
        spark.createDataFrame(
            [(0, [2000.0]), (1, [-2000.0])],
            "vec_id long, embedding array<float>",
        ),
        scale=1000,
    )
    assert lattice.lattice_kmeans(small, k=1, iters=1).count() == 1


def test_lattice_semantic_dedup_exact_beyond_int64(spark):
    """ADVICE r6: den2*dot^2 silently wrapped int64 in numpy for
    magnitudes the BLAS guard accepts (dot up to 2^51). With
    |q| = 3e7 at dim=2 (dim*q^2 = 1.8e15 < 2^51, so the BLAS path
    is legal) den2*dot^2 ~ 8e31 >> 2^63: the predicate must switch
    to exact Python-int arithmetic and still classify correctly."""
    q = 30_000_000
    qv = spark.createDataFrame(
        [
            (0, [q, 0]),  # anchor
            (1, [q, 1]),  # cos ~ 1 vs id 0 -> dup
            (2, [0, -q]),  # orthogonal/negative vs both -> not dup
        ],
        "vid long, qv array<long>",
    )
    cents = spark.createDataFrame(
        [(0, [0, 0])], "cent_id int, cv array<long>"
    )
    out = {
        r["vec_id"]: r["is_dup"]
        for r in lattice.lattice_semantic_dedup(
            qv, cents, tau_num=2, tau_den=5
        ).collect()
    }
    # exact expectation computed in unbounded Python ints
    def cos_ge(a, b, num, den):
        dot = sum(x * y for x, y in zip(a, b))
        na = sum(x * x for x in a)
        nb = sum(x * x for x in b)
        return dot > 0 and den * den * dot * dot >= num * num * na * nb

    assert out == {
        0: False,
        1: cos_ge([q, 0], [q, 1], 2, 5),
        2: cos_ge([q, 0], [0, -q], 2, 5) or cos_ge([q, 1], [0, -q], 2, 5),
    }
    assert out[1] is True and out[2] is False


def test_lattice_semantic_dedup_incremental_statuses(spark):
    """Frozen-codebook incremental SemDeDup classifies all three
    statuses, never re-scores the base, and matches the min-id keeper
    rule inside the batch."""
    # two well-separated directions; codebook trained on base only
    base = spark.createDataFrame(
        [(1, [1000, 0]), (2, [0, 1000])], "vid long, qv array<long>"
    )
    new = spark.createDataFrame(
        [
            (3, [990, 10]),   # cos vs base id1 ~ 1      -> dup_corpus
            (6, [-5, 980]),   # cos vs base id2 ~ 1      -> dup_corpus
            (9, [707, 707]),  # diagonal: cos = .707 vs both -> dup_corpus
            (12, [-1000, 1]), # opposite to everything    -> new
            (15, [-999, 2]),  # ~ id12 (cos ~1), id12 < 15 -> dup_batch
        ],
        "vid long, qv array<long>",
    )
    cents = spark.createDataFrame(
        [(0, [1000, 0]), (1, [0, 1000])], "cent_id int, cv array<long>"
    )
    out = {
        r["vec_id"]: r["status"]
        for r in lattice.lattice_semantic_dedup_incremental(
            base, new, cents, tau_num=2, tau_den=5
        ).collect()
    }
    assert out == {
        3: "dup_corpus",
        6: "dup_corpus",
        9: "dup_corpus",
        12: "new",
        15: "dup_batch",
    }
    # base rows are never emitted
    assert set(out) == {3, 6, 9, 12, 15}


def test_lattice_kmeans_recovers_planted_clusters(spark):
    # three orthogonal cluster directions + small deterministic jitter:
    # Lloyd's must put each planted group in one cell and the trained
    # centroid must align with the group's direction
    rows = []
    for g in range(3):
        for i in range(20):
            base = [0.0] * 64
            base[g * 20] = 1.0
            base[(g * 20 + 1 + i) % 64] += 0.05 + 0.001 * i
            rows.append((g * 100 + i, base))
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = lattice.lattice_kmeans(lattice.quantize(vecs), k=3, iters=3).collect()
    spikes = sorted(max(range(64), key=lambda i: r["cv"][i]) for r in cents)
    assert spikes == [0, 20, 40]


def test_lattice_pq_train_reduces_mse(spark):
    """Trained per-subspace books cut the corpus quantization MSE (the
    k-means objective the ADC error is made of) to at most 0.9x the
    first-16 books, and a second training run gives the same books."""
    emb = spark.read.parquet(f"{SF_MED}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    rows = sorted(emb.collect(), key=lambda r: r["vec_id"])
    X = _quantize_np(
        np.array([r["embedding"] for r in rows], dtype=np.float32).astype(
            np.float64
        )
    )
    m, n_codes = 4, 16
    sub = X.shape[1] // m

    def mse(books):
        tot = 0
        for s in range(m):
            xs = X[:, s * sub : (s + 1) * sub]
            d2 = ((xs[:, None, :] - books[s][None, :, :]) ** 2).sum(axis=2)
            tot += d2.min(axis=1).sum()
        return tot / len(X)

    def train():
        qv = lattice.quantize(emb)
        out = lattice.lattice_pq_train(qv, m=m, n_codes=n_codes, iters=2)
        got = sorted(out.collect(), key=lambda r: (r["s"], r["code_id"]))
        return np.array([r["w"] for r in got]).reshape(m, n_codes, sub)

    first_n = np.stack([X[:n_codes, s * sub : (s + 1) * sub] for s in range(m)])
    trained = train()
    assert mse(trained) <= mse(first_n) * 0.9  # measured 0.70x
    assert np.array_equal(trained, train())


def test_lattice_semantic_dedup_flags_exact_clones(spark):
    """Under a trained codebook, an exact clone lands in its
    original's cell (identical vectors share an argmin) and is flagged
    at tau = 99/100, while no original is flagged."""
    emb = (
        spark.read.parquet(f"{SF_MED}/embeddings.parquet")
        .where(F.col("vec_id") < 150)
        .select("vec_id", "embedding")
    )
    clones = emb.select((F.col("vec_id") + 1000).alias("vec_id"), "embedding")
    qv = lattice.quantize(emb.unionByName(clones))
    cents = lattice.lattice_kmeans(qv, k=12, iters=2)
    out = lattice.lattice_semantic_dedup(qv, cents, tau_num=99, tau_den=100)
    rows = {r["vec_id"]: (r["cell"], r["is_dup"]) for r in out.collect()}
    assert len(rows) == 300
    for vid in range(150):
        assert rows[vid][0] == rows[vid + 1000][0]
        assert rows[vid + 1000][1]
    assert not any(rows[v][1] for v in range(150))
