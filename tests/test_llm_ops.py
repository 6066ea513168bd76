"""LLM-operator semantics tests: LSH recall vs exact twins, simhash
properties, multimodal plumbing (SURVEY §7 M6)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from fhir2sql_spark.operators import dedup, multimodal, similarity
from fhir2sql_spark.tables import load


def test_minhash_lsh_recall_vs_exact(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    exact = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.jaccard_pairs(docs, 4, 5).collect()
    }
    sigs = dedup.minhash_signatures(docs, num_hashes=32, seed=42)
    cands = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.lsh_candidate_pairs(sigs, bands=8, rows_per_band=4).collect()
    }
    if exact:
        recall = len(exact & cands) / len(exact)
        # jac>=0.8 pairs collide in >=1 of 8 bands w.p. ~1-(1-0.8^4)^8 ≈ 0.985
        assert recall >= 0.75, f"LSH recall {recall} too low; {exact - cands}"


def test_token_windows_positions_and_counts(spark):
    """token_windows: a doc with n tokens emits exactly n-w+1 windows
    at contiguous 0-based positions; shorter docs emit none."""
    docs = spark.createDataFrame(
        [(1, "a b c d e"), (2, "x y"), (3, "p q r")],
        ["doc_id", "text"],
    )
    rows = dedup.token_windows(docs, w=3).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append((r["pos"], r["window"]))
    assert sorted(by_doc[1]) == [(0, "a b c"), (1, "b c d"), (2, "c d e")]
    assert 2 not in by_doc  # 2 tokens < w
    assert sorted(by_doc[3]) == [(0, "p q r")]


def test_substring_spans_are_maximal_dup_islands(spark, sf_dir):
    """Every q_dedup_substring span covers exactly the consecutive
    duplicated window positions: n_windows == span_len_tokens - 7
    (consecutive run), spans within a doc never touch or overlap
    (maximality), and every covered position's window really has
    corpus multiplicity > 1."""
    from fhir2sql_spark import registry

    registry.load_all()
    spans = registry.QUERIES["q_dedup_substring"](spark, sf_dir).collect()
    assert spans
    by_doc = {}
    for r in spans:
        assert r["n_windows"] == r["span_len_tokens"] - 7
        by_doc.setdefault(r["doc_id"], []).append(
            (r["span_start"], r["span_start"] + r["n_windows"] - 1)
        )
    for doc, ivals in by_doc.items():
        ivals.sort()
        for (s1, e1), (s2, e2) in zip(ivals, ivals[1:]):
            assert s2 > e1 + 1, f"doc {doc}: spans {ivals} not maximal"
    # spot-verify multiplicity for the duplicated positions of one doc
    docs = load(spark, sf_dir, "documents")
    win = dedup.token_windows(docs, w=8)
    from collections import Counter

    counts = Counter(r["window"] for r in win.collect())
    doc = spans[0]["doc_id"]
    pos_in_span = {
        p
        for r in spans
        if r["doc_id"] == doc
        for p in range(r["span_start"], r["span_start"] + r["n_windows"])
    }
    for r in win.where(F.col("doc_id") == doc).collect():
        assert (counts[r["window"]] > 1) == (r["pos"] in pos_in_span)


def test_substring_hashed_equals_raw(spark, sf_dir):
    """The xxhash64-keyed scale form must emit the identical span set
    as the raw-string form (no hash collision on the fixture) — the
    property that lets q_dedup_substring_hashed share the exact
    oracle."""
    docs = load(spark, sf_dir, "documents")
    raw = {tuple(r) for r in dedup.dup_window_spans(docs, hashed=False).collect()}
    hashed = {tuple(r) for r in dedup.dup_window_spans(docs, hashed=True).collect()}
    assert raw == hashed
    assert raw


def test_substring_cut_invariants(spark, sf_dir):
    """q_dedup_substring_cut: every doc emits exactly one row; n_cut
    equals the doc's span-covered position count (spans never overlap
    — islands are maximal — so the sum of span lengths IS the union);
    untouched docs round-trip their text verbatim."""
    from fhir2sql_spark import registry

    registry.load_all()
    spans = registry.QUERIES["q_dedup_substring"](spark, sf_dir).collect()
    cut = registry.QUERIES["q_dedup_substring_cut"](spark, sf_dir).collect()
    docs = {r["doc_id"]: r["text"] for r in load(spark, sf_dir, "documents").collect()}
    assert {r["doc_id"] for r in cut} == set(docs)
    covered = {}
    for s in spans:
        covered[s["doc_id"]] = covered.get(s["doc_id"], 0) + s["span_len_tokens"]
    for r in cut:
        assert r["n_cut"] == covered.get(r["doc_id"], 0), r["doc_id"]
        if r["n_cut"] == 0:
            assert r["clean_text"] == " ".join(docs[r["doc_id"]].split(" "))
        else:
            assert len(r["clean_text"].split(" ")) <= r["n_tokens"] - r["n_cut"] + 1


def test_minhash_signature_deterministic(spark, sf_dir):
    docs = load(spark, sf_dir, "documents").limit(20)
    s1 = dedup.minhash_signatures(docs, num_hashes=8, seed=42).collect()
    s2 = dedup.minhash_signatures(docs, num_hashes=8, seed=42).collect()
    assert {r["doc_id"]: r["signature"] for r in s1} == {
        r["doc_id"]: r["signature"] for r in s2
    }
    s3 = dedup.minhash_signatures(docs, num_hashes=8, seed=7).collect()
    assert {r["doc_id"]: r["signature"] for r in s1} != {
        r["doc_id"]: r["signature"] for r in s3
    }


@pytest.mark.slow
def test_simhash_near_duplicates_close(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog again and again", "en"),
        (2, "the quick brown fox jumps over the lazy dog again and once", "en"),
        (3, "completely unrelated text about spark shuffle partitions here", "en"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    sh = {r["doc_id"]: r["simhash"] for r in dedup.simhash(docs).collect()}
    near = bin(sh[1] ^ sh[2]).count("1")
    far = bin(sh[1] ^ sh[3]).count("1")
    assert near < far


def test_ann_recall_vs_exact_topk(spark, sf_dir):
    emb = load(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 10)
    exact = {
        (r["q_id"], r["c_id"])
        for r in similarity.cosine_topk(q, emb, k=5).collect()
    }
    approx = {
        (r["q_id"], r["c_id"])
        for r in similarity.ann_topk_lsh(q, emb, k=5, n_planes=8, seed=42).collect()
    }
    # random gaussian embeddings have weak locality; the contract here
    # is shape + nonempty overlap, the recall/speed tradeoff is tunable
    # via n_planes
    assert approx, "ANN returned nothing"
    assert len(exact & approx) > 0


def test_ivf_trained_recall_not_worse_than_stand_in(spark, sf_dir):
    """The lattice-trained IVF codebook keeps a usable share of the
    exact L2 top-k at n_probe=4/16, and its largest cell is no larger
    than the first-N stand-in's (the sf10 study showed the stand-in's
    cells bloating with N)."""
    from fhir2sql_spark.operators import lattice
    from tools.ann_quality import _exact_l2_topk

    emb = load(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 10)
    exact = {(r["q_id"], r["c_id"]) for r in _exact_l2_topk(q, emb, 5).collect()}
    qv = lattice.quantize(emb)
    cents = lattice.lattice_kmeans(qv, k=16, iters=2)
    trained = {
        (r["q_id"], r["c_id"])
        for r in lattice.lattice_ivf_topk(
            lattice.quantize(q), qv, cents, k=5, n_probe=4
        ).collect()
    }
    assert trained, "trained IVF returned nothing"
    # deterministic on the fixture (measured 0.56)
    assert len(exact & trained) / len(exact) >= 0.5

    def max_cell(codebook):
        cells = lattice.lattice_assign(qv, codebook).groupBy("cell").count()
        return cells.agg(F.max("count")).collect()[0][0]

    stand_in = qv.orderBy("vid").limit(16).select(
        F.col("vid").cast("int").alias("cent_id"), F.col("qv").alias("cv")
    )
    # measured 41 (trained) vs 42 (stand-in) on 500 vectors
    assert max_cell(cents) <= max_cell(stand_in), (
        "trained codebook should not have a more bloated max cell than "
        "the first-N stand-in"
    )


def test_multimodal_decode_plumbing(spark):
    blobs = multimodal.synth_blobs(spark, n=50)
    decoded = multimodal.decode_metadata(blobs)
    rows = decoded.collect()
    assert len(rows) == 50
    by_id = {r["blob_id"]: r for r in rows}
    # images get dimensions, non-images don't
    assert all(
        (r["mime_type"].startswith("image/")) == (r["width"] is not None)
        for r in rows
    )
    # deterministic: checksum reproducible across runs
    rows2 = {r["blob_id"]: r["checksum"] for r in multimodal.decode_metadata(blobs).collect()}
    assert all(by_id[i]["checksum"] == c for i, c in rows2.items())
    # payload sizes in the declared 64..4096+64 envelope
    assert all(64 <= r["n_bytes"] <= 4097 for r in rows)


def test_frame_sample_shape(spark):
    blobs = multimodal.synth_blobs(spark, n=10)
    frames = multimodal.frame_sample(blobs, every_n_bytes=256)
    agg = frames.groupBy("blob_id").agg(F.count(F.lit(1)).alias("n")).collect()
    sizes = {r["blob_id"]: r["n"] for r in agg}
    lens = {r["blob_id"]: r["n_bytes"] for r in multimodal.decode_metadata(blobs).collect()}
    for bid, n in sizes.items():
        assert n == lens[bid] // 256 + 1


def test_frame_sample_contents_reassemble(spark):
    """Frames are the actual stride windows (round-1 advisor finding:
    a literal substring start emitted the first window for every
    frame): concatenating frames in frame_no order must reproduce the
    original blob byte-for-byte, and consecutive frames must differ."""
    import hashlib

    def chained(seed: bytes, n: int) -> bytes:
        out = b""
        h = seed
        while len(out) < n:
            h = hashlib.sha256(h).digest()
            out += h
        return out[:n]

    originals = {i: chained(bytes([i]), 300 + 256 * i) for i in range(4)}
    blobs = spark.createDataFrame(
        [(i, bytearray(c)) for i, c in originals.items()],
        "blob_id long, content binary",
    )
    rows = multimodal.frame_sample(blobs, every_n_bytes=256).collect()
    by_blob: dict[int, dict[int, bytes]] = {}
    for r in rows:
        by_blob.setdefault(r["blob_id"], {})[r["frame_no"]] = bytes(r["frame_bytes"])
    for bid, frames in by_blob.items():
        joined = b"".join(frames[i] for i in sorted(frames))
        assert joined == originals[bid]
        if len(frames) > 2:
            assert frames[0] != frames[1]


def test_bulk_near_pairs_equals_exact(spark, sf_dir):
    emb = load(spark, sf_dir, "embeddings")
    exact = {
        (r["id_a"], r["id_b"])
        for r in similarity.cosine_near_pairs(emb, threshold=0.45).collect()
    }
    bulk = {
        (r["id_a"], r["id_b"])
        for r in similarity.cosine_near_pairs_bulk(emb, threshold=0.45).collect()
    }
    assert bulk == exact


def test_bulk_rounded_values_equal_exact_fold(spark, sf_dir):
    """The property q_dedup_embed_bulk's exact oracle rests on: after
    the 4-dp output rounding, the float32 BLAS values are IDENTICAL to
    the float64 fold's on this fixture — no pair sits within float32
    noise of the threshold or a rounding boundary."""
    emb = load(spark, sf_dir, "embeddings")
    exact = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in similarity.cosine_near_pairs(emb, threshold=0.45).collect()
    }
    bulk = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in similarity.cosine_near_pairs_bulk(emb, threshold=0.45).collect()
    }
    assert bulk == exact  # keys AND 4-dp values


def test_approx_count_distinct_tolerance(spark, sf_dir):
    from fhir2sql_spark import registry

    registry.load_all()
    row = registry.QUERIES["q_agg_approx"](spark, sf_dir).collect()[0]
    assert row["exact_custs"] > 0
    assert row["within_tol"] is True, row


def test_connected_components_known_graph(spark):
    from fhir2sql_spark.operators.components import connected_components

    # chain 1-2-3-4 (tests multi-round propagation), triangle 10-11-12,
    # disjoint pair 20-21
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)],
        "src long, dst long",
    )
    got = {
        r["node"]: r["component_id"]
        for r in connected_components(edges, max_rounds=10).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_approx_percentile_tolerance(spark, sf_dir):
    """Tighter (2%) bound on the GK sketch than the query's oracled 5%
    flags, on a fixed single-plan run. The registered query no longer
    exposes raw approx values (they are task-merge-order-dependent, so
    only the tolerance FLAGS are hash-oracled — r6 graduation); this
    test recomputes them directly to keep the tight bound pinned."""
    from fhir2sql_spark.tables import load

    agg = (
        load(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.expr(
                "approx_percentile(o_totalprice,"
                " array(0.25D, 0.5D, 0.75D), 1000)"
            ).alias("a"),
            F.expr(
                "percentile(o_totalprice, array(0.25D, 0.5D, 0.75D))"
            ).alias("e"),
        )
    )
    rows = agg.collect()
    assert rows
    for r in rows:
        for i in range(3):
            a, e = r["a"][i], r["e"][i]
            assert abs(a - e) <= 0.02 * abs(e), (r["o_orderpriority"], a, e)

    # and the registered query's flags are all TRUE with exact quartiles
    from fhir2sql_spark import registry

    registry.load_all()
    out = registry.QUERIES["q_agg_approx_percentile"](spark, sf_dir).collect()
    assert out
    for r in out:
        assert r["p25_within_tol"] and r["p50_within_tol"] and r["p75_within_tol"]


def test_resize_images_contract(spark):
    blobs = multimodal.synth_blobs(spark, n=40)
    resized = multimodal.resize_images(blobs, target_w=8, target_h=8).collect()
    n_images = blobs.where(F.col("mime_type").startswith("image/")).count()
    assert len(resized) == n_images > 0
    for r in resized:
        assert (r["width"], r["height"]) == (8, 8)
        assert len(r["content"]) == 64
    # deterministic: same input -> same bytes
    again = {r["blob_id"]: bytes(r["content"]) for r in
             multimodal.resize_images(blobs, target_w=8, target_h=8).collect()}
    assert {r["blob_id"]: bytes(r["content"]) for r in resized} == again


@pytest.mark.slow
def test_connected_components_matches_union_find(spark):
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from fhir2sql_spark.operators.components import connected_components

    edge = st.tuples(
        st.integers(min_value=0, max_value=30),
        st.integers(min_value=0, max_value=30),
    )

    def union_find(edges):
        parent: dict[int, int] = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        return {n: find(n) for n in parent}

    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(edges=st.lists(edge, min_size=1, max_size=25))
    def inner(edges):
        df = spark.createDataFrame(edges, "src long, dst long")
        got = {
            r["node"]: r["component_id"]
            for r in connected_components(df, max_rounds=40).collect()
        }
        assert got == union_find(edges)

    inner()


def test_bulk_cosine_pairs_match_exact_fold(spark):
    """The numpy bulk path must find the SAME near-dup pairs as the
    exact sequential-fold form; only last-ulp cosine values may
    differ (threshold knife-edges are absent from the fixture)."""
    from fhir2sql_spark.operators import similarity
    from fhir2sql_spark.tables import load

    emb = load(spark, "/root/testdata/sf0.001", "embeddings")
    exact = {
        (r.id_a, r.id_b): r.cosine
        for r in similarity.cosine_near_pairs(emb, threshold=0.45).collect()
    }
    bulk = {
        (r.id_a, r.id_b): r.cosine
        for r in similarity.cosine_near_pairs_bulk(emb, threshold=0.45).collect()
    }
    assert set(exact) == set(bulk)
    for k in exact:
        assert abs(exact[k] - bulk[k]) <= 1e-4


def test_bulk_guard_rejects_oversized_corpus(spark):
    """VERDICT r2: the broadcast-matrix path must fail fast instead of
    collecting an oversized corpus onto the driver."""
    import pytest as _pytest

    from fhir2sql_spark.operators import similarity
    from fhir2sql_spark.tables import load

    emb = load(spark, "/root/testdata/sf0.001", "embeddings")
    with _pytest.raises(ValueError, match="max_broadcast_rows"):
        similarity.cosine_near_pairs_bulk(
            emb, threshold=0.45, max_broadcast_rows=10
        )


def test_bucketed_bulk_matches_exact_on_near_dup_corpus(spark):
    """The LSH-bucketed per-bucket-matmul composition must find the
    SAME pair set as the exact all-pairs fold on a corpus in the
    near-duplicate regime (planted clones at cosine ~0.999; the
    operator's documented domain is cosine >= ~0.95)."""
    import numpy as np

    from fhir2sql_spark.operators import similarity

    rng = np.random.default_rng(7)
    base = rng.normal(size=(60, 64))
    noisy = base[:30] + 0.02 * rng.normal(size=(30, 64))  # cosine ~0.9998
    rows = [
        (i, [float(x) for x in v])
        for i, v in enumerate(np.vstack([base, noisy]))
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    exact = {
        (r.id_a, r.id_b)
        for r in similarity.cosine_near_pairs(df, threshold=0.98).collect()
    }
    assert len(exact) == 30  # every planted clone pair, nothing else
    bucketed = {
        (r.id_a, r.id_b)
        for r in similarity.cosine_near_pairs_bucketed_bulk(
            df, threshold=0.98, n_planes=6, n_tables=8
        ).collect()
    }
    assert bucketed == exact


def test_lang_id_tie_breaks_to_smallest_code(spark):
    # 'la' is in the es, fr AND it lexicons; 'the'+'der' ties en/de.
    # Ties must resolve to the lexicographically smallest code — the
    # same rule as the q_text_langid oracle's cascading CASE.
    from fhir2sql_spark.operators import text as text_ops

    df = spark.createDataFrame(
        [(1, "la la words"), (2, "the der"), (3, "zz qq")],
        "id long, text string",
    )
    got = {
        r["id"]: r["pred"]
        for r in df.select(
            "id", text_ops.lang_id(F.col("text")).alias("pred")
        ).collect()
    }
    assert got == {1: "es", 2: "de", 3: "und"}


def test_heavy_hitters_equal_naive_on_random_corpora(spark):
    # the pigeonhole candidate bar is the subtle part: verify the
    # two-phase operator equals the naive groupBy-HAVING on skewed
    # synthetic corpora across partition counts and thresholds
    import random

    from fhir2sql_spark.operators.text import exact_heavy_hitters

    rng = random.Random(7)
    vocab = [f"t{i}" for i in range(50)]
    # zipf-ish skew: token t_i drawn with weight 1/(i+1)
    weights = [1.0 / (i + 1) for i in range(len(vocab))]
    rows = [(rng.choices(vocab, weights)[0],) for _ in range(5000)]
    for parts in (1, 7):
        toks = spark.createDataFrame(rows, "token string").repartition(parts)
        for threshold in (1, 10, 120):
            got = {
                (r["token"], r["n"])
                for r in exact_heavy_hitters(toks, threshold).collect()
            }
            naive = {
                (r["token"], r["n"])
                for r in toks.groupBy("token")
                .agg(F.count(F.lit(1)).alias("n"))
                .where(F.col("n") >= threshold)
                .collect()
            }
            assert got == naive, (parts, threshold)

