"""Round-5 final-stretch additions: edge Jaccard, product
quantization, multi-column distributed prefix sum, and the vocab
statistics queries (BPE pairs / Zipf / Heaps growth / winsorize).

Each operator gets a brute-force or independent-formulation parity
check; the registered queries' value-level correctness is covered by
the DuckDB oracles (tools/drivercheck.py)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from tests.conftest import SF_MED


def _edges(spark, pairs):
    return spark.createDataFrame(
        [Row(src=a, dst=b) for a, b in pairs], "src long, dst long"
    )


# --------------------------------------------------------- edge jaccard


def test_edge_jaccard_known_graph(spark):
    """K4 minus one edge: hand-checked common counts and ratios."""
    from fhir2sql_spark.operators.triangles import edge_jaccard

    # nodes 1..4, edges: 12 13 14 23 24 (missing 34)
    pairs = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4)]
    out = {
        (r["src"], r["dst"]): (r["common"], r["jaccard"])
        for r in edge_jaccard(_edges(spark, pairs)).collect()
    }
    assert len(out) == 5
    # deg: 1->3, 2->3, 3->2, 4->2
    # edge (1,2): common {3,4} = 2, union 3+3-2=4
    assert out[(1, 2)] == (2, 0.5)
    # edge (1,3): common {2} = 1, union 3+2-1=4
    assert out[(1, 3)] == (1, 0.25)
    assert out[(2, 4)] == (1, 0.25)


def test_edge_jaccard_property_random_graphs(spark):
    """Hypothesis: operator == brute force over random graphs,
    including zero-common edges (left-join path)."""
    import itertools

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from fhir2sql_spark.operators.triangles import edge_jaccard

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
            min_size=1,
            max_size=25,
        )
    )
    def run(edges):
        und = sorted({(min(a, b), max(a, b)) for a, b in edges})
        got = {
            (r["src"], r["dst"]): (r["common"], round(r["jaccard"], 9))
            for r in edge_jaccard(_edges(spark, und)).collect()
        }
        nbr = {}
        for a, b in und:
            nbr.setdefault(a, set()).add(b)
            nbr.setdefault(b, set()).add(a)
        want = {}
        for a, b in und:
            c = len(nbr[a] & nbr[b])
            want[(a, b)] = (
                c,
                round(c / (len(nbr[a]) + len(nbr[b]) - c), 9),
            )
        assert got == want

    run()


# ------------------------------------------------------------------ pq


def _pq_bruteforce(q_ids, qm, ids, X, m, n_codes, k, cb):
    """Reference PQ/ADC in plain numpy."""
    dim = X.shape[1]
    sub = dim // m
    out = {}
    codes = np.empty((len(ids), m), dtype=np.int64)
    for s in range(m):
        xs = X[:, s * sub : (s + 1) * sub]
        cs = cb[:, s * sub : (s + 1) * sub]
        d2 = ((xs[:, None, :] - cs[None, :, :]) ** 2).sum(axis=2)
        codes[:, s] = d2.argmin(axis=1)
    for qi, qid in enumerate(q_ids):
        dists = []
        for i, cid in enumerate(ids):
            if cid == qid:
                continue
            d = 0.0
            for s in range(m):
                qs = qm[qi, s * sub : (s + 1) * sub]
                cw = cb[codes[i, s], s * sub : (s + 1) * sub]
                d += ((qs - cw) ** 2).sum()
            dists.append((d, cid))
        dists.sort()
        out[qid] = [cid for _, cid in dists[:k]]
    return out


def test_pq_search_matches_bruteforce(spark):
    """Operator top-k ids == the plain-numpy PQ/ADC reference on the
    fixture slice (same codebook convention: first 16 by id)."""
    from fhir2sql_spark.operators.pq import pq_search

    emb = (
        spark.read.parquet(f"{SF_MED}/embeddings.parquet")
        .where(F.col("vec_id") < 120)
        .select("vec_id", "embedding")
    )
    rows = sorted(emb.collect(), key=lambda r: r["vec_id"])
    ids = np.array([r["vec_id"] for r in rows], dtype=np.int64)
    X = np.array([r["embedding"] for r in rows], dtype=np.float64)
    cb = X[:16]
    q_ids = ids[:3]
    want = _pq_bruteforce(q_ids, X[:3], ids, X, 4, 16, 5, cb)

    out = pq_search(
        emb.where(F.col("vec_id") < 3), emb, k=5, m=4, n_codes=16
    ).collect()
    got = {}
    for r in sorted(out, key=lambda r: (r["q_id"], r["rn"])):
        got.setdefault(r["q_id"], []).append(r["c_id"])
    assert got == {int(q): v for q, v in want.items()}


def test_pq_clone_of_codeword_is_exact_zero(spark):
    """A clone of a codebook vector quantizes losslessly: every
    subspace code reconstructs it exactly, so a query equal to that
    vector sees adist ~ 0 at rank 1 (the |x|^2 - 2<x,c> + |c|^2
    expansion leaves ~1e-16 of cancellation noise, not an exact
    zero — the same noise the 4-dp query rounding absorbs)."""
    from fhir2sql_spark.operators.pq import pq_search

    emb = (
        spark.read.parquet(f"{SF_MED}/embeddings.parquet")
        .where(F.col("vec_id") < 100)
        .select("vec_id", "embedding")
    )
    # vec 7 is inside the first-16 codebook; plant a clone at 5007
    clone = emb.where(F.col("vec_id") == 7).select(
        (F.col("vec_id") + 5000).alias("vec_id"), "embedding"
    )
    corpus = emb.unionByName(clone)
    out = pq_search(
        corpus.where(F.col("vec_id") == 7), corpus, k=3, m=4, n_codes=16
    ).collect()
    best = next(r for r in out if r["rn"] == 1)
    assert best["c_id"] == 5007
    assert abs(best["adist"]) < 1e-12


def test_pq_empty_inputs(spark):
    from fhir2sql_spark.operators.pq import pq_search

    emb = spark.createDataFrame([], "vec_id long, embedding array<float>")
    out = pq_search(emb, emb, k=3)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == [
        "q_id", "c_id", "adist", "rn",
    ]


def test_pq_dim_not_divisible_raises(spark):
    from fhir2sql_spark.operators.pq import pq_search

    emb = spark.createDataFrame(
        [Row(vec_id=i, embedding=[float(i), 1.0, 2.0]) for i in range(4)]
    )
    with pytest.raises(ValueError, match="not divisible"):
        pq_search(emb, emb, k=2, m=2, n_codes=2)


# ------------------------------------------------- multi-col prefix sum


def test_distributed_prefix_sum_multicol(spark):
    """Multi-column call == pandas cumsum, and == two single-column
    calls, across partition boundaries."""
    from fhir2sql_spark.operators.packing import distributed_prefix_sum

    rows = [Row(k=i, a=(i * 7) % 13, b=(i * 3) % 5) for i in range(200)]
    df = spark.createDataFrame(rows)
    out = (
        distributed_prefix_sum(
            df, [F.col("k")], ["a", "b"], out_col=["ca", "cb"], n_parts=8
        )
        .orderBy("k")
        .collect()
    )
    ca = cb = 0
    for i, r in enumerate(out):
        ca += (i * 7) % 13
        cb += (i * 3) % 5
        assert (r["ca"], r["cb"]) == (ca, cb), i


def test_distributed_prefix_sum_col_count_mismatch(spark):
    from fhir2sql_spark.operators.packing import distributed_prefix_sum

    df = spark.createDataFrame([Row(k=1, a=1)])
    with pytest.raises(ValueError, match="value cols"):
        distributed_prefix_sum(df, [F.col("k")], ["a"], out_col=["x", "y"])


# -------------------------------------------------------- vocab queries


def test_bpe_pairs_bruteforce(spark):
    """Registered BPE query == python Counter on the same fixture."""
    from collections import Counter

    import duckdb

    from fhir2sql_spark.registry import QUERIES, load_all

    load_all()
    docs = duckdb.sql(
        f"SELECT text FROM read_parquet('{SF_MED}/documents.parquet')"
    ).fetchall()
    cnt = Counter()
    for (text,) in docs:
        for w in text.split(" "):
            if len(w) >= 2:
                for i in range(len(w) - 1):
                    cnt[w[i : i + 2]] += 1
    want = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[:20]

    got = [
        (r["pair"], r["cnt"])
        for r in QUERIES["q_bpe_pairs"](spark, SF_MED).collect()
    ]
    assert got == want


def test_vocab_growth_monotone_and_final_totals(spark):
    """Growth curve is non-decreasing and the last sampled point's
    vocab equals the distinct-word count up to that doc."""
    import duckdb

    from fhir2sql_spark.registry import QUERIES, load_all

    load_all()
    rows = sorted(
        QUERIES["q_vocab_growth"](spark, SF_MED).collect(),
        key=lambda r: r["doc_id"],
    )
    assert rows, "sampled curve must be non-empty"
    last_tok = last_voc = 0
    for r in rows:
        assert r["cum_tokens"] >= last_tok
        assert r["cum_vocab"] >= last_voc
        last_tok, last_voc = r["cum_tokens"], r["cum_vocab"]
    top = rows[-1]["doc_id"]
    want = duckdb.sql(
        f"""SELECT COUNT(DISTINCT w) FROM (
              SELECT unnest(string_split(text, ' ')) AS w
              FROM read_parquet('{SF_MED}/documents.parquet')
              WHERE doc_id <= {top}) t WHERE w <> ''"""
    ).fetchone()[0]
    assert rows[-1]["cum_vocab"] == want


def test_winsorize_bounds_and_standardization(spark):
    """Clipped scores stay inside [p05, p95] per language and each
    language's z-scores have ~zero mean / unit variance."""
    from fhir2sql_spark.registry import QUERIES, load_all

    load_all()
    rows = QUERIES["q_quality_winsorize"](spark, SF_MED).collect()
    by_lang = {}
    for r in rows:
        by_lang.setdefault(r["lang"], []).append(
            (r["clipped"], r["winsor_z"])
        )
    assert len(by_lang) == 5
    for lang, vals in by_lang.items():
        z = np.array([v[1] for v in vals], dtype=np.float64)
        assert abs(z.mean()) < 1e-4, lang
        assert abs(z.std() - 1.0) < 1e-3, lang


def test_llr_bruteforce(spark):
    """q_text_llr == a plain-python contingency computation on the
    fixture (exact counts; float compared at the query's 6-dp
    rounding)."""
    import math
    from collections import Counter

    import duckdb

    from fhir2sql_spark.registry import QUERIES, load_all

    load_all()
    docs = duckdb.sql(
        f"SELECT text FROM read_parquet('{SF_MED}/documents.parquet')"
    ).fetchall()
    bi = Counter()
    for (text,) in docs:
        ws = text.split(" ")
        for i in range(len(ws) - 1):
            bi[(ws[i], ws[i + 1])] += 1
    r = Counter()
    c = Counter()
    n = sum(bi.values())
    for (w1, w2), k in bi.items():
        r[w1] += k
        c[w2] += k

    def xlogx(x):
        return x * math.log(x) if x > 0 else 0.0

    want = {}
    for (w1, w2), k11 in bi.items():
        if k11 < 20:
            continue
        r1, c1 = r[w1], c[w2]
        k12, k21, k22 = r1 - k11, c1 - k11, n - r1 - c1 + k11
        llr = 2.0 * (
            xlogx(k11) + xlogx(k12) + xlogx(k21) + xlogx(k22)
            - xlogx(r1) - xlogx(n - r1) - xlogx(c1) - xlogx(n - c1)
            + xlogx(n)
        )
        want[f"{w1} {w2}"] = (k11, round(llr, 6) + 0.0)

    got = {
        rr["bigram"]: (rr["n_pair"], rr["llr"])
        for rr in QUERIES["q_text_llr"](spark, SF_MED).collect()
    }
    assert set(got) == set(want)
    for k in want:
        assert got[k][0] == want[k][0], k
        assert abs(got[k][1] - want[k][1]) < 1e-6, k


def test_hard_negatives_label_excluded(spark):
    """Every mined hard negative carries a label different from its
    query's, and dropping the label filter recovers q_embed_topk's
    ranking semantics (the filtered list is a subsequence of the
    unfiltered ranking)."""
    from fhir2sql_spark.operators import similarity

    emb = spark.read.parquet(f"{SF_MED}/embeddings.parquet").select(
        "vec_id", "embedding", "label"
    )
    labels = {r["vec_id"]: r["label"] for r in emb.select("vec_id", "label").collect()}
    q = emb.where(F.col("vec_id") < 5)
    hard = similarity.cosine_topk(q, emb, k=3, exclude_label_col="label").collect()
    assert len(hard) == 15
    for r in hard:
        assert labels[r["c_id"]] != labels[r["q_id"]]
    full = similarity.cosine_topk(q, emb, k=400).collect()
    full_order = {}
    for r in sorted(full, key=lambda r: (r["q_id"], r["rn"])):
        full_order.setdefault(r["q_id"], []).append(r["c_id"])
    for qid in {r["q_id"] for r in hard}:
        want = [c for c in full_order[qid] if labels[c] != labels[qid]][:3]
        got = [r["c_id"] for r in sorted(hard, key=lambda r: r["rn"]) if r["q_id"] == qid]
        assert got == want, qid


def test_ivfpq_matches_bruteforce(spark):
    """ivfpq_search == a plain-numpy IVF-PQ/ADC reference: same
    centroid/codeword conventions, candidates restricted to the
    probed cells, ADC distance summed from the residual LUT."""
    from fhir2sql_spark.operators.pq import ivfpq_search

    emb = (
        spark.read.parquet(f"{SF_MED}/embeddings.parquet")
        .where(F.col("vec_id") < 200)
        .select("vec_id", "embedding")
    )
    rows = sorted(emb.collect(), key=lambda r: r["vec_id"])
    ids = np.array([r["vec_id"] for r in rows], dtype=np.int64)
    X = np.array([r["embedding"] for r in rows], dtype=np.float64)
    n_cells, m, n_codes, n_probe, k = 16, 4, 16, 4, 5
    sub = X.shape[1] // m
    cents = X[:n_cells]

    def assign(Y):
        d2 = ((Y[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        return d2.argmin(axis=1), d2

    base_cells, _ = assign(X[n_cells : n_cells + n_codes])
    resid_base = X[n_cells : n_cells + n_codes] - cents[base_cells]
    cellX, dX = assign(X)
    residX = X - cents[cellX]
    codes = np.empty((len(ids), m), dtype=np.int64)
    for s in range(m):
        xs = residX[:, s * sub : (s + 1) * sub]
        ws = resid_base[:, s * sub : (s + 1) * sub]
        codes[:, s] = ((xs[:, None, :] - ws[None, :, :]) ** 2).sum(
            axis=2
        ).argmin(axis=1)
    want = {}
    for qi in range(3):
        probes = np.argsort(dX[qi], kind="stable")[:n_probe]
        cand = []
        for w in probes:
            qr = X[qi] - cents[w]
            for i in np.where((cellX == w) & (ids != ids[qi]))[0]:
                d = 0.0
                for s in range(m):
                    qs = qr[s * sub : (s + 1) * sub]
                    cw = resid_base[codes[i, s], s * sub : (s + 1) * sub]
                    d += ((qs - cw) ** 2).sum()
                cand.append((d, ids[i]))
        cand.sort()
        want[ids[qi]] = [c for _, c in cand[:k]]

    out = ivfpq_search(
        emb.where(F.col("vec_id") < 3), emb,
        k=k, n_cells=n_cells, m=m, n_codes=n_codes, n_probe=n_probe,
    ).collect()
    got = {}
    for r in sorted(out, key=lambda r: (r["q_id"], r["rn"])):
        got.setdefault(r["q_id"], []).append(r["c_id"])
    assert got == {int(q): v for q, v in want.items()}


def test_ivfpq_small_corpus_empty(spark):
    """A corpus smaller than n_cells + n_codes cannot build the
    untrained codebooks: empty result, stable schema."""
    from fhir2sql_spark.operators.pq import ivfpq_search

    emb = spark.read.parquet(f"{SF_MED}/embeddings.parquet").where(
        F.col("vec_id") < 20
    ).select("vec_id", "embedding")
    out = ivfpq_search(emb.limit(2), emb, n_cells=16, n_codes=16)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == [
        "q_id", "c_id", "adist", "rn",
    ]


def test_bpe_encode_matches_python_reference(spark):
    """q_bpe_encode == a pure-python BPE: train 3 merge rounds on the
    word vocabulary (most frequent adjacent pair, ties lexicographic),
    then greedily apply the merge list in order to every word. Checks
    piece COUNTS per doc and the ordered piece-stream digest — i.e.
    piece identity and order, not just totals."""
    import hashlib
    from collections import Counter

    from pyspark.sql import Row

    from fhir2sql_spark.registry import QUERIES, load_all

    load_all()
    texts = {
        1: "the cat sat on the mat",
        2: "the cats sat and sat again",
        3: "a cat and a mat and a hat",
        4: "zz zz zz zz zz yyy",
    }
    docs = spark.createDataFrame(
        [Row(doc_id=i, text=t, lang="en", source="s", n_chars=len(t))
         for i, t in texts.items()]
    )
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        docs.toPandas().to_parquet(f"{d}/documents.parquet")

        # python reference ------------------------------------------------
        wc = Counter(
            w for t in texts.values() for w in t.split(" ") if len(w) >= 2
        )
        vocab = {w: list(w) for w in wc}
        merges = []
        for _ in range(3):
            pf = Counter()
            for w, syms in vocab.items():
                for i in range(len(syms) - 1):
                    pf[(syms[i], syms[i + 1])] += wc[w]
            (a, b), _n = sorted(pf.items(), key=lambda kv: (-kv[1], kv[0]))[0]
            merges.append((a, b))
            for w, syms in vocab.items():
                out, i = [], 0
                while i < len(syms):
                    if (
                        i + 1 < len(syms)
                        and syms[i] == a
                        and syms[i + 1] == b
                    ):
                        out.append(a + b)
                        i += 2
                    else:
                        out.append(syms[i])
                        i += 1
                vocab[w] = out

        def encode(w: str) -> list[str]:
            syms = list(w)
            for a, b in merges:
                out, i = [], 0
                while i < len(syms):
                    if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                        out.append(a + b)
                        i += 2
                    else:
                        out.append(syms[i])
                        i += 1
                syms = out
            return syms

        want = {}
        for doc_id, t in texts.items():
            pieces = [p for w in t.split(" ") if w for p in encode(w)]
            want[doc_id] = (
                len(pieces),
                hashlib.md5(" ".join(pieces).encode()).hexdigest(),
            )

        got = {
            r["doc_id"]: (r["n_pieces"], r["piece_digest"])
            for r in QUERIES["q_bpe_encode"](spark, d).collect()
        }
        assert got == want
        # merges must actually compress: 'zz' (freq 4+) merges, so doc 4
        # has fewer pieces than characters-without-spaces
        assert got[4][0] < sum(len(w) for w in texts[4].split())


def test_fertility_bpe_consistent_with_encode(spark, sf_dir):
    """The fertility twin's per-lang totals equal q_bpe_encode's
    per-doc pieces rolled up by language (same encoder, two rollups)."""
    import duckdb

    from fhir2sql_spark.registry import QUERIES, load_all

    load_all()
    enc = {
        r["doc_id"]: r["n_pieces"]
        for r in QUERIES["q_bpe_encode"](spark, sf_dir).collect()
    }
    langs = dict(
        duckdb.sql(
            f"SELECT doc_id, lang FROM read_parquet('{sf_dir}/documents.parquet')"
        ).fetchall()
    )
    by_lang: dict[str, int] = {}
    for d, n in enc.items():
        by_lang[langs[d]] = by_lang.get(langs[d], 0) + n
    got = {
        r["lang"]: r["bpe_tokens"]
        for r in QUERIES["q_tokens_fertility_bpe"](spark, sf_dir).collect()
    }
    assert got == by_lang
