"""Product quantization (PQ) — the memory-bounded ANN scale path.

PQ (Jégou, Douze & Schmid, "Product Quantization for Nearest
Neighbor Search", TPAMI 2011) splits each d-dim vector into ``m``
subvectors and quantizes each against its own small codebook, so a
float vector compresses to ``m`` small integer codes. Search uses
Asymmetric Distance Computation (ADC): the query stays un-quantized,
a per-query lookup table holds its squared L2 distance to every
codeword, and a candidate's approximate distance is just ``m`` table
lookups summed — no vector math per candidate at all. This is the
representation that makes billion-vector ANN fit in RAM (FAISS's
IVF-PQ core), complementing the recall-oriented paths in
operators/similarity.py (hyperplane LSH, IVF flat).

Spark-first shape (all stages verified in tools/explain_audit.py):

  - the codebook is config-sized (m x n_codes x d/m doubles) and
    BROADCAST — the deterministic first-``n_codes`` corpus vectors
    (oracle-stable, the q_embed_ivf convention; trained per-subspace
    books are operators/lattice.py lattice_pq_train, searched by
    lattice_pq_search);
  - encode + ADC scoring FUSE into one Arrow ``mapInPandas`` pass
    over the corpus: each batch encodes against the broadcast
    codebook (vectorized float64 BLAS argmin) and immediately scores
    every query from its LUT, emitting only the per-(query, batch)
    top-k — the corpus never shuffles, and the single exchange
    carries <= k x n_queries x n_batches rows into the final exact
    re-rank window;
  - the query side is collected to build the LUT (tiny by contract —
    same bounded-collect pattern as operators/kmv.py:78 and the IVF
    codebook collect, flagged in explain_audit's
    BUILDER_ACTION_QUERIES).

The reference (samply/fhir2sql, src/main.rs — a sync daemon) has no
vector surface; this extends SURVEY.md §2.4's similarity-search
inventory.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def pq_search(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    m: int = 4,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ADC top-k: for each query vector, the ``k`` corpus vectors with
    the smallest PQ-approximated squared L2 distance (ties -> lowest
    candidate id; the query itself is excluded). Returns
    ``(q_id, c_id, adist double, rn int)``.

    All distance arithmetic is float64 with the explicit
    ``|x|^2 - 2<x,c> + |c|^2`` expansion, the same formula the SQL
    oracle computes from ``list_dot_product`` terms — the only
    engine freedom is dot-product accumulation order (~1e-13
    relative), absorbed by the caller's 4-dp rounding. ``np.argmin``
    takes the FIRST minimum, i.e. the lowest codeword id, matching
    the oracle's ``ORDER BY d2, cent_id`` tie rule.

    The codebook is the deterministic first-``n_codes`` corpus vectors
    (oracle-stable); lattice_pq_search is the same plan over trained
    integer books."""
    import numpy as np
    import pandas as pd

    q_rows = queries.select(id_col, vec_col).collect()
    spark = corpus.sparkSession
    out_schema = "q_id long, c_id long, adist double"
    cb_rows = corpus.orderBy(id_col).limit(n_codes).select(vec_col).collect()
    if not cb_rows or not q_rows:
        return spark.createDataFrame([], out_schema + ", rn int")
    cb = np.array([r[vec_col] for r in cb_rows], dtype=np.float64)
    dim = cb.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    books = np.stack([cb[:, s * sub : (s + 1) * sub] for s in range(m)])
    # (m, n_codes, sub) codebook + per-subspace squared norms
    book_n2 = (books**2).sum(axis=2)  # (m, n_codes)

    q_ids = np.array([r[id_col] for r in q_rows], dtype=np.int64)
    qm = np.array([r[vec_col] for r in q_rows], dtype=np.float64)
    # a width mismatch with the codebook would silently score only the
    # leading sub*m dims via the slice (ADVICE r5) — fail loudly
    # instead. The corpus side gets the same check in gen().
    if qm.shape[1] != dim:
        raise ValueError(
            f"pq_search: query vectors have dim {qm.shape[1]} but the "
            f"codebook implies {dim} (= {sub} per subspace x m={m})"
        )
    # LUT[qi, s, j] = |q_s|^2 - 2<q_s, c_sj> + |c_sj|^2
    lut = np.stack(
        [
            (qm[:, s * sub : (s + 1) * sub] ** 2).sum(axis=1)[:, None]
            - 2.0 * (qm[:, s * sub : (s + 1) * sub] @ books[s].T)
            + book_n2[s][None, :]
            for s in range(m)
        ],
        axis=1,
    )  # (n_q, m, n_codes)

    def gen(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            X = np.array(list(pdf[vec_col]), dtype=np.float64)
            if X.shape[1] != dim:
                raise ValueError(
                    f"pq_search: corpus vectors have dim {X.shape[1]} "
                    f"but the codebook implies {dim}"
                )
            codes = np.empty((len(ids), m), dtype=np.int64)
            for s in range(m):
                xs = X[:, s * sub : (s + 1) * sub]
                d2 = (
                    (xs**2).sum(axis=1)[:, None]
                    - 2.0 * (xs @ books[s].T)
                    + book_n2[s][None, :]
                )
                codes[:, s] = d2.argmin(axis=1)
            # ADC: adist[i, qi] = sum_s LUT[qi, s, codes[i, s]]
            adist = np.zeros((len(ids), len(q_ids)))
            for s in range(m):
                adist += lut[:, s, codes[:, s]].T  # (n, n_q)
            for qi, qid in enumerate(q_ids):
                col = adist[:, qi]
                mask = ids != qid
                cand_ids, cand_d = ids[mask], col[mask]
                if not len(cand_ids):
                    continue
                top = np.lexsort((cand_ids, cand_d))[:k]
                yield pd.DataFrame(
                    {
                        "q_id": np.full(len(top), qid, dtype=np.int64),
                        "c_id": cand_ids[top],
                        "adist": cand_d[top],
                    }
                )

    scored = corpus.select(id_col, vec_col).mapInPandas(gen, out_schema)
    w = Window.partitionBy("q_id").orderBy("adist", "c_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select("q_id", "c_id", "adist", "rn")
    )


def ivfpq_search(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    n_cells: int = 16,
    m: int = 4,
    n_codes: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ with ADC — the full FAISS-style composition: coarse
    inverted lists (L2-nearest of ``n_cells`` centroids) bound WHICH
    candidates are scored (only the ``n_probe`` cells nearest each
    query), and product quantization of the RESIDUAL (x - centroid)
    bounds the PER-CANDIDATE cost (m LUT lookups) and memory (m code
    bytes). This is the index layout that serves billion-vector
    corpora from RAM; q_embed_ivf (flat re-rank) and q_embed_pq
    (exhaustive ADC) are its two halves.

    Deterministic untrained convention (oracle-replayable, the
    q_embed_ivf/q_embed_pq argument): coarse centroids are the first
    ``n_cells`` corpus vectors by id; PQ codewords per subspace are
    the RESIDUALS of the NEXT ``n_codes`` corpus vectors (ids
    n_cells..n_cells+n_codes) under their own coarse assignment —
    disjoint from the centroids, whose own residuals are identically
    zero and would collapse the codebook. Coarse metric is squared L2 (the FAISS
    IVF-PQ convention — note q_embed_ivf's flat path uses cosine),
    ties to the lowest cell/code/candidate id everywhere (np.argmin
    first-minimum == SQL ROW_NUMBER (d2, id)).

    Spark shape: ONE fused mapInPandas corpus pass (coarse assign →
    residual → PQ encode → per-(query, probed-cell) LUT score →
    per-batch top-k) against broadcast centroids/codebooks/LUTs; the
    corpus never shuffles; the single exchange carries
    <= k x n_q x n_batches rows into the exact re-rank window.
    Returns (q_id, c_id, adist double, rn int)."""
    import numpy as np
    import pandas as pd

    n_lead = n_cells + n_codes
    lead = (
        corpus.orderBy(id_col).limit(n_lead).select(id_col, vec_col).collect()
    )
    q_rows = queries.select(id_col, vec_col).collect()
    spark = corpus.sparkSession
    out_schema = "q_id long, c_id long, adist double"
    if len(lead) < n_lead or not q_rows:
        return spark.createDataFrame([], out_schema + ", rn int")
    lead_mat = np.array([r[vec_col] for r in lead], dtype=np.float64)
    cents = lead_mat[:n_cells]
    dim = cents.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    cents_n2 = (cents**2).sum(axis=1)

    def assign(X):
        d2 = (
            (X**2).sum(axis=1)[:, None]
            - 2.0 * (X @ cents.T)
            + cents_n2[None, :]
        )
        return d2.argmin(axis=1), d2

    base = lead_mat[n_cells : n_cells + n_codes]
    base_cells, _ = assign(base)
    resid_base = base - cents[base_cells]
    books = np.stack(
        [resid_base[:, s * sub : (s + 1) * sub] for s in range(m)]
    )  # (m, n_codes, sub)
    book_n2 = (books**2).sum(axis=2)

    q_ids = np.array([r[id_col] for r in q_rows], dtype=np.int64)
    qm = np.array([r[vec_col] for r in q_rows], dtype=np.float64)
    _, qd2 = assign(qm)
    # n_probe nearest cells per query, ties -> lowest cell id
    probes = np.argsort(qd2, axis=1, kind="stable")[:, :n_probe]
    # LUT[qi, p, s, j] = ||(q - c_w)_s - books[s, j]||^2
    lut = np.empty((len(q_ids), n_probe, m, n_codes))
    for qi in range(len(q_ids)):
        for p in range(n_probe):
            qr = qm[qi] - cents[probes[qi, p]]
            for s in range(m):
                qs = qr[s * sub : (s + 1) * sub]
                lut[qi, p, s] = (
                    (qs**2).sum() - 2.0 * (books[s] @ qs) + book_n2[s]
                )

    def gen(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            X = np.array(list(pdf[vec_col]), dtype=np.float64)
            cellX, _ = assign(X)
            residX = X - cents[cellX]
            codes = np.empty((len(ids), m), dtype=np.int64)
            for s in range(m):
                xs = residX[:, s * sub : (s + 1) * sub]
                d2 = (
                    (xs**2).sum(axis=1)[:, None]
                    - 2.0 * (xs @ books[s].T)
                    + book_n2[s][None, :]
                )
                codes[:, s] = d2.argmin(axis=1)
            for qi, qid in enumerate(q_ids):
                cand_ids, cand_d = [], []
                for p in range(n_probe):
                    mask = (cellX == probes[qi, p]) & (ids != qid)
                    if not mask.any():
                        continue
                    adist = np.zeros(mask.sum())
                    sel = codes[mask]
                    for s in range(m):
                        adist += lut[qi, p, s, sel[:, s]]
                    cand_ids.append(ids[mask])
                    cand_d.append(adist)
                if not cand_ids:
                    continue
                cand_ids = np.concatenate(cand_ids)
                cand_d = np.concatenate(cand_d)
                top = np.lexsort((cand_ids, cand_d))[:k]
                yield pd.DataFrame(
                    {
                        "q_id": np.full(len(top), qid, dtype=np.int64),
                        "c_id": cand_ids[top],
                        "adist": cand_d[top],
                    }
                )

    scored = corpus.select(id_col, vec_col).mapInPandas(gen, out_schema)
    w = Window.partitionBy("q_id").orderBy("adist", "c_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select("q_id", "c_id", "adist", "rn")
    )
