"""Integer-lattice k-means: the engine's one TRAINED-codebook path.

Round-6 graduation of the trained-codebook triple (q_embed_ivf_trained,
q_embed_pq_trained, q_dedup_semantic_trained) from rows-only to exact
DuckDB hash oracles. Float Lloyd's cannot be replayed bit-exactly in
SQL (its BLAS accumulation order is engine-specific), so the IVF
coarse codebook and the PQ books are both trained here, on an INTEGER
LATTICE, which makes every step of Lloyd's algorithm exactly
computable by both engines:

- quantize: ``q_d = CAST(ROUND(e_d * scale) AS BIGINT)`` — float32 ->
  float64 promotion, one IEEE multiply and one half-away-from-zero
  round, identical in Spark and DuckDB;
- init: the ``k`` vectors with the smallest
  ``(md5(CAST(id AS VARCHAR)), id)`` — the md5-seeded portable-twin
  construction (q_dedup_minhash_portable, queries/llm.py) applied to
  centroid seeding: a deterministic pseudo-random draw both engines
  compute from the same hex strings;
- assign: squared L2 on int64 — every product and partial sum is an
  exact integer (bounded: dim * (scale*max|e|)^2 << 2^53, guarded at
  runtime), so even float64 BLAS matmul reproduces it bit-exactly in
  ANY accumulation order (all partial sums are integers below 2^53);
  ties break to the lowest centroid id on both engines;
- update: ``ROUND(SUM(q_d) / COUNT(*))`` per (cell, dim) — integer sum
  (exact), one IEEE double division, one half-away-from-zero round;
  empty cells keep their previous centroid.

k-means is PQ with ONE subspace: lattice_kmeans is the per-subspace
trainer ``_lloyd`` at ``m=1`` (same md5 seed draw, same partial-sum
pass, same empty-cell rule), and lattice_pq_train is ``_lloyd`` at
``m`` subspaces. Every nearest-codeword step — training, IVF
assignment, PQ encoding — is the one argmin ``_nearest``.

Because each step is exact, R unrolled Lloyd rounds are replayable as
MATERIALIZED CTEs (the q_graph_pagerank unroll technique,
queries/training.py) and the full train -> search pipeline gets a
strict value-hash oracle. Quantization costs accuracy (~1e-3 relative
with scale=1000 on unit-range embeddings), which is irrelevant to the
coarse partitioning role a codebook plays — and the search distances
returned are EXACT integers, so no rounding tolerance is needed
anywhere downstream.

Scale shape: per round the codebook (k rows) broadcasts, one
mapInPandas corpus pass emits per-cell integer PARTIAL sums (k x dim
per Arrow batch — the only shuffle is input-size-independent), means
reassemble JVM-side. The corpus never shuffles; assignment/search
passes are fused Arrow/numpy like operators/pq.py.

Reference: samply/fhir2sql (src/main.rs) has no vector surface; this
extends SURVEY.md §2.4's similarity-search family.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from fhir2sql_spark.sources.arrow_rows import arrow_frame

# Exactness guard (ADVICE r6: the old flat |q| <= 3e6 bound was NOT
# dim-aware — at dim=1024 it admitted dim*q^2 = 9.2e15 > 2^53 and a
# 2*X@C.T cross term of 1.8e16, breaking the float64-BLAS-is-exact
# argument). The d2 expansion |a|^2 - 2ab + |b|^2 has every partial
# sum bounded by 4*dim*qmax^2, so requiring dim*qmax^2 <= 2^51 keeps
# all products, partial sums, and the final distance below 2^53 —
# exact in float64 in ANY accumulation order, and in-range for int64.
# With scale=1000 and |e| <= ~0.6 (the fixture's unit-ish range),
# dim*qmax^2 ~ 2.4e7: five orders of magnitude of headroom.
_BLAS_EXACT_BOUND = 1 << 51  # bound on dim * max|q|^2


def quantize(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1000,
) -> DataFrame:
    """(vid, qv array<long>): the engine-portable integer lattice
    embedding. One interpreted HOF pass over the corpus (quantization
    happens once; every downstream pass is Arrow/numpy)."""
    return df.select(
        F.col(id_col).alias("vid"),
        F.transform(
            F.col(vec_col).cast("array<double>"),
            lambda x: F.round(x * scale, 0).cast("long"),
        ).alias("qv"),
    )


def materialize(qv: DataFrame) -> DataFrame:
    """Serialized lazy materialization barrier for a quantized corpus.

    Every trained-lattice query makes 3-5 passes over quantize()'s
    output (seed collect, Lloyd rounds, assignment/search); without a
    barrier each pass re-runs the interpreted HOF quantization from
    the parquet scan (r11 measurement: 21-29 s executor CPU per query
    at sf0.1, most of it repeated quantize). localCheckpoint at
    DISK_ONLY materializes once, serialized — the PLANS.md fact-size
    discipline (no deserialized heap pin) — and, unlike persist(), is
    NOT registered in the CacheManager, so identical quantize plans
    in later bench queries cannot silently share it (each query's
    runs stay self-contained computations)."""
    from fhir2sql_spark.operators.reuse import materialize_serialized

    return materialize_serialized(qv)


def _seed_codebook(qv: DataFrame, k: int) -> list:
    """First ``k`` (md5(vid), vid)-ordered quantized vectors as
    [(cent_id, np.array)] — the bounded (k-row) driver materialization
    every trainer round shares."""
    import numpy as np

    rows = (
        qv.orderBy(F.md5(F.col("vid").cast("string")), "vid")
        .limit(k)
        .select("qv")
        .collect()
    )
    if not rows:
        raise ValueError("lattice trainer: no vectors to train on")
    return [(i, np.array(r["qv"], dtype=np.int64)) for i, r in enumerate(rows)]


def _check_domain(x) -> None:
    """Dim-aware exactness guard: dim * max|q|^2 must not exceed
    2^51 (see _BLAS_EXACT_BOUND). ``x`` is (n, dim) int64."""
    import numpy as np

    if not len(x):
        return
    q = int(np.abs(x).max())
    dim = int(x.shape[1]) if x.ndim == 2 else int(len(x))
    if dim * q * q > _BLAS_EXACT_BOUND:
        raise ValueError(
            "lattice: dim * max|q|^2 = "
            f"{dim} * {q}^2 exceeds the exact-arithmetic domain "
            f"(2^51); lower the quantization scale"
        )


def _d2_int(X, C):
    """Exact squared L2 between int64 rows of X and C, as int64.
    float64 BLAS is used for speed — the dim-aware guard on BOTH
    operands keeps every product and every partial sum (including the
    2*X@C.T cross term) an integer below 2^53, so the result is exact
    in any accumulation order."""
    import numpy as np

    _check_domain(X)
    _check_domain(C)
    Xf = X.astype(np.float64)
    Cf = C.astype(np.float64)
    d2 = (
        (Xf * Xf).sum(axis=1)[:, None]
        - 2.0 * (Xf @ Cf.T)
        + (Cf * Cf).sum(axis=1)[None, :]
    )
    return d2.astype(np.int64)


def _nearest(x, code):
    """(idx, d2): the nearest row of ``code`` for each int64 row of
    ``x`` and the exact squared L2 to it. Ties break to the lowest
    index (np.argmin's first minimum); every codebook is held in id
    order, so that is the lowest cent_id / code_id — the oracles'
    ``ORDER BY d2, cent_id``."""
    import numpy as np

    d2 = _d2_int(x, code)
    idx = np.argmin(d2, axis=1)
    return idx, d2[np.arange(len(idx)), idx]


def _merge_partials(stats: DataFrame, keys: list) -> DataFrame:
    """Distributed merge of per-batch trainer partials to one row per
    key (VERDICT r11 #1): sum the counts, element-wise-sum the int64
    ``vsum`` arrays. ONE tiny shuffle of codebook x n_partitions rows;
    the fold is an interpreted HOF but runs over <= codebook rows of
    collected partials — cheaper than a grouped-map Python stage by a
    worker round-trip per Lloyd round. Exact: int64 element-wise sums
    are order-free, and every partial is bounded by the quantization
    domain guard."""
    return (
        stats.groupBy(*keys)
        .agg(
            F.sum("cnt").alias("cnt"),
            F.collect_list("vsum").alias("__vs"),
        )
        .select(
            *keys,
            "cnt",
            F.aggregate(
                F.slice(F.col("__vs"), 2, F.size("__vs") - 1),
                F.element_at("__vs", 1),
                lambda acc, v: F.zip_with(acc, v, lambda a, b: a + b),
            ).alias("vsum"),
        )
    )


def _lloyd(qv: DataFrame, m: int, n_codes: int, iters: int):
    """Portable Lloyd's over ``m`` subspaces of quantize()'s output,
    all trained in the SAME per-round corpus pass. Returns the
    (m, k', dim/m) int64 books, k' = min(n_codes, |qv|): the
    md5-ordered first-k' seed draw sliced per subspace (so the SQL
    replays share one seed CTE), then ``iters`` rounds of
    assign -> per-(s, code) integer partial sums -> exact mean, empty
    cells keeping their previous codeword."""
    from decimal import ROUND_HALF_UP, Decimal

    import numpy as np
    import pandas as pd

    seed = np.stack([v for _, v in _seed_codebook(qv, n_codes)])
    k, dim = seed.shape
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    # books[s, c] = codeword c of subspace s
    books = seed.reshape(k, m, sub).transpose(1, 0, 2).copy()
    sc = qv.sparkSession.sparkContext
    base = qv.localCheckpoint(eager=False)

    for _ in range(iters):
        bc = sc.broadcast(books)

        # per-batch integer partial sums (m * k' x sub per Arrow batch)
        # keyed by the flat cell s * k' + code; merged per (s, code)
        # distributively below so the driver only ever sees <= m * k'
        # rows
        def stats_batches(it, _bc=bc):
            bks = _bc.value
            m_now, k_now, sub_now = bks.shape
            for pdf in it:
                if not len(pdf):
                    continue
                x = np.array(pdf["qv"].tolist(), dtype=np.int64)
                xs = x.reshape(len(x), m_now, sub_now).transpose(1, 0, 2)
                cell = np.concatenate(
                    [_nearest(xs[s], bks[s])[0] + s * k_now for s in range(m_now)]
                )
                sums = np.zeros((m_now * k_now, sub_now), dtype=np.int64)
                np.add.at(sums, cell, xs.reshape(-1, sub_now))
                counts = np.bincount(cell, minlength=m_now * k_now)
                nz = np.nonzero(counts)[0]
                yield pd.DataFrame(
                    {
                        "s": (nz // k_now).astype("int32"),
                        "code": (nz % k_now).astype("int32"),
                        "cnt": counts[nz].astype("int64"),
                        "vsum": list(sums[nz]),
                    }
                )

        stats = base.select("qv").mapInPandas(
            stats_batches, "s int, code int, cnt long, vsum array<long>"
        )

        # One distributed partial-merge before the collect (VERDICT
        # r11 #1): the per-batch partials are m * k' x n_partitions
        # rows, and n_partitions is unbounded at 100 TB — collecting
        # them raw was a driver-side materialization that grows with
        # input size. groupBy(s, code) merges them to <= m * k' rows
        # through ONE tiny shuffle, so the driver collect is
        # codebook-bounded at any scale.
        # ROUND(SUM/COUNT) on the driver over those rows: integer sums
        # are order-free; the division is the same single IEEE double
        # op as the SQL form; the round is half-away-from-zero.
        # Decimal(float) is the EXACT binary expansion, and at scale 0
        # every .5 boundary is an exactly representable double, so
        # ROUND_HALF_UP here is bit-identical to Spark's
        # ROUND(double, 0) and DuckDB's ROUND.
        books = books.copy()
        for r in _merge_partials(stats, ["s", "code"]).collect():
            books[r["s"], r["code"]] = [
                int(
                    Decimal(float(v) / r["cnt"]).quantize(
                        Decimal(1), rounding=ROUND_HALF_UP
                    )
                )
                for v in r["vsum"]
            ]
        bc.unpersist(False)

    return books


def lattice_kmeans(
    qv: DataFrame, k: int = 16, iters: int = 2
) -> DataFrame:
    """Deterministic PORTABLE Lloyd's k-means over the integer lattice:
    ``_lloyd`` with one subspace. ``qv`` is quantize()'s output.
    Returns (cent_id int, cv array<long>), min(k, |qv|) rows. Exactly
    replayable as ``iters`` unrolled SQL rounds (see queries/llm.py
    _lattice_prologue)."""
    (cv,) = _lloyd(qv, 1, k, iters)
    return arrow_frame(
        qv.sparkSession,
        "cent_id int, cv array<long>",
        [(list(range(len(cv))), cv.tolist())],
    )


def lattice_pq_train(
    qv: DataFrame, m: int = 4, n_codes: int = 16, iters: int = 2
) -> DataFrame:
    """Per-subspace portable Lloyd: ``_lloyd`` with ``m`` subspaces,
    replayed by queries/llm.py _pq_trained_oracle. Returns
    (s int, code_id int, w array<long>), m * min(n_codes, |qv|)
    rows."""
    import numpy as np

    books = _lloyd(qv, m, n_codes, iters)
    _, k, sub = books.shape
    s, code = np.divmod(np.arange(m * k), k)
    return arrow_frame(
        qv.sparkSession,
        "s int, code_id int, w array<long>",
        [(s.tolist(), code.tolist(), books.reshape(m * k, sub).tolist())],
    )


def _collect_codebook(cents: DataFrame):
    """(code (k,dim) int64, cids (k,) int64) from a lattice codebook —
    the bounded k-row collect every search/assign pass shares. Rows
    are in cent_id order, which _nearest's tie rule relies on."""
    import numpy as np

    rows = cents.orderBy("cent_id").collect()
    code = np.stack([np.array(r["cv"], dtype=np.int64) for r in rows])
    cids = np.array([r["cent_id"] for r in rows], dtype=np.int64)
    return code, cids


def _assign_cells(df: DataFrame, code, cids) -> DataFrame:
    """Map-side nearest-centroid assignment against the codebook
    (exact int L2, ties -> lowest cent_id). ``df`` is a quantize()
    output; returns (vec_id, cell int, d2 long, qv) with d2 the exact
    squared L2 to the winning centroid — the corpus never shuffles.
    Every assignment pass is this one kernel; callers rename."""
    import numpy as np
    import pandas as pd

    def assign(it):
        for pdf in it:
            if not len(pdf):
                continue
            x = np.array(pdf["qv"].tolist(), dtype=np.int64)
            idx, d2 = _nearest(x, code)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vid"].to_numpy(dtype=np.int64),
                    "cell": cids[idx].astype("int32"),
                    "d2": d2,
                    "qv": pdf["qv"],
                }
            )

    return df.select("vid", "qv").mapInPandas(
        assign, "vec_id long, cell int, d2 long, qv array<long>"
    )


def lattice_assign(qv: DataFrame, cents: DataFrame) -> DataFrame:
    """Nearest-centroid assignment against a (frozen) lattice codebook:
    (vid, cell int, d2 long) with the EXACT integer squared L2 to the
    winning centroid — ties break to the lowest cent_id, matching the
    oracle's ``ORDER BY d2, cent_id``. The _assign_cells pass that
    IVF search and SemDeDup share; used by the prototype-pruning and
    codebook-drift queries."""
    code, cids = _collect_codebook(cents)
    return _assign_cells(qv, code, cids).select(
        F.col("vec_id").alias("vid"), "cell", "d2"
    )


def lattice_ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    cents: DataFrame,
    k: int = 5,
    n_probe: int = 4,
) -> DataFrame:
    """IVF search over the lattice: assign the corpus to its nearest
    trained centroid (exact int L2, ties -> lowest cent_id), probe the
    ``n_probe`` nearest cells per query, exact-rank candidates inside.
    ``queries``/``corpus`` are quantize() outputs; ``cents`` is
    lattice_kmeans' codebook. Returns (q_id, c_id, adist long, rn) —
    adist is the EXACT integer squared L2, so the oracle needs no
    rounding. Same plan as operators/similarity.py ivf_topk: map-side
    assignment vs the broadcast codebook, the tiny query side
    broadcasts into the cell equi-join — the corpus never shuffles."""
    import numpy as np

    code, cids = _collect_codebook(cents)
    spark = corpus.sparkSession
    q_rows = queries.select("vid", "qv").collect()
    if not q_rows:
        return spark.createDataFrame(
            [], "q_id long, c_id long, adist long, rn int"
        )
    q_ids = np.array([r["vid"] for r in q_rows], dtype=np.int64)
    qm = np.array([r["qv"] for r in q_rows], dtype=np.int64)
    qd = _d2_int(qm, code)
    # n_probe nearest cells per query (ties -> lowest cent_id via
    # stable lexsort, matching the oracle's ORDER BY d2, cent_id)
    near = np.lexsort((np.broadcast_to(cids, qd.shape), qd))[:, :n_probe]
    probes = arrow_frame(
        spark,
        "q_id long, cell int",
        [(np.repeat(q_ids, near.shape[1]).tolist(), cids[near].ravel().tolist())],
    )
    qdf = arrow_frame(
        spark, "q_id long, qqv array<long>", [(q_ids.tolist(), qm.tolist())]
    )
    assigned = _assign_cells(corpus, code, cids).select(
        F.col("vec_id").alias("c_id"), "cell", F.col("qv").alias("cqv")
    )
    cand = assigned.join(F.broadcast(probes), "cell").where(
        F.col("c_id") != F.col("q_id")
    ).join(F.broadcast(qdf), "q_id")
    # exact integer L2 via the zip_with fold (bigint arithmetic
    # JVM-side; candidates are |corpus| * n_probe / n_cells rows)
    adist = F.aggregate(
        F.zip_with("qqv", "cqv", lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, y: acc + y,
    )
    scored = cand.select("q_id", "c_id", adist.alias("adist")).dropDuplicates(
        ["q_id", "c_id"]
    )
    w = Window.partitionBy("q_id").orderBy("adist", "c_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select("q_id", "c_id", "adist", "rn")
    )


def lattice_pq_search(
    queries: DataFrame,
    corpus: DataFrame,
    books: DataFrame,
    k: int = 5,
    m: int = 4,
) -> DataFrame:
    """ADC over trained lattice codebooks — operators/pq.py pq_search's
    fused encode+score mapInPandas shape with EXACT integer distances:
    encode each corpus vector per subspace (_nearest, ties -> lowest
    code), score queries via the integer LUT, emit per-batch top-k.
    Returns (q_id, c_id, adist long, rn)."""
    import numpy as np
    import pandas as pd

    cb_rows = books.orderBy("s", "code_id").collect()
    n_codes = max(r["code_id"] for r in cb_rows) + 1
    if len(cb_rows) != m * n_codes:
        raise ValueError(
            f"lattice_pq_search: {len(cb_rows)} codebook rows, expected "
            f"{m}*{n_codes}"
        )
    sub = len(cb_rows[0]["w"])
    bks = np.array(
        [r["w"] for r in cb_rows], dtype=np.int64
    ).reshape(m, n_codes, sub)
    dim = m * sub

    q_rows = queries.select("vid", "qv").collect()
    if not q_rows:
        return corpus.sparkSession.createDataFrame(
            [], "q_id long, c_id long, adist long, rn int"
        )
    q_ids = np.array([r["vid"] for r in q_rows], dtype=np.int64)
    qm = np.array([r["qv"] for r in q_rows], dtype=np.int64)
    if qm.shape[1] != dim:
        raise ValueError(
            f"lattice_pq_search: query dim {qm.shape[1]} != codebook dim {dim}"
        )
    # integer LUT[qi, s, j]
    lut = np.stack(
        [_d2_int(qm[:, s * sub : (s + 1) * sub], bks[s]) for s in range(m)],
        axis=1,
    )

    def gen(it):
        for pdf in it:
            if not len(pdf):
                continue
            ids = pdf["vid"].to_numpy(dtype=np.int64)
            X = np.array(pdf["qv"].tolist(), dtype=np.int64)
            if X.shape[1] != dim:
                raise ValueError(
                    f"lattice_pq_search: corpus dim {X.shape[1]} != {dim}"
                )
            adist = np.zeros((len(ids), len(q_ids)), dtype=np.int64)
            for s in range(m):
                code, _ = _nearest(X[:, s * sub : (s + 1) * sub], bks[s])
                adist += lut[:, s, code].T
            for qi, qid in enumerate(q_ids):
                mask = ids != qid
                cand_ids, cand_d = ids[mask], adist[mask, qi]
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

    scored = corpus.select("vid", "qv").mapInPandas(
        gen, "q_id long, c_id long, adist long"
    )
    w = Window.partitionBy("q_id").orderBy("adist", "c_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select("q_id", "c_id", "adist", "rn")
    )


def _rational_cos_mask(dot, n2, num2: int, den2: int):
    """Pairwise mask for ``cos(a,b) >= tau_num/tau_den`` computed as
    ``dot > 0 AND den^2*dot^2 >= num^2*|a|^2*|b|^2`` (zero-norm rows
    never match). ADVICE r6: den2*dot^2 / num2*na*nb can silently
    wrap int64 in numpy (dot can reach 2^51 under the BLAS guard
    alone) while the DuckDB oracle RAISES on overflow — so take the
    int64 fast path only when the actual magnitudes provably fit,
    else compute the predicate in exact Python ints via object dtype
    (slow path, correctness over speed)."""
    m = int(max(dot.max(initial=0), n2.max(initial=0), 0))
    if max(num2, den2) * m * m < 2**63:
        sim = (dot > 0) & (
            den2 * dot ** 2 >= num2 * n2[:, None] * n2[None, :]
        )
    else:
        do = dot.astype(object)
        no = n2.astype(object)
        sim = (dot > 0) & (
            den2 * do * do >= num2 * no[:, None] * no[None, :]
        )
    sim &= (n2[:, None] > 0) & (n2[None, :] > 0)
    return sim


def _cell_cosine(pdf, num2: int, den2: int):
    """One cell's (vec_id, qv) rows sorted by vec_id: returns
    (order, sorted ids, sim) with ``sim`` the exact rational-cosine
    mask between them. The Gram matrix is guarded float64 BLAS — every
    partial sum an integer < 2^53."""
    import numpy as np

    ids = pdf["vec_id"].to_numpy(dtype=np.int64)
    order = np.argsort(ids)
    x = np.array(pdf["qv"].tolist(), dtype=np.int64)[order]
    _check_domain(x)
    xf = x.astype(np.float64)
    dot = (xf @ xf.T).astype(np.int64)
    sim = _rational_cos_mask(dot, np.diag(dot).copy(), num2, den2)
    return order, ids[order], sim


def lattice_semantic_dedup(
    corpus: DataFrame,
    cents: DataFrame,
    tau_num: int = 2,
    tau_den: int = 5,
) -> DataFrame:
    """SemDeDup over the lattice with an EXACT rational-cosine
    predicate: every vector with a same-cell smaller-id neighbour at
    cos >= tau_num/tau_den is a duplicate (the smallest id of each
    near-duplicate group is kept). The cosine test is done in
    integer arithmetic — ``dot > 0 AND den^2*dot^2 >= num^2*|a|^2*|b|^2``
    (zero-norm vectors never match: cosine undefined) — so both
    engines agree bit-exactly with NO float threshold margin argument.
    Returns (vec_id, cell int, is_dup boolean) for every corpus row.
    Same plan as operators/similarity.py semantic_dedup: map-side
    assignment, quadratic stage confined to cells via
    groupBy(cell).applyInPandas."""
    import numpy as np
    import pandas as pd

    code, cids = _collect_codebook(cents)
    num2 = int(tau_num) ** 2
    den2 = int(tau_den) ** 2

    def per_cell(pdf: "pd.DataFrame") -> "pd.DataFrame":
        _, ids, sim = _cell_cosine(pdf, num2, den2)
        # b is a dup if any a<b (by id) in the cell passes the test
        return pd.DataFrame(
            {
                "vec_id": ids,
                "cell": pdf["cell"].iloc[0],
                "is_dup": np.tril(sim, -1).any(axis=1),
            }
        )

    return (
        _assign_cells(corpus, code, cids)
        .drop("d2")
        .groupBy("cell")
        .applyInPandas(per_cell, "vec_id long, cell int, is_dup boolean")
    )


def lattice_semantic_dedup_incremental(
    base: DataFrame,
    new: DataFrame,
    cents: DataFrame,
    tau_num: int = 2,
    tau_den: int = 5,
) -> DataFrame:
    """Incremental SemDeDup against a FROZEN codebook — the 100 TB
    operating mode (VERDICT r6 #7): nobody re-clusters the corpus per
    ingest. The NEW batch is assigned to cells of the codebook trained
    on the BASE corpus; the pairwise stage runs ONLY inside cells the
    batch touches (the base side is pruned by a broadcast semi-join on
    the touched-cell set BEFORE any pairwise work — with the base
    index stored partitioned by cell, that prune is partition pruning
    at the scan). Base verdicts never change; every NEW row gets
    (vec_id, cell, status):

      - ``dup_corpus`` — a base vector in the same cell passes
        cos >= tau_num/tau_den (exact rational predicate);
      - ``dup_batch``  — not dup_corpus, but a smaller-id NEW vector
        in the same cell passes (min-id keeper rule, the
        q_dedup_incremental convention);
      - ``new``        — admit (and append to the index).

    Per-ingest cost is O(batch * avg cell occupancy), independent of
    total corpus size outside touched cells. Both inputs are
    quantize() outputs; the predicate is lattice_semantic_dedup's
    bit-exact integer test, so the whole composition keeps a strict
    DuckDB hash oracle (queries/retrieval.py q_dedup_semantic_inc)."""
    import numpy as np
    import pandas as pd

    code, cids = _collect_codebook(cents)
    new_asg = _assign_cells(new, code, cids).drop("d2")
    base_asg = _assign_cells(base, code, cids).drop("d2")
    touched = new_asg.select("cell").distinct()
    base_pruned = base_asg.join(F.broadcast(touched), "cell", "left_semi")
    both = base_pruned.withColumn("is_new", F.lit(False)).unionByName(
        new_asg.withColumn("is_new", F.lit(True))
    )
    num2 = int(tau_num) ** 2
    den2 = int(tau_den) ** 2

    def per_cell(pdf: "pd.DataFrame") -> "pd.DataFrame":
        order, ids, sim = _cell_cosine(pdf, num2, den2)
        is_new = pdf["is_new"].to_numpy(dtype=bool)[order]
        new_idx = np.where(is_new)[0]
        if not len(new_idx):
            return pd.DataFrame(
                {"vec_id": [], "cell": [], "status": []}
            ).astype({"vec_id": "int64", "cell": "int32", "status": "str"})
        base_any = sim[np.ix_(new_idx, np.where(~is_new)[0])].any(axis=1)
        batch_any = np.tril(sim[np.ix_(new_idx, new_idx)], -1).any(axis=1)
        return pd.DataFrame(
            {
                "vec_id": ids[new_idx],
                "cell": pdf["cell"].iloc[0],
                "status": np.where(
                    base_any,
                    "dup_corpus",
                    np.where(batch_any, "dup_batch", "new"),
                ),
            }
        )

    return both.groupBy("cell").applyInPandas(
        per_cell, "vec_id long, cell int, status string"
    )
