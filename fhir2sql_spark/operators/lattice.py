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


def lattice_kmeans(
    qv: DataFrame, k: int = 16, iters: int = 2
) -> DataFrame:
    """Deterministic PORTABLE Lloyd's k-means over the integer lattice.
    ``qv`` is quantize()'s output. Returns (cent_id int, cv
    array<long>). Exactly replayable as ``iters`` unrolled SQL rounds
    (see queries/llm.py _lattice_sql)."""
    import numpy as np
    import pandas as pd

    spark = qv.sparkSession
    sc = spark.sparkContext
    cents = _seed_codebook(qv, k)
    base = qv.localCheckpoint(eager=False)

    for _ in range(iters):
        cids = np.array([c for c, _ in cents], dtype=np.int64)
        code = np.stack([v for _, v in cents])
        bc = sc.broadcast((cids, code))

        # per-batch integer partial sums (k x dim per Arrow batch);
        # merged per cell distributively below so the driver only
        # ever sees <= k rows
        def stats_batches(it, _bc=bc):
            b_cids, b_code = _bc.value
            k_now, dim_now = b_code.shape
            for pdf in it:
                if not len(pdf):
                    continue
                x = np.array(pdf["qv"].tolist(), dtype=np.int64)
                _check_domain(x)
                idx = np.argmin(_d2_int(x, b_code), axis=1)
                sums = np.zeros((k_now, dim_now), dtype=np.int64)
                np.add.at(sums, idx, x)
                counts = np.bincount(idx, minlength=k_now)
                nz = np.nonzero(counts)[0]
                yield pd.DataFrame(
                    {
                        "cell": b_cids[nz].astype("int32"),
                        "cnt": counts[nz].astype("int64"),
                        "vsum": [list(s) for s in sums[nz]],
                    }
                )

        stats = base.select("qv").mapInPandas(
            stats_batches, "cell int, cnt long, vsum array<long>"
        )

        # One distributed partial-merge before the collect (VERDICT
        # r11 #1): the per-batch partials are k x n_partitions rows,
        # and n_partitions is unbounded at 100 TB — collecting them
        # raw was a driver-side materialization that grows with input
        # size. groupBy(cell) merges them to <= k rows (exact: int64
        # element-wise sums are order-free) through ONE tiny shuffle,
        # so the driver collect is codebook-bounded at any scale.
        # JVM-side fold (collect_list + zip_with aggregate) rather
        # than applyInPandas: the interpreted HOF runs over <= k rows
        # of partials, and skipping the grouped-map Python stage
        # saves a worker round-trip per Lloyd round (measured ~0.5 s
        # per query at sf0.1).
        merged = _merge_partials(stats, ["cell"])
        # ROUND(SUM/COUNT) on the driver over <= k rows:
        # integer sums are order-free; the division
        # is the same single IEEE double op as the SQL form; the round
        # is half-away-from-zero. Decimal(float) is the EXACT binary
        # expansion, and at scale 0 every .5 boundary is an exactly
        # representable double, so ROUND_HALF_UP here is bit-identical
        # to Spark's ROUND(double, 0) and DuckDB's ROUND.
        from decimal import ROUND_HALF_UP, Decimal

        sums: dict[int, "np.ndarray"] = {}
        counts: dict[int, int] = {}
        for r in merged.collect():
            c = r["cell"]
            v = np.asarray(r["vsum"], dtype=np.int64)
            if c in sums:
                sums[c] += v
                counts[c] += r["cnt"]
            else:
                sums[c] = v.copy()
                counts[c] = r["cnt"]
        new_rows = {
            c: [
                int(
                    Decimal(float(s) / counts[c]).quantize(
                        Decimal(1), rounding=ROUND_HALF_UP
                    )
                )
                for s in sums[c]
            ]
            for c in sums
        }
        cents = [
            (cid, np.array(new_rows[cid], dtype=np.int64))
            if cid in new_rows
            else (cid, vec)  # empty cell keeps its centroid
            for cid, vec in cents
        ]
        bc.unpersist(False)

    return spark.createDataFrame(
        [(int(c), [int(x) for x in v]) for c, v in cents],
        "cent_id int, cv array<long>",
    )


def lattice_assign(qv: DataFrame, cents: DataFrame) -> DataFrame:
    """Nearest-centroid assignment against a (frozen) lattice codebook:
    (vid, cell int, d2 long) with the EXACT integer squared L2 to the
    winning centroid — ties break to the lowest cent_id, matching the
    oracle's ``ORDER BY d2, cent_id``. One fused Arrow pass against the
    broadcast codebook; the corpus never shuffles. Shared by the
    prototype-pruning and codebook-drift queries (and mirrors the
    assignment step inside lattice_kmeans/lattice_ivf_topk)."""
    import numpy as np
    import pandas as pd

    cent_rows = cents.orderBy("cent_id").collect()
    code = np.stack([np.array(r["cv"], dtype=np.int64) for r in cent_rows])
    cids = np.array([r["cent_id"] for r in cent_rows], dtype=np.int64)

    def assign(it):
        for pdf in it:
            if not len(pdf):
                continue
            x = np.array(pdf["qv"].tolist(), dtype=np.int64)
            _check_domain(x)
            d2 = _d2_int(x, code)
            idx = np.argmin(d2, axis=1)  # ties -> lowest index = lowest cent_id
            yield pd.DataFrame(
                {
                    "vid": pdf["vid"].to_numpy(dtype=np.int64),
                    "cell": cids[idx].astype("int32"),
                    "d2": d2[np.arange(len(idx)), idx].astype("int64"),
                }
            )

    return qv.select("vid", "qv").mapInPandas(
        assign, "vid long, cell int, d2 long"
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
    import pandas as pd

    cent_rows = cents.orderBy("cent_id").collect()
    code = np.stack(
        [np.array(r["cv"], dtype=np.int64) for r in cent_rows]
    )
    cids = np.array([r["cent_id"] for r in cent_rows], dtype=np.int64)
    q_rows = queries.select("vid", "qv").collect()
    if not q_rows:
        return corpus.sparkSession.createDataFrame(
            [], "q_id long, c_id long, adist long, rn int"
        )
    q_ids = np.array([r["vid"] for r in q_rows], dtype=np.int64)
    qm = np.array([r["qv"] for r in q_rows], dtype=np.int64)
    _check_domain(qm)
    qd = _d2_int(qm, code)
    # n_probe nearest cells per query (ties -> lowest cent_id via
    # stable lexsort, matching the oracle's ORDER BY d2, cent_id)
    probe_rows = []
    for qi in range(len(q_ids)):
        order = np.lexsort((cids, qd[qi]))[:n_probe]
        for c in order:
            probe_rows.append((int(q_ids[qi]), int(cids[c])))
    spark = corpus.sparkSession
    probes = spark.createDataFrame(probe_rows, "q_id long, cell int")

    def assign(it):
        for pdf in it:
            if not len(pdf):
                continue
            x = np.array(pdf["qv"].tolist(), dtype=np.int64)
            _check_domain(x)
            idx = np.argmin(_d2_int(x, code), axis=1)
            yield pd.DataFrame(
                {
                    "c_id": pdf["vid"].to_numpy(dtype=np.int64),
                    "cell": cids[idx].astype("int32"),
                    "cqv": pdf["qv"],
                }
            )

    assigned = corpus.mapInPandas(
        assign, "c_id long, cell int, cqv array<long>"
    )
    qdf = spark.createDataFrame(
        [
            (int(q_ids[i]), [int(v) for v in qm[i]])
            for i in range(len(q_ids))
        ],
        "q_id long, qqv array<long>",
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


def lattice_pq_train(
    qv: DataFrame, m: int = 4, n_codes: int = 16, iters: int = 2
) -> DataFrame:
    """Per-subspace portable Lloyd: the PQ analogue of lattice_kmeans.
    All ``m`` subspaces train in the SAME per-round corpus pass
    (partial sums keyed (s, code)); the seed codebook is the one
    md5-ordered first-``n_codes`` draw sliced per subspace, so the SQL
    replay shares lattice_kmeans' seed CTE. Returns
    (s int, code_id int, w array<long>)."""
    import numpy as np
    import pandas as pd

    spark = qv.sparkSession
    sc = spark.sparkContext
    seed = _seed_codebook(qv, n_codes)
    dim = len(seed[0][1])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    # books[s][c] = codeword c of subspace s
    books = [
        np.stack([v[s * sub : (s + 1) * sub] for _, v in seed])
        for s in range(m)
    ]
    base = qv.localCheckpoint(eager=False)

    for _ in range(iters):
        bc = sc.broadcast(np.stack(books))  # (m, n_codes, sub)

        def stats_batches(it, _bc=bc):
            bks = _bc.value
            m_now, k_now, sub_now = bks.shape
            for pdf in it:
                if not len(pdf):
                    continue
                x = np.array(pdf["qv"].tolist(), dtype=np.int64)
                _check_domain(x)
                out_s, out_c, out_cnt, out_sum = [], [], [], []
                for s in range(m_now):
                    xs = x[:, s * sub_now : (s + 1) * sub_now]
                    idx = np.argmin(_d2_int(xs, bks[s]), axis=1)
                    sums = np.zeros((k_now, sub_now), dtype=np.int64)
                    np.add.at(sums, idx, xs)
                    counts = np.bincount(idx, minlength=k_now)
                    nz = np.nonzero(counts)[0]
                    out_s.extend([s] * len(nz))
                    out_c.extend(nz.tolist())
                    out_cnt.extend(counts[nz].tolist())
                    out_sum.extend([list(v) for v in sums[nz]])
                yield pd.DataFrame(
                    {
                        "s": pd.Series(out_s, dtype="int32"),
                        "code": pd.Series(out_c, dtype="int32"),
                        "cnt": pd.Series(out_cnt, dtype="int64"),
                        "vsum": out_sum,
                    }
                )

        stats = base.select("qv").mapInPandas(
            stats_batches, "s int, code int, cnt long, vsum array<long>"
        )

        # distributed partial-merge to <= m * n_codes rows before the
        # collect (VERDICT r11 #1 — the raw partials are
        # m * n_codes * n_partitions rows, unbounded at 100 TB); one
        # tiny shuffle, exact order-free int64 sums, JVM-side fold
        # (see lattice_kmeans)
        merged = _merge_partials(stats, ["s", "code"])
        # fold means on the driver over the codebook-bounded rows —
        # same exactness argument as lattice_kmeans (order-free int64
        # sums, one IEEE division, HALF_UP round bit-identical at
        # scale 0)
        from decimal import ROUND_HALF_UP, Decimal

        sums: dict[tuple, "np.ndarray"] = {}
        counts: dict[tuple, int] = {}
        for r in merged.collect():
            key = (r["s"], r["code"])
            v = np.asarray(r["vsum"], dtype=np.int64)
            if key in sums:
                sums[key] += v
                counts[key] += r["cnt"]
            else:
                sums[key] = v.copy()
                counts[key] = r["cnt"]
        new_rows = {
            key: [
                int(
                    Decimal(float(sv) / counts[key]).quantize(
                        Decimal(1), rounding=ROUND_HALF_UP
                    )
                )
                for sv in sums[key]
            ]
            for key in sums
        }
        books = [
            np.stack(
                [
                    np.array(new_rows[(s, c)], dtype=np.int64)
                    if (s, c) in new_rows
                    else books[s][c]
                    for c in range(n_codes)
                ]
            )
            for s in range(m)
        ]
        bc.unpersist(False)

    return spark.createDataFrame(
        [
            (s, c, [int(x) for x in books[s][c]])
            for s in range(m)
            for c in range(n_codes)
        ],
        "s int, code_id int, w array<long>",
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
    encode each corpus vector per subspace (argmin, ties -> lowest
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
    _check_domain(qm)
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
            _check_domain(X)
            codes = np.empty((len(ids), m), dtype=np.int64)
            for s in range(m):
                codes[:, s] = np.argmin(
                    _d2_int(X[:, s * sub : (s + 1) * sub], bks[s]), axis=1
                )
            adist = np.zeros((len(ids), len(q_ids)), dtype=np.int64)
            for s in range(m):
                adist += lut[:, s, codes[:, s]].T
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


def _gram_int(x):
    """Exact int64 Gram matrix + squared norms of int64 rows ``x``
    (guarded float64 BLAS — every partial sum an integer < 2^53)."""
    import numpy as np

    _check_domain(x)
    xf = x.astype(np.float64)
    dot = (xf @ xf.T).astype(np.int64)
    return dot, np.diag(dot).copy()


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


def lattice_semantic_dedup(
    corpus: DataFrame,
    cents: DataFrame,
    tau_num: int = 2,
    tau_den: int = 5,
) -> DataFrame:
    """SemDeDup over the lattice with an EXACT rational-cosine
    predicate: vector b (within a's trained cell) marks a... rather,
    every vector with a same-cell smaller-id neighbour at
    cos >= tau_num/tau_den is a duplicate. The cosine test is done in
    integer arithmetic — ``dot > 0 AND den^2*dot^2 >= num^2*|a|^2*|b|^2``
    (zero-norm vectors never match: cosine undefined) — so both
    engines agree bit-exactly with NO float threshold margin argument.
    Returns (vec_id, cell int, is_dup boolean) for every corpus row.
    Same plan as operators/similarity.py semantic_dedup: map-side
    assignment, quadratic stage confined to cells via
    groupBy(cell).applyInPandas."""
    import numpy as np
    import pandas as pd

    cent_rows = cents.orderBy("cent_id").collect()
    code = np.stack([np.array(r["cv"], dtype=np.int64) for r in cent_rows])
    cids = np.array([r["cent_id"] for r in cent_rows], dtype=np.int64)

    def assign(it):
        for pdf in it:
            if not len(pdf):
                continue
            x = np.array(pdf["qv"].tolist(), dtype=np.int64)
            _check_domain(x)
            idx = np.argmin(_d2_int(x, code), axis=1)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vid"].to_numpy(dtype=np.int64),
                    "cell": cids[idx].astype("int32"),
                    "qv": pdf["qv"],
                }
            )

    assigned = corpus.mapInPandas(assign, "vec_id long, cell int, qv array<long>")
    num2 = int(tau_num) ** 2
    den2 = int(tau_den) ** 2

    def per_cell(pdf: "pd.DataFrame") -> "pd.DataFrame":
        ids = pdf["vec_id"].to_numpy(dtype=np.int64)
        x = np.array(pdf["qv"].tolist(), dtype=np.int64)
        order = np.argsort(ids)
        ids, x = ids[order], x[order]
        dot, n2 = _gram_int(x)
        # b is a dup if any a<b (by id) in the cell passes the test
        sim = _rational_cos_mask(dot, n2, num2, den2)
        lower = np.tril(np.ones_like(sim, dtype=bool), k=-1)
        is_dup = (sim & lower).any(axis=1)
        return pd.DataFrame(
            {
                "vec_id": ids,
                "cell": pdf["cell"].iloc[0],
                "is_dup": is_dup,
            }
        )

    return assigned.groupBy("cell").applyInPandas(
        per_cell, "vec_id long, cell int, is_dup boolean"
    )


def _collect_codebook(cents: DataFrame):
    """(code (k,dim) int64, cids (k,) int64) from a lattice codebook —
    the bounded k-row collect every search/assign pass shares."""
    import numpy as np

    rows = cents.orderBy("cent_id").collect()
    code = np.stack([np.array(r["cv"], dtype=np.int64) for r in rows])
    cids = np.array([r["cent_id"] for r in rows], dtype=np.int64)
    return code, cids


def _assign_cells(df: DataFrame, code, cids) -> DataFrame:
    """Map-side nearest-centroid assignment against the broadcast
    codebook (exact int L2, ties -> lowest cent_id). ``df`` is a
    quantize() output; returns (vec_id, cell, qv) — the corpus never
    shuffles."""
    import numpy as np
    import pandas as pd

    def assign(it):
        for pdf in it:
            if not len(pdf):
                continue
            x = np.array(pdf["qv"].tolist(), dtype=np.int64)
            idx = np.argmin(_d2_int(x, code), axis=1)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vid"].to_numpy(dtype=np.int64),
                    "cell": cids[idx].astype("int32"),
                    "qv": pdf["qv"],
                }
            )

    return df.mapInPandas(assign, "vec_id long, cell int, qv array<long>")


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
    new_asg = _assign_cells(new, code, cids)
    base_asg = _assign_cells(base, code, cids)
    touched = new_asg.select("cell").distinct()
    base_pruned = base_asg.join(F.broadcast(touched), "cell", "left_semi")
    both = base_pruned.withColumn("is_new", F.lit(False)).unionByName(
        new_asg.withColumn("is_new", F.lit(True))
    )
    num2 = int(tau_num) ** 2
    den2 = int(tau_den) ** 2

    def per_cell(pdf: "pd.DataFrame") -> "pd.DataFrame":
        order = np.argsort(pdf["vec_id"].to_numpy(dtype=np.int64))
        ids = pdf["vec_id"].to_numpy(dtype=np.int64)[order]
        is_new = pdf["is_new"].to_numpy(dtype=bool)[order]
        x = np.array(pdf["qv"].tolist(), dtype=np.int64)[order]
        dot, n2 = _gram_int(x)
        sim = _rational_cos_mask(dot, n2, num2, den2)
        new_idx = np.where(is_new)[0]
        if not len(new_idx):
            return pd.DataFrame(
                {"vec_id": [], "cell": [], "status": []}
            ).astype({"vec_id": "int64", "cell": "int32", "status": "str"})
        base_any = sim[np.ix_(new_idx, np.where(~is_new)[0])].any(axis=1)
        sim_nn = sim[np.ix_(new_idx, new_idx)]
        batch_any = (sim_nn & np.tril(np.ones_like(sim_nn), k=-1)).any(axis=1)
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
