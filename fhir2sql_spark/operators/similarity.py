"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k is the correctness baseline: broadcast the
(small) query set against the candidate corpus — a map-side nested
loop with per-partition top-k, no shuffle of the corpus. The dot
product is a JVM-side zip_with/aggregate fold (sequential, so the
float accumulation order is deterministic — required for oracle
parity).

Scale path: LSH bucketing via random hyperplanes (cosine LSH). Each
vector maps to a bit-signature; candidates are vectors sharing a
bucket in >=1 table. Turns all-pairs into an equi-join on
(table, bucket) — the same banding trick as MinHash, 100 TB-safe.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# Fixture embedding dimensionality. Operators take dim explicitly;
# this is only the default.
DIM = 64


def _dot(a: str | F.Column, b: str | F.Column, dim: int | None = None) -> F.Column:
    """Dot product as a zip_with/aggregate fold: sequential
    left-to-right accumulation — the same order as DuckDB's
    list_dot_product, so results are bit-identical (oracle parity).

    Measured (500k pairs x 64 dims, local[32]): this fold runs 2-3x
    FASTER than an explicit 64-term element_at/getItem sum — the giant
    expression tree defeats whole-stage codegen while the higher-order
    functions use a specialized evaluator. Keep the fold; precompute
    norms per VECTOR (not per pair) and barrier them with
    localCheckpoint so Catalyst's projection collapse can't inline the
    norm expression into the per-pair projection (``dim`` is accepted
    for signature stability; the fold doesn't need it)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: str | F.Column, dim: int | None = None) -> F.Column:
    return F.sqrt(_dot(a, a, dim))


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = DIM,
    exclude_label_col: str | None = None,
) -> DataFrame:
    """Exact cosine top-k: for each query vector, the k nearest corpus
    vectors (self excluded), ties broken by candidate id ascending.

    ``exclude_label_col`` names a column present on BOTH sides; when
    set, candidates sharing the query's label are excluded BEFORE the
    ranking — hard-negative mining (the contrastive-training data op:
    nearest neighbors that should NOT match). The filter rides the
    same broadcast join, so the plan shape is unchanged."""
    q_cols = [F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec")]
    c_cols = [F.col(id_col).alias("c_id"), F.col(vec_col).alias("c_vec")]
    if exclude_label_col is not None:
        q_cols.append(F.col(exclude_label_col).alias("q_label"))
        c_cols.append(F.col(exclude_label_col).alias("c_label"))
    q = queries.select(*q_cols)
    c = corpus.select(*c_cols)
    q = q.withColumn("q_norm", _norm("q_vec", dim))
    c = c.withColumn("c_norm", _norm("c_vec", dim))
    pairs = F.broadcast(q).crossJoin(c).where(F.col("q_id") != F.col("c_id"))
    if exclude_label_col is not None:
        pairs = pairs.where(F.col("q_label") != F.col("c_label"))
    scored = pairs.select(
        "q_id",
        "c_id",
        (
            _dot("q_vec", "c_vec", dim) / (F.col("q_norm") * F.col("c_norm"))
        ).alias("cosine"),
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("c_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select("q_id", "c_id", F.round("cosine", 4).alias("cosine"), "rn")
    )


def _hyperplanes(dim: int, n_planes: int, seed: int) -> list[list[float]]:
    import random

    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)]


def lsh_bucket_signatures(
    vectors: DataFrame,
    dim: int = 64,
    n_planes: int = 16,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Random-hyperplane (cosine) LSH: sign-bit signature per vector.

    The hyperplanes are generated driver-side from a seed (tiny —
    n_planes x dim floats) and folded into the plan as literals, so the
    executor-side work is pure column arithmetic on the JVM.
    """
    planes = _hyperplanes(dim, n_planes, seed)
    bits = []
    for p_i, plane in enumerate(planes):
        lit_plane = F.array(*[F.lit(x) for x in plane])
        bits.append(
            F.when(_dot(F.col(vec_col), lit_plane) >= 0, F.lit(1)).otherwise(
                F.lit(0)
            ).alias(f"bit{p_i}")
        )
    sig = vectors.select(F.col(id_col), F.col(vec_col), *bits)
    bucket = F.concat_ws("", *[F.col(f"bit{i}") for i in range(n_planes)])
    return sig.select(
        F.col(id_col), F.col(vec_col), bucket.alias("bucket")
    )


def ann_topk_lsh(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    dim: int = 64,
    n_planes: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: exact cosine ranking restricted to same-
    bucket candidates. Recall vs cosine_topk is measured in tests
    (probabilistic operator — rows-only driver check)."""
    qs = lsh_bucket_signatures(queries, dim, n_planes, seed, id_col, vec_col)
    cs = lsh_bucket_signatures(corpus, dim, n_planes, seed, id_col, vec_col)
    q = qs.select(
        F.col(id_col).alias("q_id"),
        F.col(vec_col).alias("q_vec"),
        F.col("bucket"),
    )
    c = cs.select(
        F.col(id_col).alias("c_id"),
        F.col(vec_col).alias("c_vec"),
        F.col("bucket").alias("bucket_c"),
    )
    pairs = F.broadcast(q).join(
        c, (F.col("bucket") == F.col("bucket_c")) & (F.col("q_id") != F.col("c_id"))
    )
    scored = pairs.select(
        "q_id",
        "c_id",
        (_dot("q_vec", "c_vec") / (_norm("q_vec") * _norm("c_vec"))).alias("cosine"),
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("c_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select("q_id", "c_id", F.round("cosine", 4).alias("cosine"), "rn")
    )


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-style approximate top-k: coarse-quantize the corpus against
    a small centroid codebook, then search only the n_probe closest
    cells per query.

    The cell assignment is an equi-joinable integer (computed map-side
    — Arrow/numpy argmax against the broadcast codebook), so the
    search is a (query-cell x corpus-cell) equi-join with the tiny
    query side broadcast: the corpus never shuffles at all; candidate
    count ~ corpus x n_probe / n_centroids. The codebook is the first
    n_centroids corpus vectors (deterministic, oracle-stable, but cell
    populations grow with N). The trained codebook is
    operators/lattice.py: lattice_kmeans + lattice_ivf_topk, the same
    plan over integer squared L2, with n_centroids ∝ sqrt(N) at real
    scale. Candidate cosines for the exact re-rank stay in the
    JVM-side sequential fold."""
    cents = (
        corpus.orderBy(id_col)
        .limit(n_centroids)
        .select(F.col(id_col).alias("cent_id"), F.col(vec_col).alias("cent_vec"))
    )
    # Cell assignment is a map-side Arrow/numpy argmax against the
    # broadcast codebook matrix (config-sized: k x dim float64) — no
    # shuffle, no per-row expression tree. Dense vector math belongs
    # in BLAS, not interpreted HOF folds: the crossJoin+window form
    # shuffled every (vector x cell) struct, and a literal-array fold
    # variant defeated codegen (both measured 2-5x slower at sf1).
    # Ties break to the LOWEST cent_id (stable argsort over the
    # cent_id-ordered codebook), matching the previous window order
    # (cos desc, cent_id asc). Candidate cosines for the final exact
    # ranking are still the JVM-side sequential fold below.
    import numpy as np
    import pandas as pd

    cent_rows = cents.orderBy("cent_id").collect()
    if not cent_rows:
        # an empty codebook/corpus means no cells: empty result, same
        # schema (the old lazy crossJoin plan degenerated the same way
        # — numpy would instead raise on the 0-row matrix)
        return queries.sparkSession.createDataFrame(
            [], "q_id long, c_id long, cosine double, rn int"
        )
    code = np.array([r["cent_vec"] for r in cent_rows], dtype=np.float64)
    code_n = np.linalg.norm(code, axis=1)
    code_n[code_n == 0] = 1.0
    code_unit = code / code_n[:, None]
    cids = np.array([r["cent_id"] for r in cent_rows], dtype=np.int64)
    bc = corpus.sparkSession.sparkContext.broadcast((cids, code_unit))

    def assign(df: DataFrame, id_out: str, vec_out: str, n: int) -> DataFrame:
        """Attach the n nearest centroid ids (map-side, no shuffle).
        Output id/vec types mirror THIS side's schema (query and
        corpus frames may differ)."""
        types = {f.name: f.dataType.simpleString() for f in df.schema.fields}
        id_type = types.get(id_col, "long")
        vec_type = types.get(vec_col, "array<float>")

        def batches(it):
            b_cids, b_code = bc.value
            for pdf in it:
                if len(pdf) == 0:
                    continue
                x = np.array(pdf["__vec"].tolist(), dtype=np.float64)
                xn = np.linalg.norm(x, axis=1, keepdims=True)
                xn[xn == 0] = 1.0
                sims = (x / xn) @ b_code.T
                order = np.argsort(-sims, axis=1, kind="stable")[:, :n]
                reps = order.shape[1]
                yield pd.DataFrame(
                    {
                        id_out: np.repeat(pdf["__id"].to_numpy(), reps),
                        # .to_numpy(): a raw Series would realign on its
                        # repeated index and scramble rows
                        vec_out: pdf["__vec"].repeat(reps).to_numpy(),
                        "cent_id": b_cids[order].reshape(-1).astype("int32"),
                    }
                )

        src = df.select(
            F.col(id_col).alias("__id"), F.col(vec_col).alias("__vec")
        )
        return src.mapInPandas(
            batches,
            f"{id_out} {id_type}, {vec_out} {vec_type}, cent_id int",
        )

    c_assigned = assign(corpus, "c_id", "c_vec", 1)
    q_assigned = assign(queries, "q_id", "q_vec", n_probe)
    pairs = F.broadcast(q_assigned).join(c_assigned, "cent_id").where(
        F.col("q_id") != F.col("c_id")
    )
    scored = pairs.select(
        "q_id",
        "c_id",
        (_dot("q_vec", "c_vec") / (_norm("q_vec") * _norm("c_vec"))).alias(
            "cosine"
        ),
    ).dropDuplicates(["q_id", "c_id"])
    w = Window.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("c_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select("q_id", "c_id", F.round("cosine", 4).alias("cosine"), "rn")
    )


def cosine_near_pairs(
    vectors: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = DIM,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: all (a < b) with
    cosine >= threshold. Exact all-pairs form (oracle contract);
    bucket with lsh_bucket_signatures first at scale. Norms are
    computed once per vector BEFORE the pair join (the naive per-pair
    form tripled the fold work)."""
    a = vectors.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("vec_a"),
        _norm(F.col(vec_col), dim).alias("norm_a"),
    )
    b = vectors.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("vec_b"),
        _norm(F.col(vec_col), dim).alias("norm_b"),
    )
    # lineage barrier: without it Catalyst collapses the norm
    # projection into the post-join projection and recomputes both
    # norms for every PAIR (measured 1.5x slower)
    a = a.localCheckpoint(eager=False)
    b = b.localCheckpoint(eager=False)
    # the checkpoint RDD inherits the (1-2 partition) bounded-slice
    # scan layout, which serializes the O(n^2) fold into one task;
    # spread the STREAM side of the nested-loop join over the cluster
    # (work here scales with n^2, not input bytes)
    par = vectors.sparkSession.sparkContext.defaultParallelism
    if a.rdd.getNumPartitions() < par:
        a = a.repartition(par)
    cos_raw = _dot("vec_a", "vec_b", dim) / (F.col("norm_a") * F.col("norm_b"))
    # author the join condition with the cheap id predicate FIRST:
    # letting the .where() push down appended the fold as the leading
    # conjunct, evaluating it for every ORDERED pair (2x the folds)
    pairs = a.join(
        b, (F.col("id_a") < F.col("id_b")) & (cos_raw >= threshold)
    )
    return pairs.select(
        "id_a", "id_b", F.round(cos_raw, 4).alias("cosine")
    )


def cosine_near_pairs_bulk(
    vectors: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_broadcast_rows: int = 1_000_000,
) -> DataFrame:
    """Bulk exact near-pairs via Arrow + numpy blocked matmul — the
    throughput path for corpora whose NORMALIZED float32 matrix fits a
    broadcast (10^6 vectors x 64 dims x 4 B = 256 MB). Each partition
    multiplies its block against the broadcast matrix with BLAS;
    emitted pairs are (a < b, cosine >= threshold). float32
    accumulation differs from the sequential float64 fold below the
    round(4) precision — use cosine_near_pairs when bit-parity with an
    oracle matters, this one for production throughput.

    The corpus is counted BEFORE materializing on the driver and the
    call fails fast above ``max_broadcast_rows`` (round-2 advisor:
    an unguarded collect here would OOM the driver silently). The
    driver transfer is Arrow (``toArrow``), not Row objects, and only
    the float32 normalized matrix is broadcast. Beyond broadcast
    size, use cosine_near_pairs_bucketed_bulk — no driver
    materialization at all."""
    import numpy as np
    import pandas as pd

    n = vectors.count()
    if n > max_broadcast_rows:
        raise ValueError(
            f"corpus has {n} vectors > max_broadcast_rows="
            f"{max_broadcast_rows}; the broadcast matrix would not fit "
            "— use cosine_near_pairs_bucketed_bulk (LSH-bucketed, no "
            "driver materialization) or raise the bound explicitly"
        )
    tbl = vectors.select(id_col, vec_col).toArrow()
    ids = tbl.column(id_col).to_numpy().astype(np.int64)
    mat = np.array(tbl.column(vec_col).to_pylist(), dtype=np.float32)
    norms = np.linalg.norm(mat, axis=1)
    normed = (mat / norms[:, None]).astype(np.float32)
    spark = vectors.sparkSession
    bc = spark.sparkContext.broadcast((ids, normed))

    def block(batches):
        b_ids, b_normed = bc.value
        for pdf in batches:
            idx = pdf["__idx"].to_numpy()
            sims = b_normed[idx] @ b_normed.T  # (block, corpus) float32
            # vectorized pair extraction: upper-triangle by id order
            keep = (sims >= np.float32(threshold)) & (
                b_ids[None, :] > b_ids[idx][:, None]
            )
            rpos, cpos = np.nonzero(keep)
            yield pd.DataFrame(
                {
                    "id_a": b_ids[idx][rpos],
                    "id_b": b_ids[cpos],
                    "cosine": np.round(sims[rpos, cpos].astype(np.float64), 4),
                }
            )

    index_df = spark.range(n).selectExpr("CAST(id AS INT) AS __idx")
    return index_df.mapInPandas(block, "id_a long, id_b long, cosine double")


def cosine_near_pairs_bucketed_bulk(
    vectors: DataFrame,
    threshold: float,
    dim: int = DIM,
    n_planes: int = 6,
    n_tables: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The 100 TB composition: hyperplane-LSH bucketing upstream of a
    per-bucket numpy matmul. No all-pairs join, no driver collect, no
    broadcast matrix — the only shuffle is the (table, bucket)
    hash-partitioning, and each bucket's candidate block is multiplied
    with BLAS inside ``applyInPandas``.

    OR-amplification over ``n_tables`` independent signature tables
    bounds the miss probability: a pair at angle theta collides in one
    table with p = (1 - theta/pi)^n_planes, so
    P(missed) = (1 - p)^n_tables — at cosine 0.99 (theta ~ 8 deg),
    n_planes=6 / n_tables=8 gives P(missed) ~ 1e-5. Recall is a
    function of the threshold: this is the near-DUPLICATE form
    (cosine >= ~0.95), not a general similarity join — low thresholds
    need impractically many tables (use the exact or bulk forms
    there). Bucket width is tuned with ``n_planes``: more planes →
    narrower buckets → less per-bucket work, lower recall.

    Duplicate candidate pairs across tables are collapsed with one
    dropDuplicates on (id_a, id_b); cosines are recomputed identically
    in every table, so the dedup is exact.

    r12 (guide §4.1/§4.2): signatures for ALL tables come from ONE
    ``mapInPandas`` batch matmul against the stacked (tables x planes
    x dim) literal instead of n_tables x n_planes interpreted
    ``aggregate``/``zip_with`` dot folds per vector (HOF lambdas never
    codegen and re-enter the interpreter per ELEMENT — 2 x 8 x 64 =
    1024 dispatches/vector at the q_dedup_embed_bucketed settings),
    and the n_tables-way union of the corpus collapses to one pass.
    Sign bits may differ from the fold's in the last ulp of a
    near-zero dot product, which only perturbs CANDIDATE grouping —
    emitted pairs are decided by the exact per-bucket cosine
    threshold, identical vectors share every bucket under any
    deterministic arithmetic, and the operator's recall contract is
    the OR-amplification bound, not a pinned bucket assignment. (The
    ann_topk_lsh path, whose oracle REPLAYS bucket arithmetic in SQL,
    keeps the fold form in lsh_bucket_signatures untouched.)"""
    import numpy as np
    import pandas as pd

    planes_all = np.array(
        [
            _hyperplanes(dim, n_planes, seed + 7919 * t)
            for t in range(n_tables)
        ],
        dtype=np.float64,
    )  # (n_tables, n_planes, dim)

    def sig_batches(it):
        for pdf in it:
            if not len(pdf):
                continue
            mat = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            ids = pdf[id_col]
            for t in range(n_tables):
                bits = (mat @ planes_all[t].T) >= 0.0  # (n, n_planes)
                buckets = [
                    "".join("1" if b else "0" for b in row) for row in bits
                ]
                yield pd.DataFrame(
                    {
                        "tbl": np.full(len(ids), t, dtype=np.int32),
                        "bucket": buckets,
                        "vid": ids,
                        "vec": pdf[vec_col],
                    }
                )

    allsigs = vectors.select(
        F.col(id_col), F.col(vec_col)
    ).mapInPandas(
        sig_batches,
        f"tbl int, bucket string, vid long, vec {vectors.schema[vec_col].dataType.simpleString()}",
    )

    def per_bucket(pdf: "pd.DataFrame") -> "pd.DataFrame":
        ids = pdf["vid"].to_numpy().astype(np.int64)
        mat = np.array(pdf["vec"].tolist(), dtype=np.float32)
        norms = np.linalg.norm(mat, axis=1)
        normed = (mat / norms[:, None]).astype(np.float32)
        sims = normed @ normed.T
        keep = (sims >= np.float32(threshold)) & (ids[None, :] > ids[:, None])
        rpos, cpos = np.nonzero(keep)
        return pd.DataFrame(
            {
                "id_a": ids[rpos],
                "id_b": ids[cpos],
                "cosine": np.round(sims[rpos, cpos].astype(np.float64), 4),
            }
        )

    pairs = allsigs.groupBy("tbl", "bucket").applyInPandas(
        per_bucket, "id_a long, id_b long, cosine double"
    )
    return pairs.dropDuplicates(["id_a", "id_b"])


def semantic_dedup(
    corpus: DataFrame,
    tau: float = 0.4,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): coarse-cluster the corpus, then mark as
    duplicate every item that has a same-cluster neighbour with cosine
    >= ``tau`` and a smaller id (keep-lowest-id, no transitive
    chaining — each drop decision is a local pairwise predicate, which
    is what makes the operator embarrassingly parallel).

    Scale shape: cell assignment is the map-side Arrow/numpy argmax
    against the broadcast codebook (identical pattern + tie rule to
    ivf_topk above — lowest cent_id on a tie); the quadratic pairwise
    stage is confined within cells, so total work is
    sum(cell_size^2) ≈ N^2 / n_centroids with a balanced codebook —
    with n_centroids ∝ sqrt(N) the per-cell work stays constant as the
    corpus grows. The only shuffle is the cell equi-join.

    Returns ``(id_col, cell int, is_dup boolean)`` for every corpus
    row. The codebook is the first ``n_centroids`` corpus vectors by
    id (deterministic, oracle-replayable — the q_embed_ivf
    convention); the trained-codebook form is operators/lattice.py
    lattice_semantic_dedup."""
    import numpy as np
    import pandas as pd

    cents = (
        corpus.orderBy(id_col)
        .limit(n_centroids)
        .select(F.col(id_col).alias("cent_id"), F.col(vec_col).alias("cent_vec"))
    )
    cent_rows = cents.orderBy("cent_id").collect()
    if not cent_rows:
        return corpus.sparkSession.createDataFrame(
            [], f"{id_col} long, cell int, is_dup boolean"
        )
    code = np.array([r["cent_vec"] for r in cent_rows], dtype=np.float64)
    code_n = np.linalg.norm(code, axis=1)
    code_n[code_n == 0] = 1.0
    code_unit = code / code_n[:, None]
    cids = np.array([r["cent_id"] for r in cent_rows], dtype=np.int64)
    bc = corpus.sparkSession.sparkContext.broadcast((cids, code_unit))

    types = {f.name: f.dataType.simpleString() for f in corpus.schema.fields}
    id_type = types.get(id_col, "long")
    vec_type = types.get(vec_col, "array<float>")

    def batches(it):
        b_cids, b_code = bc.value
        for pdf in it:
            if len(pdf) == 0:
                continue
            x = np.array(pdf["__vec"].tolist(), dtype=np.float64)
            xn = np.linalg.norm(x, axis=1, keepdims=True)
            xn[xn == 0] = 1.0
            sims = (x / xn) @ b_code.T
            best = np.argsort(-sims, axis=1, kind="stable")[:, 0]
            yield pd.DataFrame(
                {
                    "__id": pdf["__id"].to_numpy(),
                    "__vec": pdf["__vec"].to_numpy(),
                    "cell": b_cids[best].astype("int32"),
                }
            )

    assigned = corpus.select(
        F.col(id_col).alias("__id"), F.col(vec_col).alias("__vec")
    ).mapInPandas(batches, f"__id {id_type}, __vec {vec_type}, cell int")

    # Pairwise stage: per-cell blocked float64 BLAS via applyInPandas
    # (one shuffle on cell). The join+HOF-fold rendering paid
    # interpreted per-element evaluation for every pair dot product
    # (Spark runs lambda expressions outside codegen): 5.3 s at
    # sf0.1 vs ~1 s for this form. Hash safety vs the oracle's
    # sequential fold: float64 matmul differs only in accumulation
    # order (~1e-15 relative), and the fixture's closest pair sits
    # 1.3e-4 from tau at the sf0.01 gate (9.9e-6 at sf0.1) — margins
    # asserted in tests/test_round5_ops.py.
    def cell_dups(pdf: "pd.DataFrame") -> "pd.DataFrame":
        if len(pdf) < 2:
            return pd.DataFrame({"__dup": np.array([], dtype=np.int64)})
        order = np.argsort(pdf["__id"].to_numpy(), kind="stable")
        ids = pdf["__id"].to_numpy()[order]
        x = np.array(pdf["__vec"].iloc[order].tolist(), dtype=np.float64)
        nrm = np.linalg.norm(x, axis=1)
        nrm[nrm == 0] = 1.0
        u = x / nrm[:, None]
        m = len(ids)
        cols = np.arange(m)
        dup = np.zeros(m, dtype=bool)
        blk = 4096  # bounds the sim-matrix slab at blk x m doubles
        for s in range(0, m, blk):
            e = min(s + blk, m)
            sims = u[s:e] @ u.T
            valid = np.arange(s, e)[:, None] < cols[None, :]
            dup |= ((sims >= tau) & valid).any(axis=0)
        return pd.DataFrame({"__dup": ids[dup]})

    # cells partition the corpus and ids are unique, so the emitted
    # dup ids are already globally unique — no distinct needed
    dup_ids = assigned.groupBy("cell").applyInPandas(
        cell_dups, f"__dup {id_type}"
    )
    return (
        assigned.join(
            dup_ids, assigned["__id"] == dup_ids["__dup"], "left"
        )
        .select(
            F.col("__id").alias(id_col),
            "cell",
            F.col("__dup").isNotNull().alias("is_dup"),
        )
    )
