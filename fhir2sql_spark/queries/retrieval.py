"""Retrieval / curation additions (round 5, SURVEY.md §2.4): exact
phrase search, a hashed-ngram linear quality classifier, and
SemDeDup-style semantic deduplication.

The reference (samply/fhir2sql — a Rust sync daemon, src/main.rs) has
no text/IR surface; these extend the LLM-curation inventory next to
queries/llm.py (BM25, minhash/simhash dedup, ANN) with three shapes it
lacked: positional phrase matching, an ML-style hashed feature scorer,
and cluster-bounded embedding dedup.

Engine-portability notes: the classifier hash is the 60-bit md5
prefix both engines compute identically (the q_dedup_*_portable
construction); its weights are integers so sums are order-free; the
semantic-dedup codebook is the deterministic first-16-by-id
(q_embed_ivf convention) and its BLAS pairwise cosines sit ~1e-15
from the oracle's fold against a measured 1e-4 threshold margin.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fhir2sql_spark.operators import similarity
from fhir2sql_spark.operators.text import hashed_ngram_scores, phrase_hits
from fhir2sql_spark.registry import query
from fhir2sql_spark.tables import load

# 60-bit md5-prefix of an expression, as DuckDB positional nibble
# arithmetic — identical to Spark's conv(substr(md5(x),1,15),16,10)
# (same construction as the portable dedup twins in queries/llm.py).
def _md5_60(expr: str) -> str:
    return "(" + " + ".join(
        f"(strpos('0123456789abcdef', substr(md5({expr}), {k}, 1)) - 1)"
        f" * {16 ** (15 - k)}"
        for k in range(1, 16)
    ) + ")"


_PHRASE = "table hash"


@query(
    "q_search_phrase",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ),
    u AS (
        SELECT doc_id, unnest(toks) AS tok,
               generate_subscripts(toks, 1) AS pos
        FROM t
    )
    SELECT a.doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits
    FROM u a JOIN u b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
    WHERE a.tok = '{_PHRASE.split()[0]}' AND b.tok = '{_PHRASE.split()[1]}'
    GROUP BY a.doc_id
    """,
)
def q_search_phrase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact phrase search: documents containing the token sequence
    '{phrase}' with per-document occurrence counts. The Spark side is
    a pure higher-order array expression (operators/text.py
    phrase_hits) — no explode, no shuffle, no Python: phrase search
    rides the parquet scan inside whole-stage codegen. The oracle
    replays the classic posting-list plan (posexplode + position
    adjacency self-join) — same semantics, deliberately different
    plan, so the hash check pins the operator's semantics rather than
    its implementation."""
    docs = load(spark, sf_dir, "documents")
    # cheap-filter-then-verify: the regex is a strict SUPERSET of the
    # token-adjacency predicate (adjacent tokens imply the substring
    # 'table\s+hash'; false positives like 'notable hash' survive the
    # prefilter and are rejected by the exact positional count), so
    # the interpreted HOF scan runs only on candidate docs — 2.4 s ->
    # ~0.5 s at sf0.1 with a ~9% hit rate
    candidates = docs.where(
        F.col("text").rlike(r"\s+".join(map(re.escape, _PHRASE.split())))
    )
    return (
        candidates.select(
            "doc_id", phrase_hits(F.col("text"), _PHRASE).cast("long").alias("n_hits")
        )
        .where(F.col("n_hits") > 0)
    )


@query(
    "q_quality_classifier",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ),
    u AS (
        SELECT doc_id, unnest(toks) AS tok,
               generate_subscripts(toks, 1) AS pos
        FROM t WHERE len(toks) >= 2
    ),
    grams AS (
        SELECT a.doc_id, a.tok || ' ' || b.tok AS gram
        FROM u a JOIN u b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
    ),
    w AS (
        SELECT doc_id, ({_md5_60('gram')} % 1001) - 500 AS wt FROM grams
    ),
    s AS (
        SELECT doc_id, CAST(SUM(wt) AS DOUBLE) / COUNT(*) AS score
        FROM w GROUP BY doc_id
    )
    SELECT doc_id, score, score > 0 AS kept FROM s
    """,
)
def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear quality classifier over hashed word-bigram features —
    the fasttext-classifier shape used for corpus filtering, with a
    deterministic weight table (w(h) = h mod 1001 - 500 over the
    engine-portable 60-bit md5 feature hash) standing in for trained
    weights so the ENTIRE pipeline gets an exact external gate.

    Spark side: the exploded hash-aggregate form (operators/text.py
    hashed_ngram_scores) — md5/conv run as compiled codegen
    expressions on a flat bigram column with one doc_id-keyed shuffle
    (the equivalent no-shuffle HOF-array form, hashed_ngram_score,
    pays interpreted lambda evaluation and measured 4x slower at
    sf0.1; both are property-tested equal). Integer sums are
    accumulation-order-free and the single double division is
    IEEE-identical across engines, so no rounding tolerance is needed
    anywhere."""
    docs = load(spark, sf_dir, "documents")
    scored = hashed_ngram_scores(docs, "doc_id", "text", buckets=1001)
    return scored.select(
        "doc_id", "score", (F.col("score") > 0).alias("kept")
    )


@query(
    "q_dedup_semantic",
    oracle="""
    WITH v AS MATERIALIZED (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
    ),
    cents AS MATERIALIZED (
        SELECT vec_id AS cent_id, e AS cv FROM v
        WHERE vec_id IN (SELECT vec_id FROM v ORDER BY vec_id LIMIT 16)
    ),
    asg AS MATERIALIZED (
        SELECT vec_id, cell FROM (
            SELECT v.vec_id, c.cent_id AS cell,
                   ROW_NUMBER() OVER (
                       PARTITION BY v.vec_id
                       ORDER BY list_dot_product(v.e, c.cv)
                                  / (sqrt(list_dot_product(v.e, v.e))
                                     * sqrt(list_dot_product(c.cv, c.cv))) DESC,
                                c.cent_id) AS rn
            FROM v CROSS JOIN cents c
        ) t WHERE rn = 1
    ),
    dup AS (
        SELECT DISTINCT b.vec_id
        FROM asg a JOIN asg b ON a.cell = b.cell AND a.vec_id < b.vec_id
        JOIN v va ON va.vec_id = a.vec_id
        JOIN v vb ON vb.vec_id = b.vec_id
        WHERE list_dot_product(va.e, vb.e)
                / (sqrt(list_dot_product(va.e, va.e))
                   * sqrt(list_dot_product(vb.e, vb.e))) >= 0.4
    )
    SELECT asg.vec_id, CAST(asg.cell AS INTEGER) AS cell,
           (dup.vec_id IS NOT NULL) AS is_dup
    FROM asg LEFT JOIN dup ON asg.vec_id = dup.vec_id
    """,
)
def q_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023):
    coarse-cluster into 16 cells (deterministic first-16-by-id
    codebook, the q_embed_ivf convention), then mark every vector with
    a same-cell, smaller-id neighbour at cosine >= 0.4 as a duplicate.
    Emits the keep/drop verdict for EVERY corpus row.

    Scale shape (operators/similarity.py semantic_dedup): map-side
    Arrow/numpy cell assignment against the broadcast codebook — the
    corpus never shuffles for assignment — and the quadratic pairwise
    stage is confined within cells (sum(cell^2) ≈ N^2/k; at real
    scale use the trained k ∝ sqrt(N) form, q_dedup_semantic_trained).
    Exact oracle: the codebook is deterministic, the pairwise verdict
    comes from per-cell blocked float64 BLAS whose only
    divergence from the oracle's sequential fold is accumulation
    order (~1e-15, vs a measured 1.3e-4 fixture margin to tau —
    asserted in tests/test_round5_ops.py), and the only
    representational freedom (numpy matmul vs SQL fold in the argmax,
    ~1e-15) cannot flip an assignment on this fixture (no near-tied
    centroids — same argument as q_embed_ivf's graduation)."""
    emb = load(spark, sf_dir, "embeddings")
    return similarity.semantic_dedup(emb, tau=0.4, n_centroids=16)


def _semantic_trained_oracle(rounds: int = 2) -> str:
    """Lattice-trained SemDeDup: the IVF prologue with
    k = GREATEST(16, floor(sqrt(N))) centroids, then the same-cell
    pairwise verdict via the EXACT rational-cosine predicate
    dot > 0 AND 25*dot^2 >= 4*|a|^2*|b|^2 (tau = 2/5) — pure int64
    arithmetic, so no float threshold-margin argument is needed at
    all (the fixed-codebook q_dedup_semantic still relies on one)."""
    from fhir2sql_spark.queries.llm import _lattice_prologue

    pro, cb = _lattice_prologue(
        "(SELECT GREATEST(16, CAST(FLOOR(SQRT(COUNT(*))) AS BIGINT)) FROM q)",
        rounds,
    )
    d2 = (
        "CAST(list_dot_product(t.qv,t.qv) - 2*list_dot_product(t.qv,c.cv)"
        " + list_dot_product(c.cv,c.cv) AS BIGINT)"
    )
    return f"""WITH {pro},
asg AS MATERIALIZED (
  SELECT vec_id, cent_id FROM (
    SELECT t.vec_id, c.cent_id,
           ROW_NUMBER() OVER (PARTITION BY t.vec_id
                              ORDER BY {d2}, c.cent_id) AS rn
    FROM q t CROSS JOIN {cb} c) z
  WHERE rn = 1
),
norms AS MATERIALIZED (
  SELECT vec_id, CAST(list_dot_product(qv, qv) AS BIGINT) AS n2 FROM q
),
dup AS (
  SELECT DISTINCT b.vec_id
  FROM asg a JOIN asg b ON a.cent_id = b.cent_id AND a.vec_id < b.vec_id
  JOIN q qa ON qa.vec_id = a.vec_id
  JOIN q qb ON qb.vec_id = b.vec_id
  JOIN norms na ON na.vec_id = a.vec_id
  JOIN norms nb ON nb.vec_id = b.vec_id
  WHERE na.n2 > 0 AND nb.n2 > 0
    AND CAST(list_dot_product(qa.qv, qb.qv) AS BIGINT) > 0
    AND 25 * CAST(list_dot_product(qa.qv, qb.qv) AS BIGINT)
           * CAST(list_dot_product(qa.qv, qb.qv) AS BIGINT)
        >= 4 * na.n2 * nb.n2
)
SELECT asg.vec_id, CAST(asg.cent_id AS INTEGER) AS cell,
       (dup.vec_id IS NOT NULL) AS is_dup
FROM asg LEFT JOIN dup ON asg.vec_id = dup.vec_id"""


@query("q_dedup_semantic_trained", oracle=_semantic_trained_oracle())
def q_dedup_semantic_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup with a TRAINED k ~ sqrt(N) codebook, EXACT-oracled
    (round-6 graduation from rows-only): 2 distributed Lloyd rounds
    over the integer lattice (operators/lattice.py — md5-seeded init,
    integer partial-sum updates), then the same-cell pairwise verdict
    under the EXACT rational predicate cos >= 2/5 <=> dot > 0 AND
    25*dot^2 >= 4*|a|^2*|b|^2 in int64 — both engines agree
    bit-exactly with no threshold-margin argument. Balanced trained
    cells keep the quadratic stage at ~N^2/k = N^1.5 total work
    (the fixed-codebook cell-bloat fix measured at sf10, SCALE.md).
    Clone flagging under a trained codebook is property-tested in
    tests/test_lattice.py."""
    import math

    from fhir2sql_spark.operators import lattice

    emb = load(spark, sf_dir, "embeddings")
    qv = lattice.materialize(lattice.quantize(emb))
    n = qv.count()
    k = max(16, math.isqrt(n))
    cents = lattice.lattice_kmeans(qv, k=k, iters=2)
    return lattice.lattice_semantic_dedup(qv, cents, tau_num=2, tau_den=5)


def _semantic_inc_oracle(rounds: int = 2) -> str:
    """Incremental SemDeDup replay: the lattice prologue trained on
    the BASE shard only (vec_id % 3 <> 0 — the q_dedup_incremental
    shard convention), the NEW batch (vec_id % 3 = 0) quantized and
    assigned against that FROZEN codebook, then the exact rational
    predicate (tau = 2/5: dot > 0 AND 25*dot^2 >= 4*|a|^2*|b|^2)
    classifies each new vector: dup_corpus beats dup_batch beats new,
    with the min-id keeper rule inside the batch."""
    from fhir2sql_spark.queries.llm import (
        _LATTICE_SCALE,
        _d2i,
        _lattice_prologue,
    )

    pro, cb = _lattice_prologue(
        "(SELECT GREATEST(16, CAST(FLOOR(SQRT(COUNT(*))) AS BIGINT)) FROM q)",
        rounds,
        src_where=" WHERE vec_id % 3 <> 0",
    )
    pred = (
        "na.n2 > 0 AND nb.n2 > 0"
        " AND CAST(list_dot_product(a.qv, b.qv) AS BIGINT) > 0"
        " AND 25 * CAST(list_dot_product(a.qv, b.qv) AS BIGINT)"
        "        * CAST(list_dot_product(a.qv, b.qv) AS BIGINT)"
        "     >= 4 * na.n2 * nb.n2"
    )
    return f"""WITH {pro},
qn AS MATERIALIZED (
  SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]),
                                x -> CAST(ROUND(x * {_LATTICE_SCALE}) AS BIGINT)) AS qv
  FROM embeddings WHERE vec_id % 3 = 0
),
asg_new AS MATERIALIZED (
  SELECT vec_id, cent_id, qv FROM (
    SELECT t.vec_id, c.cent_id, t.qv,
           ROW_NUMBER() OVER (PARTITION BY t.vec_id
                              ORDER BY {_d2i('t.qv', 'c.cv')}, c.cent_id) AS rn
    FROM qn t CROSS JOIN {cb} c) z
  WHERE rn = 1
),
asg_base AS MATERIALIZED (
  SELECT vec_id, cent_id, qv FROM (
    SELECT t.vec_id, c.cent_id, t.qv,
           ROW_NUMBER() OVER (PARTITION BY t.vec_id
                              ORDER BY {_d2i('t.qv', 'c.cv')}, c.cent_id) AS rn
    FROM q t CROSS JOIN {cb} c) z
  WHERE rn = 1
),
nn AS MATERIALIZED (
  SELECT vec_id, CAST(list_dot_product(qv, qv) AS BIGINT) AS n2 FROM qn
),
nb AS MATERIALIZED (
  SELECT vec_id, CAST(list_dot_product(qv, qv) AS BIGINT) AS n2 FROM q
),
dupc AS (
  SELECT DISTINCT b.vec_id
  FROM asg_new b JOIN asg_base a ON a.cent_id = b.cent_id
  JOIN nn ON nn.vec_id = b.vec_id
  JOIN nb na ON na.vec_id = a.vec_id
  WHERE {pred.replace('nb.n2', 'nn.n2')}
),
dupb AS (
  SELECT DISTINCT b.vec_id
  FROM asg_new b JOIN asg_new a
    ON a.cent_id = b.cent_id AND a.vec_id < b.vec_id
  JOIN nn na ON na.vec_id = a.vec_id
  JOIN nn nbb ON nbb.vec_id = b.vec_id
  WHERE {pred.replace('nb.n2', 'nbb.n2')}
)
SELECT n.vec_id, CAST(n.cent_id AS INTEGER) AS cell,
       CASE WHEN dc.vec_id IS NOT NULL THEN 'dup_corpus'
            WHEN db.vec_id IS NOT NULL THEN 'dup_batch'
            ELSE 'new' END AS status
FROM asg_new n
LEFT JOIN dupc dc ON dc.vec_id = n.vec_id
LEFT JOIN dupb db ON db.vec_id = n.vec_id"""


@query("q_dedup_semantic_inc", oracle=_semantic_inc_oracle())
def q_dedup_semantic_inc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental SemDeDup against a FROZEN codebook — the missing
    LLM-pipeline composition (VERDICT r6 #7) and the 100 TB operating
    mode: train once on the base corpus (2 lattice Lloyd rounds,
    k ~ sqrt(N_base)), then per ingest assign only the NEW batch
    (vec_id % 3 = 0, the q_dedup_incremental shard convention),
    prune the base index to the cells the batch touches (broadcast
    semi-join; partition pruning when the index is stored by cell),
    and run the exact rational-cosine verdict only there. Each new
    vector is classified dup_corpus / dup_batch / new with the min-id
    keeper rule — base verdicts never change, per-ingest cost is
    O(batch * cell occupancy), independent of corpus size.

    Exact hash oracle: assignment and verdict are pure int64 lattice
    arithmetic (operators/lattice.py), so the whole train -> freeze ->
    assign -> classify pipeline replays bit-exactly in DuckDB —
    a composition of q_dedup_semantic_trained's trainer and
    q_dedup_incremental's classification contract, no new machinery."""
    import math

    from fhir2sql_spark.operators import lattice

    emb = load(spark, sf_dir, "embeddings")
    qv = lattice.materialize(lattice.quantize(emb))
    base = qv.where(F.col("vid") % 3 != 0)
    new = qv.where(F.col("vid") % 3 == 0)
    k = max(16, math.isqrt(base.count()))
    cents = lattice.lattice_kmeans(base, k=k, iters=2)
    return lattice.lattice_semantic_dedup_incremental(
        base, new, cents, tau_num=2, tau_den=5
    )


@query(
    "q_embed_sq",
    oracle="""
    WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    ux AS (
        SELECT vec_id, unnest(v) AS x, generate_subscripts(v, 1) AS pos
        FROM e
    ),
    st AS (SELECT pos, MIN(x) AS mn, MAX(x) AS mx FROM ux GROUP BY pos),
    code AS MATERIALIZED (
        SELECT vec_id,
               list(CAST(CASE WHEN mx = mn THEN 0
                              ELSE ROUND(255*(x - mn)/(mx - mn), 0)
                         END AS BIGINT) ORDER BY pos) AS c
        FROM ux JOIN st USING (pos) GROUP BY vec_id
    ),
    q AS (SELECT vec_id AS q_id, c AS qc FROM code WHERE vec_id < 10),
    s AS (
        SELECT q.q_id, f.vec_id AS c_id,
               CAST(list_dot_product(qc, qc) - 2*list_dot_product(qc, f.c)
                    + list_dot_product(f.c, f.c) AS BIGINT) AS d2
        FROM q, code f WHERE f.vec_id <> q.q_id
    )
    SELECT q_id, c_id, d2, rn FROM (
        SELECT q_id, c_id, d2,
               ROW_NUMBER() OVER (PARTITION BY q_id
                                  ORDER BY d2, c_id) AS rn
        FROM s) z
    WHERE rn <= 5
    """,
)
def q_embed_sq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQ8 scalar-quantized nearest-neighbor search (the faiss
    ScalarQuantizer / Milvus SQ8 compression family — the OTHER
    standard ANN compression next to PQ, q_embed_pq): per-dimension
    corpus min/max maps every float32 coordinate to an 8-bit code
    (code = round(255 * (x - mn) / (mx - mn)), constant dims -> 0),
    then exact top-5 per query over the quantized codes. 4x less
    memory traffic than float32 brute force with near-identical
    recall at web-scale dims — the compression you apply BEFORE
    reaching for IVF cells.

    Scale shape: the per-dim stats are one map-side-combined
    posexplode aggregate collapsing the corpus to dim rows, rejoined
    as a broadcast 1-row struct (never a driver collect); quantization
    rides the scan; the 10-query side broadcasts into the scoring pass
    so the corpus never shuffles; per-query ranking partitions by
    q_id. Portability: mn/mx are exact float selections, the affine
    map is 3 IEEE ops + half-away round in identical order on both
    engines, so the codes are exact integers and distances (zip_with
    square-fold on Spark, exact dot-product expansion in SQL) are
    bit-identical int64."""
    from pyspark.sql import Window

    emb = load(spark, sf_dir, "embeddings")
    ux = emb.select(
        "vec_id",
        F.posexplode(F.col("embedding").cast("array<double>")).alias(
            "pos", "x"
        ),
    )
    st = ux.groupBy("pos").agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
    srow = (
        st.agg(
            F.array_sort(F.collect_list(F.struct("pos", "mn", "mx"))).alias(
                "s"
            )
        )
        .select(
            F.expr("transform(s, z -> z.mn)").alias("mn"),
            F.expr("transform(s, z -> z.mx)").alias("mx"),
        )
        # pin the 1-row stats: `code` is referenced twice (query side +
        # corpus side) and without the barrier the whole per-dim stats
        # pass re-executes per reference
        .localCheckpoint(eager=True)
    )
    code = emb.crossJoin(F.broadcast(srow)).select(
        "vec_id",
        F.expr(
            "transform(cast(embedding as array<double>), (x, i) ->"
            " cast(case when mx[i] = mn[i] then 0"
            " else round(255*(x - mn[i])/(mx[i] - mn[i]), 0) end as bigint))"
        ).alias("c"),
    )
    q = code.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), F.col("c").alias("qc")
    )
    cand = code.select(
        F.col("vec_id").alias("c_id"), F.col("c").alias("cc")
    ).join(F.broadcast(q), F.col("c_id") != F.col("q_id"))
    d2 = F.aggregate(
        F.zip_with("qc", "cc", lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, y: acc + y,
    )
    scored = cand.select("q_id", "c_id", d2.alias("d2"))
    w = Window.partitionBy("q_id").orderBy("d2", "c_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 5)
        .select("q_id", "c_id", "d2", F.col("rn").cast("long").alias("rn"))
    )
