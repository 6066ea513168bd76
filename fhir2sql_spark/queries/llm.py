"""LLM training-data pipeline queries (SURVEY.md §2.3 M6 + the
first-class extras: minhash/simhash dedup, ANN similarity, language
ID, quality scoring, token counting, fingerprinting).

These are the operators a 100 TB pretraining-data pipeline needs; the
exact variants carry DuckDB oracles. Round 5 closed most of the
verification gap on the probabilistic scale paths: the hyperplane-ANN
and IVF searches and the BLAS bulk dedup are now exactly oracled
(seeded literals / deterministic codebooks / tested rounding margins),
and the MinHash-LSH and SimHash pipelines are exact-gated through
md5-based portable twins that replay banding end to end. Only the
xxhash64 twins themselves (engine-specific hash) and the trained-IVF
codebook (iterative k-means) remain rows-only, each recall-tested
against its exact counterpart in tests/test_llm_ops.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from fhir2sql_spark.operators import dedup, similarity, text as text_ops
from fhir2sql_spark.registry import query
from fhir2sql_spark.tables import load
from fhir2sql_spark.queries.util import exact_div


@query(
    "q_dedup_exact",
    oracle="""
    SELECT sha256(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS text_hash,
           MIN(doc_id) AS keep_doc_id,
           COUNT(*) AS n_docs
    FROM documents
    GROUP BY 1
    """,
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: normalize -> sha256 -> keep min doc_id per hash."""
    return dedup.exact_dedup_groups(load(spark, sf_dir, "documents"))


@query(
    "q_dedup_near",
    oracle="""
    WITH s AS (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents),
    pos AS (
        SELECT doc_id, lang, toks,
               unnest(generate_series(1, len(toks) - 2)) AS i
        FROM s
    ),
    sh AS (
        SELECT DISTINCT doc_id, lang,
               toks[CAST(i AS INT)] || ' ' || toks[CAST(i+1 AS INT)]
                 || ' ' || toks[CAST(i+2 AS INT)] AS shingle
        FROM pos
    ),
    sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS common
        FROM sh a JOIN sh b
          ON a.lang = b.lang AND a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, common,
           sa.n + sb.n - common AS union_n,
           CAST(common AS DOUBLE) / CAST(sa.n + sb.n - common AS DOUBLE) AS jac
    FROM pairs p
    JOIN sz sa ON p.doc_a = sa.doc_id
    JOIN sz sb ON p.doc_b = sb.doc_id
    WHERE common * 5 >= (sa.n + sb.n - common) * 4
    """,
)
def q_dedup_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs: word-3-gram Jaccard >= 0.8 within each lang,
    threshold applied in exact integer arithmetic (4/5). This exact
    variant IS the oracle contract; q_dedup_minhash is the scale path
    with the same output shape."""
    return dedup.jaccard_pairs(
        load(spark, sf_dir, "documents"), threshold_num=4, threshold_den=5
    )


@query(
    "q_dedup_setsim",
    oracle="""
    WITH s AS (SELECT doc_id, lang, string_split(text, ' ') AS toks
               FROM documents),
    pos AS (
        SELECT doc_id, lang, toks,
               unnest(generate_series(1, len(toks) - 4)) AS i
        FROM s
    ),
    sh AS (
        SELECT DISTINCT doc_id, lang,
               toks[CAST(i AS INT)] || ' ' || toks[CAST(i+1 AS INT)]
                 || ' ' || toks[CAST(i+2 AS INT)]
                 || ' ' || toks[CAST(i+3 AS INT)]
                 || ' ' || toks[CAST(i+4 AS INT)] AS shingle
        FROM pos
    ),
    sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS common
        FROM sh a JOIN sh b
          ON a.lang = b.lang AND a.shingle = b.shingle
             AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, common,
           sa.n + sb.n - common AS union_n,
           CAST(common AS DOUBLE)
             / CAST(sa.n + sb.n - common AS DOUBLE) AS jac
    FROM pairs p
    JOIN sz sa ON p.doc_a = sa.doc_id
    JOIN sz sb ON p.doc_b = sb.doc_id
    WHERE common * 2 >= (sa.n + sb.n - common) * 1
    """,
)
def q_dedup_setsim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by EXACT set similarity with prefix filtering
    (AllPairs/PPJoin — Bayardo et al. WWW'07): word-5-gram Jaccard >=
    0.5 within each lang, candidates generated ONLY from rarest-first
    token prefixes of length |S| - ceil(t|S|) + 1 (the completeness
    guarantee), then exact-verified. Deterministic and hash-free —
    the third dedup scale path next to MinHash-LSH (probabilistic)
    and SimHash (Hamming), with an exactness guarantee neither offers:
    output EQUALS the brute-force inverted-index join by theorem, so
    the oracle replays q_dedup_near's naive formulation at n=5,
    t=1/2. Integer threshold arithmetic everywhere; the emitted jac
    is the IEEE ratio of exact longs.

    Shingle width matters more than the threshold here: prefix
    filtering lives off token RARITY, and this fixture's uniform
    31-word soup keeps bigram document frequencies high — measured at
    sf0.1, n=2 produced 1.07M distinct candidates even at t=4/5
    (~20 s), while n=5 shingles (the standard near-dedup width, cf.
    Lee et al.) are sparse enough that the same t=1/2 query runs in
    ~5 s. Same lesson as natural corpora: prefix-filter over the
    sparse representation, not the dense one."""
    return dedup.setsim_pairs(
        load(spark, sf_dir, "documents"),
        threshold_num=1,
        threshold_den=2,
        n=5,
    )


_INC_STATUS_SQL = """
    SELECT d.doc_id,
           CASE WHEN dc.doc_a IS NOT NULL THEN 'dup_corpus'
                WHEN db.doc_a IS NOT NULL THEN 'dup_batch'
                ELSE 'new' END AS status
    FROM (SELECT doc_id FROM documents WHERE doc_id % 3 = 0) d
    LEFT JOIN (SELECT DISTINCT doc_a FROM ver WHERE doc_b % 3 <> 0) dc
           ON dc.doc_a = d.doc_id
    LEFT JOIN (SELECT DISTINCT doc_a FROM ver WHERE doc_b % 3 = 0) db
           ON db.doc_a = d.doc_id
"""

_5GRAM_SQL = """
    WITH s AS (SELECT doc_id, lang, string_split(text, ' ') AS toks
               FROM documents),
    pos AS (
        SELECT doc_id, lang, toks,
               unnest(generate_series(1, len(toks) - 4)) AS i
        FROM s
    ),
    sh AS MATERIALIZED (
        SELECT DISTINCT doc_id, lang,
               toks[CAST(i AS INT)] || ' ' || toks[CAST(i+1 AS INT)]
                 || ' ' || toks[CAST(i+2 AS INT)]
                 || ' ' || toks[CAST(i+3 AS INT)]
                 || ' ' || toks[CAST(i+4 AS INT)] AS shingle
        FROM pos
    ),
    sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    com AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS common
        FROM sh a JOIN sh b
          ON a.lang = b.lang AND a.shingle = b.shingle
        WHERE a.doc_id % 3 = 0
          AND (b.doc_id % 3 <> 0 OR b.doc_id < a.doc_id)
        GROUP BY 1, 2
    )
"""


def _inc_prefix_postings(
    docs: DataFrame,
    threshold_num: int,
    threshold_den: int,
    n: int,
    checkpoint: bool = True,
) -> DataFrame:
    """Shared prologue of the r9 incremental prefix-filter dedups:
    per-doc rarity-ordered prefixes under the FROZEN corpus token
    order.

    The stored index's total order is (corpus document frequency,
    sid): df here is counted over the corpus shard ONLY — a
    conditional count over the same sid window setsim_pairs uses, so
    in one pass every token (corpus AND batch rows) carries the
    frozen statistic, and tokens the index has never seen rank df=0
    (rarest — they cannot hit the corpus index anyway, but order
    batch-batch prefixes). Prefix completeness holds under ANY fixed
    total order (Bayardo et al.'s theorem never uses rarity, only
    consistency), which is what makes the frozen order sound: rarity
    only buys selectivity, and a STALE rarity profile degrades speed,
    never recall — the drift monitor (q_diag_codebook_drift's role
    for the semantic index) tells you when to re-rank.

    Completeness is in SID space (ADVICE r9): |S| and prefix lengths
    are counted over xxhash64-distinct shingle ids while verification
    counts raw shingle strings, so the no-recall-caveat claim holds
    modulo a within-doc 64-bit hash collision (~2^-64 per shingle
    pair — negligible; a collision can only SHORTEN a prefix).

    Plan: the same 2-big-exchange linear pipeline as setsim_pairs
    (one explicit sid exchange shared by the distinct aggregate and
    the df window, one doc_id exchange for the size+prefix windows);
    only the prefix slice is checkpointed — it is the stored-index
    stand-in, read once as the corpus side and twice as the batch
    probe."""
    sh = (
        dedup.shingles(docs, n=n, distinct=False)
        .select("doc_id", F.xxhash64("lang", "shingle").alias("__sid"))
        .repartition(F.col("__sid"))
        .groupBy("__sid", "doc_id")
        .agg(F.lit(1))
        .select("doc_id", "__sid")
    )
    toks = sh.withColumn(
        "__df",
        F.count(F.when(F.col("doc_id") % 3 != 0, F.lit(1))).over(
            Window.partitionBy("__sid")
        ),
    )
    w = Window.partitionBy("doc_id").orderBy("__df", "__sid")
    w_size = Window.partitionBy("doc_id")
    prefix_len = (
        F.col("__s")
        - F.expr(
            f"(__s * {threshold_num} + {threshold_den} - 1) "
            f"div {threshold_den}"
        )
        + 1
    )
    pref = (
        toks.withColumn("__s", F.count(F.lit(1)).over(w_size))
        .withColumn("__pos", F.row_number().over(w))
        .where(F.col("__pos") <= prefix_len)
        .select("doc_id", "__sid")
    )
    # checkpoint=False exists ONLY so tests can read the pre-barrier
    # plan (the 2-exchange pin); every query path checkpoints
    return pref.localCheckpoint(eager=True) if checkpoint else pref


@query(
    "q_dedup_setsim_inc",
    oracle=_5GRAM_SQL
    + """,
    ver AS (
        SELECT m.doc_a, m.doc_b
        FROM com m
        JOIN sz sa ON m.doc_a = sa.doc_id
        JOIN sz sb ON m.doc_b = sb.doc_id
        WHERE m.common * 2 >= (sa.n + sb.n - m.common) * 1
    )
"""
    + _INC_STATUS_SQL,
)
def q_dedup_setsim_inc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental EXACT set-similarity dedup against a FROZEN prefix
    index (VERDICT r8 #4 — the last heavy batch dedup without a
    per-ingest form; composition proven by q_dedup_incremental /
    _semantic_inc / _winnow_inc / _minhash_inc). The stored corpus
    index holds each corpus doc's rarity-ordered PREFIX postings
    (rarest |S| - ceil(t|S|) + 1 tokens under the frozen (corpus-df,
    sid) order). Per ingest, the NEW batch (doc_id % 3 = 0) computes
    its own prefixes under the SAME frozen order, equi-joins the
    corpus prefix index and its own prefixes on the token sid, then
    exact-verifies candidates at word-5-gram Jaccard >= 1/2 and
    classifies each batch doc dup_corpus / dup_batch (min-id keeper) /
    new.

    Unlike the LSH family this needs NO recall caveat and NO bucket
    cap replay in the oracle: prefix filtering is COMPLETE under any
    consistent total order, and verification is exact, so the emitted
    statuses are order-independent — the oracle is the plain
    brute-force inverted-index join (q_dedup_setsim's own oracle
    restricted to batch rows), not an xxhash64 replay.

    Scale shape: per-ingest cost is O(batch prefix postings +
    candidates). The corpus is touched only through the sid equi-join
    against its stored prefix slice (~(1-t)|S|+1 tokens per doc) and
    the candidate-restricted verify; boilerplate fan-out is bounded
    by RARITY itself — a token in many corpus docs has high frozen df
    and falls outside every prefix (the property the winnow family
    buys with max_df, here free by construction)."""
    docs = load(spark, sf_dir, "documents")
    pref = _inc_prefix_postings(docs, threshold_num=1, threshold_den=2, n=5)
    is_new = F.col("doc_id") % 3 == 0
    cand_corpus, cand_batch = _setsim_inc_candidates(
        pref.where(is_new), pref.where(~is_new)
    )
    return _classify_new_batch(
        docs, cand_corpus, cand_batch, threshold_num=1, threshold_den=2, n=5
    )


def _setsim_inc_candidates(
    batch_pref: DataFrame, corpus_pref: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """Candidate generation of the incremental set-similarity dedup,
    factored so the registered query (in-query index rebuild) and the
    STORED-index probe path (operators/frozen_index.py, VERDICT r9
    #2) run the identical joins: batch prefixes vs corpus prefix
    postings on the token sid, plus the within-batch prefix
    self-join under the min-id order."""
    pb = batch_pref.select("__sid", F.col("doc_id").alias("doc_a"))
    pc = corpus_pref.select(
        F.col("__sid").alias("__sid_b"), F.col("doc_id").alias("doc_b")
    )
    bb = batch_pref.select(
        F.col("__sid").alias("__sid_b"), F.col("doc_id").alias("doc_b")
    )
    cand_corpus = (
        pb.join(pc, F.col("__sid") == F.col("__sid_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    cand_batch = (
        pb.join(
            bb,
            (F.col("__sid") == F.col("__sid_b"))
            & (F.col("doc_b") < F.col("doc_a")),
        )
        .select("doc_a", "doc_b")
        .distinct()
    )
    return cand_corpus, cand_batch


@query(
    "q_dedup_containment_inc",
    oracle=_5GRAM_SQL
    + """,
    ver AS (
        SELECT m.doc_a, m.doc_b
        FROM com m
        JOIN sz sa ON m.doc_a = sa.doc_id
        WHERE m.common * 5 >= sa.n * 4
    )
"""
    + _INC_STATUS_SQL,
)
def q_dedup_containment_inc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental DIRECTED containment dedup against a FROZEN full
    posting index — the per-ingest form of q_dedup_containment
    (VERDICT r8 'What's missing' #2): classify each new-batch doc as
    dup if its word-5-gram set is >= 4/5 CONTAINED in some corpus doc
    (dup_corpus) or some smaller-id batch doc (dup_batch) — quotes,
    mirrored sections, and near-supersets that Jaccard dilutes.

    Asymmetry mirrors the batch operator: the batch PROBE side is
    prefix-pruned (|A| - ceil(t|A|) + 1 rarest tokens under the
    frozen order — the containment theorem prunes only the contained
    side), while the stored corpus side is its FULL posting index —
    containment says nothing about |B|, so the index cannot be
    prefix-sliced; that is inherent (JOSIE's positional bounds are a
    refinement, not an escape). The index side therefore reuses the
    RAW hashed shingle stream exactly as containment_pairs does: per
    -doc duplicate sids only duplicate candidates, absorbed by the
    pair distinct, so the stored index needs no aggregate at all.
    Statuses are order-independent (complete candidates + exact
    verify), so the oracle is the brute-force directed join, no
    hash replay.

    r10: the stored-index probe path has a JOSIE positional variant
    (operators/frozen_index.py::containment_probe_positional — the
    index carries (pos, size) and the probe prunes container rows
    whose remaining suffix cannot reach ceil(t*|A|); completeness
    proved there, statuses pinned equal, same-window sf100 A/B
    147.3 -> 107.1 s in SCALE.md)."""
    docs = load(spark, sf_dir, "documents")
    is_new = F.col("doc_id") % 3 == 0
    pref = _inc_prefix_postings(docs, threshold_num=4, threshold_den=5, n=5)
    # frozen FULL posting index (corpus side, no prefix prune)
    full = dedup.shingles(docs, n=5, distinct=False).select(
        F.xxhash64("lang", "shingle").alias("__sid_b"),
        F.col("doc_id").alias("doc_b"),
    )
    cand_corpus, cand_batch = _containment_inc_candidates(
        pref.where(is_new),
        full.where(F.col("doc_b") % 3 != 0),
        full.where(F.col("doc_b") % 3 == 0),
    )
    return _classify_new_batch(
        docs,
        cand_corpus,
        cand_batch,
        threshold_num=4,
        threshold_den=5,
        n=5,
        containment=True,
    )


def _containment_inc_candidates(
    batch_pref: DataFrame,
    corpus_full: DataFrame,
    batch_full: DataFrame,
) -> tuple[DataFrame, DataFrame]:
    """Candidate generation of the incremental containment dedup,
    factored for the stored-index probe path (VERDICT r9 #2): the
    prefix-pruned batch side probes the corpus FULL posting index and
    the batch's own full postings (min-id order). ``corpus_full`` /
    ``batch_full`` carry (__sid_b, doc_b)."""
    pb = batch_pref.select("__sid", F.col("doc_id").alias("doc_a"))
    cand_corpus = (
        pb.join(corpus_full, F.col("__sid") == F.col("__sid_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    cand_batch = (
        pb.join(
            batch_full,
            (F.col("__sid") == F.col("__sid_b"))
            & (F.col("doc_b") < F.col("doc_a")),
        )
        .select("doc_a", "doc_b")
        .distinct()
    )
    return cand_corpus, cand_batch


@query("q_dedup_minhash")  # probabilistic: rows-only; recall vs exact in tests
def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(32 perms, seed 42) + 8x4 banding -> candidate pairs ->
    exact Jaccard verification on candidates only. Same output contract
    as q_dedup_near but O(docs x bands) instead of O(shingle pairs) —
    the 100 TB path."""
    docs = load(spark, sf_dir, "documents")
    sigs = dedup.minhash_signatures(docs, num_hashes=32, seed=42)
    cands = dedup.lsh_candidate_pairs(sigs, bands=8, rows_per_band=4)
    return dedup.verify_candidate_pairs(
        docs, cands, threshold_num=4, threshold_den=5
    )


#: 31-bit Mersenne modulus of the portable MinHash permutation family
#: — the SAME modulus the xxhash64 scale path uses
#: (operators/dedup.py:_P), so the two twins differ ONLY in the base
#: hash (md5 hex-parse vs xxhash64) and the band-key encoding.
_P31 = (1 << 31) - 1


def _portable_perm_sql() -> str:
    """The (p, a, b) permutation table as a SQL VALUES literal —
    the identical constants `_minhash_params(32, 42)` feeds the
    xxhash64 scale path, embedded in the oracle text so both engines
    run the same affine family h_p(x) = (a*x + b) mod (2^31 - 1)."""
    from fhir2sql_spark.operators.dedup import _minhash_params

    rows = ", ".join(
        f"({p}, {a}, {b})"
        for p, (a, b) in enumerate(_minhash_params(32, 42))
    )
    return f"(VALUES {rows}) AS prm(p, a, b)"


def _portable_sid() -> "F.Column":
    """Portable 31-bit shingle id: the first 15 hex chars of
    md5(shingle) parsed as an integer, mod 2^31 - 1. Both engines
    compute md5 and the hex parse identically (pinned equal:
    Spark conv(.,16,10) == DuckDB CAST('0x'||. AS BIGINT)), so ONE
    md5 per (doc, shingle) row replaces the 32-md5s-per-row of the
    round-5 construction — measured ~3x cheaper at sf0.1 and the
    difference compounds at the sf100 decade."""
    return F.pmod(
        F.conv(F.substring(F.md5("shingle"), 1, 15), 16, 10).cast("long"),
        F.lit(_P31),
    )


_PORTABLE_SIG_SQL = """
    sids AS (
        SELECT doc_id, lang,
               CAST(concat('0x', substr(md5(shingle), 1, 15)) AS BIGINT)
                 % 2147483647 AS sid
        FROM sh
    ),
    sigs AS (
        SELECT doc_id, lang, p, MIN((sid * a + b) % 2147483647) AS h
        FROM sids CROSS JOIN {prm} GROUP BY 1, 2, 3
    ),
    bands AS MATERIALIZED (
        SELECT doc_id, lang, p // 4 AS band,
               string_agg(CAST(h AS VARCHAR), ',' ORDER BY p) AS bkey
        FROM sigs GROUP BY 1, 2, 3
    )
"""


@query(
    "q_dedup_minhash_portable",
    oracle="""
    WITH s AS (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents),
    pos AS (
        SELECT doc_id, lang, toks,
               unnest(generate_series(1, len(toks) - 2)) AS i
        FROM s
    ),
    sh AS MATERIALIZED (
        SELECT DISTINCT doc_id, lang,
               toks[CAST(i AS INT)] || ' ' || toks[CAST(i+1 AS INT)]
                 || ' ' || toks[CAST(i+2 AS INT)] AS shingle
        FROM pos
    ),
    sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    """
    + _PORTABLE_SIG_SQL.format(prm=_portable_perm_sql())
    + """,
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.lang = b.lang AND a.band = b.band AND a.bkey = b.bkey
         AND a.doc_id < b.doc_id
    ),
    com AS (
        SELECT c.doc_a, c.doc_b, COUNT(*) AS common
        FROM cand c
        JOIN sh a ON a.doc_id = c.doc_a
        JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
        GROUP BY 1, 2
    )
    SELECT m.doc_a, m.doc_b, m.common,
           sa.n + sb.n - m.common AS union_n,
           CAST(m.common AS DOUBLE) / CAST(sa.n + sb.n - m.common AS DOUBLE)
             AS jac
    FROM com m
    JOIN sz sa ON m.doc_a = sa.doc_id
    JOIN sz sb ON m.doc_b = sb.doc_id
    WHERE m.common * 5 >= (sa.n + sb.n - m.common) * 4
    """,
)
def q_dedup_minhash_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The verification twin of q_dedup_minhash (round 5; construction
    revised round 9): the SAME MinHash+LSH pipeline — 32 affine
    permutations (a*x + b) mod (2^31 - 1) with the IDENTICAL (a, b)
    constants and modulus as the xxhash64 scale path, 8x4 banding,
    candidate equi-join, exact-Jaccard verify — differing from the
    scale path ONLY in the base hash: shingle ids come from an
    md5-hex-parse both engines compute bit-identically, so the oracle
    replicates the ENTIRE pipeline including which pairs collide in
    which band — the candidate set, not just the verified output, is
    hash-checked. (The round-5 form spent 32 md5s per (doc, shingle)
    row; one md5 + 32 integer ops is ~3x cheaper at sf0.1 and was the
    #1 suite-time line item in the r9 idle-host baseline.) The
    registered scale path stays on xxhash64 (8-byte folded band keys
    vs the decimal-string keys here); this twin pins its algorithm,
    the recall tests in tests/test_llm_ops.py pin their
    equivalence."""
    docs = load(spark, sf_dir, "documents")
    sh = dedup.shingles(docs, n=3, distinct=True).withColumn(
        "__sid", _portable_sid()
    )
    from fhir2sql_spark.operators.dedup import _minhash_params

    mins = [
        F.min((F.col("__sid") * F.lit(a) + F.lit(b)) % F.lit(_P31)).alias(
            f"h{i}"
        )
        for i, (a, b) in enumerate(_minhash_params(32, 42))
    ]
    sig = sh.groupBy("doc_id", "lang").agg(*mins)
    banded = sig.select(
        "doc_id",
        "lang",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.concat_ws(
                            ",",
                            *[
                                F.col(f"h{i}").cast("string")
                                for i in range(b * 4, b * 4 + 4)
                            ],
                        ).alias("bkey"),
                    )
                    for b in range(8)
                ]
            )
        ).alias("s"),
    ).select("doc_id", "lang", "s.band", "s.bkey")
    a = banded.select(
        "lang", "band", "bkey", F.col("doc_id").alias("doc_a")
    )
    b = banded.select(
        F.col("lang").alias("lang_b"),
        F.col("band").alias("band_b"),
        F.col("bkey").alias("bkey_b"),
        F.col("doc_id").alias("doc_b"),
    )
    cands = (
        a.join(
            b,
            (a.lang == b.lang_b)
            & (a.band == b.band_b)
            & (a.bkey == b.bkey_b)
            & (a.doc_a < b.doc_b),
        )
        .select("doc_a", "doc_b")
        .distinct()
    )
    return dedup.verify_candidate_pairs(
        docs, cands, threshold_num=4, threshold_den=5
    )


@query("q_dedup_simhash")  # engine-specific hash: rows-only
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """63-bit SimHash per document + near-pair candidates at Hamming
    distance <= 3, via 4-segment pigeonhole banding (any pair within
    distance 3 shares >=1 exact 16-bit segment) — equi-join shape,
    never all-pairs."""
    docs = load(spark, sf_dir, "documents")
    sh = dedup.simhash(docs)
    seg = sh.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("seg_no"),
                        F.shiftright(F.col("simhash"), i * 16)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("seg"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("s"),
    ).select("doc_id", "simhash", "s.seg_no", "s.seg")
    a = seg.select(
        "seg_no", "seg", F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sh_a")
    )
    b = seg.select(
        F.col("seg_no").alias("seg_no_b"),
        F.col("seg").alias("seg_b"),
        F.col("doc_id").alias("doc_b"),
        F.col("simhash").alias("sh_b"),
    )
    pairs = (
        a.join(
            b,
            (a.seg_no == b.seg_no_b) & (a.seg == b.seg_b) & (a.doc_a < b.doc_b),
        )
        .select("doc_a", "doc_b", "sh_a", "sh_b")
        .distinct()
        .withColumn("hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))))
        .where(F.col("hamming") <= 3)
    )
    return pairs.select("doc_a", "doc_b", "hamming")


def _simhash_portable_oracle() -> str:
    """Generated oracle replicating the 60-bit md5-prefix SimHash
    pipeline bit-for-bit: hex->int via positional nibble arithmetic
    (both engines' md5 hex strings are identical), 60 per-bit majority
    sums, integer pack, 4x15-bit pigeonhole banding, bit_count(xor)
    Hamming. All exact integer math — no float anywhere."""
    nib = " + ".join(
        f"(strpos('0123456789abcdef', substr(md5(tok), {k}, 1)) - 1) * {16 ** (15 - k)}"
        for k in range(1, 16)
    )
    sums = ",\n               ".join(
        f"SUM(CASE WHEN (th >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS b{i}"
        for i in range(60)
    )
    pack = " + ".join(
        f"CASE WHEN b{i} > 0 THEN CAST({1 << i} AS BIGINT) ELSE 0 END"
        for i in range(60)
    )
    return f"""
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    h AS (
        SELECT doc_id, ({nib}) AS th FROM toks
    ),
    bs AS (
        SELECT doc_id,
               {sums}
        FROM h GROUP BY doc_id
    ),
    packed AS MATERIALIZED (
        SELECT doc_id, ({pack}) AS simhash FROM bs
    ),
    seg AS MATERIALIZED (
        SELECT doc_id, simhash, g.s AS seg_no,
               (simhash >> (g.s * 15)) & 32767 AS seg
        FROM packed, (SELECT unnest(generate_series(0, 3)) AS s) g
    ),
    pairs AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
               a.simhash AS sh_a, b.simhash AS sh_b
        FROM seg a JOIN seg b
          ON a.seg_no = b.seg_no AND a.seg = b.seg AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b,
           CAST(bit_count(xor(sh_a, sh_b)) AS BIGINT) AS hamming
    FROM pairs
    WHERE bit_count(xor(sh_a, sh_b)) <= 3
    """


@query("q_dedup_simhash_portable", oracle=_simhash_portable_oracle())
def q_dedup_simhash_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The verification twin of q_dedup_simhash (round 5): identical
    SimHash pipeline — per-bit majority vote over word features,
    pigeonhole banding, bit_count(xor) Hamming <= 3 — on a 60-bit
    hash both engines compute identically: the first 15 hex digits of
    md5(token) as an integer (Spark conv(substr(md5),16,10); DuckDB
    positional nibble arithmetic — same value by construction). Every
    stage is exact integer math, so the oracle checks the ENTIRE
    pipeline including which pairs collide in which segment,
    graduating the SimHash family from rows-only to an exact external
    gate. The registered scale path stays on xxhash64 (one JVM
    intrinsic vs md5+conv per token); this twin pins the algorithm.

    Segments here are 4x15 bits (60-bit hash) vs the scale path's
    4x16 (63-bit) — the pigeonhole guarantee (Hamming <= 3 implies
    >= 1 equal segment) holds identically."""
    md5_60 = lambda c: F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast(  # noqa: E731
        "long"
    )
    docs = load(spark, sf_dir, "documents")
    # bits=61: the hash has 60 significant bits, so bit 60's majority
    # is the constant -count vote and the pack (range(bits-1) = 0..59)
    # emits exactly the 60 real bits.
    sh = dedup.simhash(docs, bits=61, hash_fn=md5_60)
    seg = sh.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("seg_no"),
                        F.shiftright(F.col("simhash"), i * 15)
                        .bitwiseAND(F.lit(0x7FFF))
                        .alias("seg"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("s"),
    ).select("doc_id", "simhash", "s.seg_no", "s.seg")
    a = seg.select(
        "seg_no", "seg", F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sh_a")
    )
    b = seg.select(
        F.col("seg_no").alias("seg_no_b"),
        F.col("seg").alias("seg_b"),
        F.col("doc_id").alias("doc_b"),
        F.col("simhash").alias("sh_b"),
    )
    pairs = (
        a.join(
            b,
            (a.seg_no == b.seg_no_b) & (a.seg == b.seg_b) & (a.doc_a < b.doc_b),
        )
        .select("doc_a", "doc_b", "sh_a", "sh_b")
        .distinct()
        .withColumn("hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))))
        .where(F.col("hamming") <= 3)
    )
    return pairs.select("doc_a", "doc_b", F.col("hamming").cast("long").alias("hamming"))


@query(
    "q_dedup_incremental",
    oracle="""
    WITH h AS (
        SELECT doc_id,
               sha256(array_to_string(
                   string_split(trim(regexp_replace(lower(text), '\\s+', ' ',
                                                    'g')), ' ')[1:8], ' '))
                 AS th,
               doc_id % 3 = 0 AS is_new
        FROM documents
    ),
    corp AS (SELECT DISTINCT th FROM h WHERE NOT is_new),
    nb AS (
        SELECT doc_id, th, MIN(doc_id) OVER (PARTITION BY th) AS keeper
        FROM h WHERE is_new
    )
    SELECT nb.doc_id, nb.th AS text_hash,
           CASE WHEN c.th IS NOT NULL THEN 'dup_corpus'
                WHEN nb.doc_id <> nb.keeper THEN 'dup_batch'
                ELSE 'new' END AS status
    FROM nb LEFT JOIN corp c ON nb.th = c.th
    """,
)
def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (daily-shard) exact dedup — the form a production
    pipeline actually runs: nobody re-deduplicates a 100 TB corpus per
    ingest; the NEW batch (here: doc_id % 3 == 0 as the deterministic
    stand-in shard) is classified against the EXISTING corpus's key
    index. The key is sha2 over the normalized first-8-token PREFIX —
    the cheap ingest-dedup heuristic (crawl mirrors share openings) —
    because the fixture contains no byte-exact duplicates: the prefix
    key makes its near-dup clone pairs collide, so all three statuses
    are exercised (full-text sha2 would classify everything 'new').
    Every new-batch doc is tagged: 'dup_corpus' (key already indexed),
    'dup_batch' (another new doc with the same key wins the min-doc_id
    keeper rule), or 'new' (admit + append to the index).

    Scale shape: the batch side is ingest-sized, not corpus-sized —
    it shuffles on sha2 (uniform) for the within-batch keeper window
    and probes the corpus index with a hash equi-join. Stored BUCKETED
    by hash (tests/test_bucketed_join.py proves the exchange-free
    read), the corpus index never re-shuffles across daily runs — the
    per-ingest cost is O(batch), independent of corpus size. The
    left-join + CASE (instead of anti-join chains) classifies all
    three outcomes in ONE probe pass."""
    docs = load(spark, sf_dir, "documents")
    prefix = F.concat_ws(
        " ", F.slice(F.split(dedup.normalize_text(F.col("text")), " "), 1, 8)
    )
    h = docs.select(
        "doc_id",
        F.sha2(prefix, 256).alias("th"),
        (F.col("doc_id") % 3 == 0).alias("is_new"),
    )
    corp = h.where(~F.col("is_new")).select("th").distinct()
    nb = h.where(F.col("is_new")).withColumn(
        "keeper", F.min("doc_id").over(Window.partitionBy("th"))
    )
    return (
        nb.join(corp.withColumn("in_corp", F.lit(True)), "th", "left")
        .select(
            "doc_id",
            F.col("th").alias("text_hash"),
            F.when(F.col("in_corp").isNotNull(), F.lit("dup_corpus"))
            .when(F.col("doc_id") != F.col("keeper"), F.lit("dup_batch"))
            .otherwise(F.lit("new"))
            .alias("status"),
        )
    )


#: Bloom-tier sizing for the incremental-dedup membership sketch:
#: m = 2^25 bits packed into 64-bit words (fixed 4 MB ceiling,
#: independent of corpus size), k = 5 probes per key. At the sf100
#: corpus (~3.3 M distinct prefix keys) that is ~10 bits/key ->
#: FPR = (1 - e^(-kn/m))^k ~ 0.9 %; far lower at smaller sf. Spark's
#: native BloomFilterAggregate/BloomFilterMightContain exist in
#: catalyst 4.1 but are NOT SQL-registered (UNRESOLVED_ROUTINE), so
#: the sketch is built in plain DataFrame algebra — which also makes
#: it deterministic and engine-exact.
_BLOOM_BITS = 1 << 25
_BLOOM_K = 5


def _bloom_positions(key: "F.Column", m: int = _BLOOM_BITS) -> "F.Column":
    """The k Bloom bit positions of a key: pmod(xxhash64(j, key), m)
    for j in 0..k-1 — k independent 64-bit hashes via the seed slot,
    the same family every sketch in the repo draws from. ``m`` is
    parameterized so the FPR tolerance test can saturate a small
    sketch; the query always uses _BLOOM_BITS."""
    return F.array(
        *[
            F.pmod(F.xxhash64(F.lit(j), key), F.lit(m))
            for j in range(_BLOOM_K)
        ]
    )


@query(
    "q_dedup_incremental_bloom",
    oracle="""
    WITH h AS (
        SELECT doc_id,
               sha256(array_to_string(
                   string_split(trim(regexp_replace(lower(text), '\\s+', ' ',
                                                    'g')), ' ')[1:8], ' '))
                 AS th,
               doc_id % 3 = 0 AS is_new
        FROM documents
    ),
    corp AS (SELECT DISTINCT th FROM h WHERE NOT is_new),
    nb AS (
        SELECT doc_id, th, MIN(doc_id) OVER (PARTITION BY th) AS keeper
        FROM h WHERE is_new
    )
    SELECT nb.doc_id, nb.th AS text_hash,
           CASE WHEN c.th IS NOT NULL THEN 'dup_corpus'
                WHEN nb.doc_id <> nb.keeper THEN 'dup_batch'
                ELSE 'new' END AS status,
           TRUE AS bloom_sound
    FROM nb LEFT JOIN corp c ON nb.th = c.th
    """,
)
def q_dedup_incremental_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_dedup_incremental with a Bloom MEMBERSHIP pre-filter in front
    of the stored exact index (VERDICT r9 #5 — the per-ingest family's
    missing sketch member next to HLL/distinct, CMS/frequency and
    KMV/set-ops; the Dolma-pipeline cheap tier): the corpus keys fold
    into a FIXED-SIZE mergeable Bloom sketch — m = 2^25 bits packed
    into 64-bit words (4 MB ceiling), k = 5 positions per key, built
    with explode -> groupBy(word) -> bit_or, so partial sketches from
    every partition/ingest MERGE BY OR exactly like the native
    structure. Every batch key is probed against the BROADCAST word
    table (k position lookups + bit tests, whole-stage codegen), and
    the exact corpus index is consulted ONLY for the positives — on a
    clean crawl the overwhelmingly-common 'new' key never enters the
    index join's exchange at all (the negatives branch is
    index-join-free by plan, pinned in tests/test_round10_ops.py).
    (Catalyst 4.1 has BloomFilterAggregate/MightContain but does not
    SQL-register them; the algebraic form is also deterministic and
    engine-portable.)

    Soundness is DETERMINISTIC, not probabilistic (the q_tokens_cms /
    q_agg_hll_merge flag pattern): a Bloom filter has NO false
    negatives — every inserted key's k bits are set by construction —
    so a bloom-miss is PROOF of corpus absence and the statuses equal
    q_dedup_incremental's exactly, which is precisely what the oracle
    hash-checks (the SQL side computes statuses with no bloom at all;
    a single dropped member would flip a dup_corpus to new/dup_batch
    and break the hash). False positives cost only a wasted index
    probe and are removed by the exact left join. The emitted
    `bloom_sound` flag is the self-membership invariant re-verified
    engine-side per run — bool_and(all k bits set) over the STORED
    key set itself — and the oracle pins it literal TRUE; the FPR
    envelope is tolerance-tested in tests/test_round10_ops.py.

    Scale shape: sketch build is one map-side-combined pass over the
    stored key index reduced to <= m/64 = 524 288 words (in
    production the words table is the stored artifact, merged by
    bit_or per ingest); the probe is a batch-sized explode(k) +
    broadcast word join + per-doc agg; the exact join sees only
    |batch| x (dup-rate + ~1 % FPR) rows. Reference contrast:
    src/main.rs:49-75 keeps the whole key set in a driver-side
    BTreeMap — this is the sketch-tiered distributed form of the
    same membership question."""
    docs = load(spark, sf_dir, "documents")
    prefix = F.concat_ws(
        " ", F.slice(F.split(dedup.normalize_text(F.col("text")), " "), 1, 8)
    )
    h = docs.select(
        "doc_id",
        F.sha2(prefix, 256).alias("th"),
        (F.col("doc_id") % 3 == 0).alias("is_new"),
    )
    corp = h.where(~F.col("is_new")).select("th").distinct()
    # the sketch: bit positions -> (word, bit) -> bit_or per word.
    # <= 524 288 rows regardless of corpus size; localCheckpoint
    # stands in for the STORED sketch (3 consumers)
    words = (
        corp.select(F.explode(_bloom_positions(F.col("th"))).alias("pos"))
        .select(
            F.expr("pos div 64").alias("w"),
            F.expr("shiftleft(1L, cast(pos % 64 AS int))").alias("b"),
        )
        .groupBy("w")
        .agg(F.bit_or("b").alias("word"))
        .localCheckpoint(eager=True)
    )

    def bloom_hit(df: DataFrame, *carry: str) -> DataFrame:
        """Probe: k exploded positions, broadcast word join, a key
        hits iff ALL its k bits are set."""
        posed = df.select(
            *carry, F.explode(_bloom_positions(F.col("th"))).alias("pos")
        )
        return (
            posed.select(
                *carry,
                F.expr("pos div 64").alias("w"),
                F.expr("shiftleft(1L, cast(pos % 64 AS int))").alias("b"),
            )
            .join(F.broadcast(words), "w", "left")
            .withColumn(
                "__hit",
                F.coalesce(
                    F.col("word").bitwiseAND(F.col("b")) != 0, F.lit(False)
                ),
            )
            .groupBy(*carry)
            .agg(F.min(F.col("__hit").cast("int")).alias("__allhit"))
            .withColumn("bloom_hit", F.col("__allhit") == 1)
            .drop("__allhit")
        )

    # self-membership invariant: every stored key tests positive
    # (deterministic no-false-negative, checked on the exact key set)
    sound = bloom_hit(corp, "th").agg(
        F.coalesce(F.bool_and("bloom_hit"), F.lit(True)).alias(
            "bloom_sound"
        )  # empty corpus is vacuously sound
    )
    nb = h.where(F.col("is_new")).withColumn(
        "keeper", F.min("doc_id").over(Window.partitionBy("th"))
    )
    probed = bloom_hit(nb, "doc_id", "th", "keeper")
    pos = probed.where(F.col("bloom_hit")).join(
        corp.withColumn("in_corp", F.lit(True)), "th", "left"
    )
    neg = probed.where(~F.col("bloom_hit")).withColumn(
        "in_corp", F.lit(None).cast("boolean")
    )
    return (
        pos.unionByName(neg)
        .crossJoin(F.broadcast(sound))
        .select(
            "doc_id",
            F.col("th").alias("text_hash"),
            F.when(F.col("in_corp").isNotNull(), F.lit("dup_corpus"))
            .when(F.col("doc_id") != F.col("keeper"), F.lit("dup_batch"))
            .otherwise(F.lit("new"))
            .alias("status"),
            "bloom_sound",
        )
    )


_SUBSTRING_ORACLE = """
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS ts FROM documents
    ),
    win AS (
        SELECT doc_id, g.i - 1 AS pos,
               array_to_string(ts[g.i : g.i + 7], ' ') AS w
        FROM toks, unnest(generate_series(1, len(ts) - 7)) AS g(i)
        WHERE len(ts) >= 8
    ),
    marked AS (
        SELECT doc_id, pos, COUNT(*) OVER (PARTITION BY w) AS c FROM win
    ),
    dup AS (
        SELECT doc_id, pos,
               pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos)
                 AS grp
        FROM marked WHERE c > 1
    )
    SELECT doc_id,
           MIN(pos) AS span_start,
           CAST(MAX(pos) - MIN(pos) + 8 AS BIGINT) AS span_len_tokens,
           COUNT(*) AS n_windows
    FROM dup GROUP BY doc_id, grp
"""


@query("q_dedup_substring", oracle=_SUBSTRING_ORACLE)
def q_dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level dedup span extraction (the Lee et al. 2022
    'Deduplicating Training Data Makes Language Models Better'
    EXACT-SUBSTRING complement to the document-level family): find
    every maximal token span whose 8-token windows ALL occur more than
    once in the corpus — the spans a substring-dedup pass would cut.

    Pipeline: (1) every consecutive 8-token window with its 0-based
    position (operators/dedup.py token_windows — zip+slice+explode,
    whole-stage codegen); (2) corpus-wide multiplicity attached with a
    partition-only window over the window text — the round-5
    ngram-novelty lesson: an aggregate + join back would re-derive all
    windows under the join branch, the window form is ONE pass;
    (3) duplicated positions merged into maximal spans per doc with
    the gaps-and-islands trick (pos − row_number is constant exactly
    on consecutive runs — both engines' row_number over the unique,
    total (doc_id, pos) order is deterministic); (4) per-span rollup.
    Output: (doc_id, span_start, span_len_tokens, n_windows), all
    exact integers.

    Scale: two shuffles, window-text (uniform — mostly-unique strings)
    and doc_id. q_dedup_substring_hashed is the 100 TB form (8-byte
    xxhash64 shuffle keys); this raw-string form is what the oracle
    can replay verbatim."""
    docs = load(spark, sf_dir, "documents")
    return dedup.dup_window_spans(docs, w=8, hashed=False)


@query("q_dedup_substring_hashed", oracle=_SUBSTRING_ORACLE)
def q_dedup_substring_hashed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB form of q_dedup_substring: the corpus-wide
    multiplicity exchange carries xxhash64(window) — an 8-byte long,
    projected BEFORE the shuffle — instead of the ~50-byte window
    string (~6× narrower wide exchange, same two-shuffle plan). The
    output is identical to the raw-string form unless two DISTINCT
    windows collide in xxhash64 (probability ~n²/2⁶⁵, deterministic
    per corpus; fixture equality asserted in tests/test_llm_ops.py),
    which is why this scale path shares the raw form's EXACT oracle —
    both the algorithm and its cheap-key variant are externally
    hash-gated."""
    docs = load(spark, sf_dir, "documents")
    return dedup.dup_window_spans(docs, w=8, hashed=True)


@query(
    "q_dedup_substring_cut",
    oracle="""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS ts FROM documents
    ),
    win AS (
        SELECT doc_id, g.i - 1 AS pos,
               array_to_string(ts[g.i : g.i + 7], ' ') AS w
        FROM toks, unnest(generate_series(1, len(ts) - 7)) AS g(i)
        WHERE len(ts) >= 8
    ),
    marked AS (
        SELECT doc_id, pos, COUNT(*) OVER (PARTITION BY w) AS c FROM win
    ),
    dup AS (
        SELECT doc_id, pos,
               pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos)
                 AS grp
        FROM marked WHERE c > 1
    ),
    sp AS (
        SELECT doc_id, MIN(pos) AS s, MAX(pos) + 8 AS e
        FROM dup GROUP BY doc_id, grp
    ),
    tok_pos AS (
        SELECT doc_id, g.i - 1 AS pos, ts[g.i] AS tok, len(ts) AS n_tokens
        FROM toks, unnest(generate_series(1, len(ts))) AS g(i)
    ),
    kept AS (
        SELECT t.doc_id, t.pos, t.tok
        FROM tok_pos t
        WHERE NOT EXISTS (SELECT 1 FROM sp
                          WHERE sp.doc_id = t.doc_id
                            AND t.pos >= sp.s AND t.pos < sp.e)
    ),
    agg AS (
        SELECT doc_id, COUNT(*) AS n_kept,
               string_agg(tok, ' ' ORDER BY pos) AS clean_text
        FROM kept GROUP BY doc_id
    )
    SELECT b.doc_id,
           CAST(b.n_tokens AS BIGINT) AS n_tokens,
           CAST(b.n_tokens - COALESCE(a.n_kept, 0) AS BIGINT) AS n_cut,
           COALESCE(a.clean_text, '') AS clean_text
    FROM (SELECT doc_id, len(ts) AS n_tokens FROM toks) b
    LEFT JOIN agg a USING (doc_id)
    """,
)
def q_dedup_substring_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The TRANSFORM of the substring-dedup family: rewrite every
    document with its duplicated spans (q_dedup_substring's output)
    removed — per doc: original token count, tokens cut, and the
    cleaned text. Policy: cut every occurrence of a duplicated span;
    canonical-copy retention is a document-level decision
    (q_dedup_exact / q_corpus_carve keep min-doc_id canonicals), so
    the composition 'carve then cut' matches Lee et al.'s
    keep-one-copy semantics end to end.

    Plan: spans aggregate to a per-doc interval ARRAY (tiny: a few
    rows per affected doc), equi-joined on doc_id into the positional
    token stream; the cut test is a per-token exists() over that tiny
    array (JVM higher-order function — no range join, no per-token
    shuffle); reconstruction is array_sort(collect_list(struct(pos,
    tok))) per doc, computed as a CONDITIONAL aggregate over the
    unfiltered stream (cut rows contribute NULL structs collect_list
    skips) so a fully-duplicated document survives as an empty
    clean_text row without a third corpus scan joined back. Shuffles:
    window-key + doc_id (span derivation, shared shapes with
    q_dedup_substring) + one doc_id exchange for the rebuild — every
    key uniform. Two corpus scans total (spans + rebuild), audited."""
    docs = load(spark, sf_dir, "documents")
    spans = dedup.dup_window_spans(docs, w=8, hashed=False)
    sp_arr = spans.groupBy("doc_id").agg(
        F.collect_list(
            F.struct(
                F.col("span_start").alias("s"),
                (F.col("span_start") + F.col("span_len_tokens")).alias("e"),
            )
        ).alias("sps")
    )
    toks = docs.select(
        "doc_id",
        F.split("text", " ").alias("ts"),
    ).select(
        "doc_id",
        F.size("ts").alias("n_tokens"),
        F.posexplode("ts").alias("pos", "tok"),
    )
    joined = toks.join(sp_arr, "doc_id", "left")
    cut = ~F.col("sps").isNull() & F.exists(
        "sps", lambda x: (F.col("pos") >= x["s"]) & (F.col("pos") < x["e"])
    )
    # Conditional aggregation over the UNFILTERED token stream (cut
    # rows contribute NULL structs, which collect_list skips) instead
    # of filter → agg → left-join a third documents scan back for the
    # fully-cut docs: one corpus scan and one join fewer, and every
    # doc keeps its output row by construction.
    keep_struct = F.when(~cut, F.struct(F.col("pos"), F.col("tok")))
    return (
        joined.groupBy("doc_id")
        .agg(
            F.max("n_tokens").cast("long").alias("n_tokens"),
            F.sum(cut.cast("long")).alias("n_cut"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(keep_struct)),
                    lambda x: x["tok"],
                ),
                " ",
            ).alias("clean_text"),
        )
        .select("doc_id", "n_tokens", "n_cut", "clean_text")
    )


@query(
    "q_embed_topk",
    oracle="""
    WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv
               FROM embeddings WHERE vec_id < 10),
    c AS (SELECT vec_id AS c_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
    scored AS (
        SELECT q_id, c_id,
               list_dot_product(qv, cv)
                 / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv)))
                 AS cosine
        FROM q, c WHERE q_id <> c_id
    ), ranked AS (
        SELECT q_id, c_id, cosine,
               ROW_NUMBER() OVER (PARTITION BY q_id
                                  ORDER BY cosine DESC, c_id) AS rn
        FROM scored
    )
    SELECT q_id, c_id, round(cosine, 4) AS cosine, rn
    FROM ranked WHERE rn <= 5
    """,
)
def q_embed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5 for query vectors vec_id < 10 (self
    excluded, ties by candidate id). Brute-force baseline; see
    q_embed_ann for the bucketed scale path."""
    emb = load(spark, sf_dir, "embeddings")
    return similarity.cosine_topk(
        emb.where(F.col("vec_id") < 10), emb, k=5
    )


@query(
    "q_embed_hard_negatives",
    oracle="""
    WITH q AS (SELECT vec_id AS q_id, label AS q_label,
                      CAST(embedding AS DOUBLE[]) AS qv
               FROM embeddings WHERE vec_id < 10),
    c AS (SELECT vec_id AS c_id, label AS c_label,
                 CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
    scored AS (
        SELECT q_id, c_id,
               list_dot_product(qv, cv)
                 / (sqrt(list_dot_product(qv, qv))
                    * sqrt(list_dot_product(cv, cv))) AS cosine
        FROM q, c WHERE q_id <> c_id AND q_label <> c_label
    ), ranked AS (
        SELECT q_id, c_id, cosine,
               ROW_NUMBER() OVER (PARTITION BY q_id
                                  ORDER BY cosine DESC, c_id) AS rn
        FROM scored
    )
    SELECT q_id, c_id, round(cosine, 4) AS cosine, rn
    FROM ranked WHERE rn <= 3
    """,
)
def q_embed_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: for each query
    vector, the 3 MOST-similar corpus vectors with a DIFFERENT label —
    the pairs a contrastive loss learns the most from (and the
    mislabel-candidate surface for label QA). Same broadcast plan as
    q_embed_topk (query side broadcasts, corpus never shuffles, label
    inequality rides the join filter); at scale the label filter
    composes with any of the bucketed ANN paths (q_embed_ann /
    q_embed_ivf / q_embed_pq) since it is a per-candidate predicate."""
    emb = load(spark, sf_dir, "embeddings")
    return similarity.cosine_topk(
        emb.where(F.col("vec_id") < 10),
        emb,
        k=3,
        exclude_label_col="label",
    )


@query(
    "q_dedup_embed",
    oracle="""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
               FROM embeddings WHERE vec_id < 1000)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_dot_product(a.e, b.e)
                 / (sqrt(list_dot_product(a.e, a.e))
                    * sqrt(list_dot_product(b.e, b.e))), 4) AS cosine
    FROM v a JOIN v b ON a.vec_id < b.vec_id
    WHERE list_dot_product(a.e, b.e)
          / (sqrt(list_dot_product(a.e, a.e))
             * sqrt(list_dot_product(b.e, b.e))) >= 0.45
    """,
)
def q_dedup_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (threshold 0.45 — the
    fixture embeddings are random gaussians, so this captures the
    upper tail; real corpora use ~0.95). Exact all-pairs ORACLE form,
    bounded to a 1000-vector slice: all-pairs is quadratic by
    definition and exists only as the correctness contract — the scale
    paths are cosine_near_pairs_bulk (numpy matmul), q_embed_ann
    (hyperplane LSH) and q_embed_ivf."""
    emb = load(spark, sf_dir, "embeddings").where(F.col("vec_id") < 1000)
    return similarity.cosine_near_pairs(emb, threshold=0.45)


@query(
    "q_dedup_embed_bulk",
    oracle="""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
               FROM embeddings WHERE vec_id < 1000)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_dot_product(a.e, b.e)
                 / (sqrt(list_dot_product(a.e, a.e))
                    * sqrt(list_dot_product(b.e, b.e))), 4) AS cosine
    FROM v a JOIN v b ON a.vec_id < b.vec_id
    WHERE list_dot_product(a.e, b.e)
          / (sqrt(list_dot_product(a.e, a.e))
             * sqrt(list_dot_product(b.e, b.e))) >= 0.45
    """,
)
def q_dedup_embed_bulk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production-throughput form of q_dedup_embed: BLAS blocked
    matmul per partition against a broadcast normalized matrix
    (operators/similarity.py:cosine_near_pairs_bulk). Emits the same
    pair set as the exact fold (asserted in tests).

    Round-5 graduation to the exact fold's oracle: the float32 BLAS
    cosines sit ~1e-7 off the float64 fold, the output is 4-dp
    rounded, and the fixture has no pair within float32 noise of
    either the 0.45 threshold or a rounding boundary (the nearest
    candidates are checked in tests/test_llm_ops.py's pair-set
    equality) — so the hash check is stable, not luck: both engines
    are deterministic and the margin is ~3 orders of magnitude."""
    emb = load(spark, sf_dir, "embeddings").where(F.col("vec_id") < 1000)
    return similarity.cosine_near_pairs_bulk(emb, threshold=0.45)


@query(
    "q_dedup_embed_bucketed",
    oracle="""
    SELECT vec_id AS id_a, vec_id + 100000 AS id_b, 1.0 AS cosine
    FROM embeddings WHERE vec_id < 500
    """,
)
def q_dedup_embed_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB embed-dedup shape: hyperplane-LSH bucketing ->
    per-bucket BLAS matmul (operators/similarity.py
    cosine_near_pairs_bucketed_bulk) — no all-pairs join, no driver
    collect, no broadcast matrix; the only shuffle is on
    (table, bucket).

    The contract input unions a 500-vector slice with EXACT clones
    (vec_id + 100000): clones share every LSH signature (theta = 0),
    so recall on the planted pairs is deterministically 1.0 and the
    oracle is exact — (id, id+100000, 1.0) per slice vector, random
    gaussian cross-pairs sitting ~7 sigma below the 0.9 threshold.
    Noisy near-dup recall (not exact clones) is tolerance-tested in
    tests/test_llm_ops.py against the exact fold with the default
    8-table amplification; the contract runs 2 tables (clones collide
    in every table, so extra tables buy nothing here and each table
    adds n_planes dot-product expression trees to compile)."""
    emb = load(spark, sf_dir, "embeddings").where(F.col("vec_id") < 500)
    clones = emb.select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    corpus = emb.select("vec_id", "embedding").unionByName(clones)
    return similarity.cosine_near_pairs_bucketed_bulk(
        corpus, threshold=0.9, n_planes=8, n_tables=2
    )


@query(
    "q_embed_ivf",
    oracle="""
    WITH v AS MATERIALIZED (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
    ),
    cents AS MATERIALIZED (
        SELECT vec_id AS cent_id, e AS cv FROM v
        WHERE vec_id IN (SELECT vec_id FROM v ORDER BY vec_id LIMIT 16)
    ),
    cells AS MATERIALIZED (
        SELECT v.vec_id, c.cent_id,
               ROW_NUMBER() OVER (
                   PARTITION BY v.vec_id
                   ORDER BY list_dot_product(v.e, c.cv)
                              / (sqrt(list_dot_product(v.e, v.e))
                                 * sqrt(list_dot_product(c.cv, c.cv))) DESC,
                            c.cent_id) AS crn
        FROM v CROSS JOIN cents c
    ),
    c_cell AS (SELECT vec_id AS c_id, cent_id FROM cells WHERE crn = 1),
    q_cell AS (SELECT vec_id AS q_id, cent_id FROM cells
               WHERE crn <= 4 AND vec_id < 10),
    cand AS (
        SELECT DISTINCT q.q_id, c.c_id
        FROM q_cell q JOIN c_cell c USING (cent_id)
        WHERE q.q_id <> c.c_id
    ),
    scored AS (
        SELECT d.q_id, d.c_id,
               list_dot_product(a.e, b.e)
                 / (sqrt(list_dot_product(a.e, a.e))
                    * sqrt(list_dot_product(b.e, b.e))) AS cosine
        FROM cand d JOIN v a ON a.vec_id = d.q_id JOIN v b ON b.vec_id = d.c_id
    ),
    ranked AS (
        SELECT q_id, c_id, cosine,
               ROW_NUMBER() OVER (PARTITION BY q_id
                                  ORDER BY cosine DESC, c_id) AS rn
        FROM scored
    )
    SELECT q_id, c_id, round(cosine, 4) AS cosine, rn
    FROM ranked WHERE rn <= 5
    """,
)
def q_embed_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: coarse-quantize to 16 cells, probe the 4 nearest
    cells per query, exact-rank inside. Cell ids are computed map-side
    (Arrow/numpy argmax vs the broadcast codebook) and the tiny query
    side broadcasts into the cell equi-join — the corpus never
    shuffles (operators/similarity.py ivf_topk docstring).

    Round-5 graduation from rows-only to an EXACT oracle: the
    untrained codebook is the first 16 corpus vectors by id —
    deterministic — so the oracle replays the full quantize-probe-
    rerank pipeline. The one representational freedom left is the
    assignment arithmetic (numpy normalize-then-BLAS-matmul vs SQL
    dot/norms — ~1e-15 relative drift) which can only flip a cell
    assignment on a near-exact centroid tie; the gaussian fixture has
    none, and the final cosines are 4-dp rounded on both sides.
    q_embed_ivf_trained is the trained form: the same search plan over
    an integer-lattice k-means codebook."""
    emb = load(spark, sf_dir, "embeddings")
    return similarity.ivf_topk(
        emb.where(F.col("vec_id") < 10), emb, k=5, n_centroids=16, n_probe=4
    )


# ---------------------------------------------------------------------------
# Integer-lattice trained-codebook oracles (round-6 graduation).
#
# The trained-codebook triple (IVF / PQ / SemDeDup) was rows-only for
# two rounds because float k-means is not SQL-replayable (BLAS
# accumulation order). operators/lattice.py retrains on an integer
# lattice where EVERY Lloyd step is exactly computable by both engines
# (md5-seeded init, int64 L2, ROUND(SUM/COUNT) updates), so the full
# train -> search pipeline unrolls into MATERIALIZED CTEs — the
# q_graph_pagerank unroll composed with the q_dedup_minhash_portable
# md5 seeding, exactly as VERDICT r5 prescribed. These lattice trainers
# are the engine's only trained-codebook path; recall, MSE and cell
# balance are property-tested in tests/test_lattice.py,
# tests/test_llm_ops.py and tests/test_ann_quality.py.
# ---------------------------------------------------------------------------

_LATTICE_SCALE = 1000


def _d2i(x: str, c: str) -> str:
    """Exact integer squared-L2 via the |x|^2 - 2<x,c> + |c|^2
    expansion (list_dot_product on lattice vectors is integer-valued
    and < 2^53, so the double is exact and the BIGINT cast lossless)."""
    return (
        f"CAST(list_dot_product({x},{x}) - 2*list_dot_product({x},{c})"
        f" + list_dot_product({c},{c}) AS BIGINT)"
    )


def _lattice_prologue(
    k_sql: str, rounds: int, src_where: str = ""
) -> tuple[str, str]:
    """CTE chain: quantize -> md5-seeded cb0 -> ``rounds`` unrolled
    Lloyd rounds. Returns (ctes, final_codebook_name). Every stage is
    MATERIALIZED (DuckDB otherwise inlines the chain exponentially —
    the pagerank-oracle lesson). ``src_where`` restricts the TRAINING
    corpus (q_dedup_semantic_inc trains its frozen codebook on the
    base shard only)."""
    parts = [
        f"""q AS MATERIALIZED (
  SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]),
                                x -> CAST(ROUND(x * {_LATTICE_SCALE}) AS BIGINT)) AS qv
  FROM embeddings{src_where}
),
seed AS MATERIALIZED (
  SELECT vec_id, qv,
         ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS r
  FROM q
),
ux AS MATERIALIZED (
  SELECT vec_id, unnest(qv) AS val, generate_subscripts(qv, 1) AS pos FROM q
),
cb0 AS MATERIALIZED (SELECT r - 1 AS cent_id, qv AS cv FROM seed WHERE r <= {k_sql})"""
    ]
    for i in range(1, rounds + 1):
        parts.append(
            f"""a{i} AS MATERIALIZED (
  SELECT vec_id, cent_id FROM (
    SELECT t.vec_id, c.cent_id,
           ROW_NUMBER() OVER (PARTITION BY t.vec_id
                              ORDER BY {_d2i('t.qv', 'c.cv')}, c.cent_id) AS rn
    FROM q t CROSS JOIN cb{i - 1} c) z
  WHERE rn = 1
),
u{i} AS MATERIALIZED (
  SELECT a.cent_id, x.pos,
         CAST(ROUND(CAST(SUM(x.val) AS DOUBLE) / COUNT(*)) AS BIGINT) AS m
  FROM a{i} a JOIN ux x USING (vec_id)
  GROUP BY 1, 2
),
cb{i} AS MATERIALIZED (
  SELECT c.cent_id, COALESCE(n.cv, c.cv) AS cv
  FROM cb{i - 1} c LEFT JOIN (
    SELECT cent_id, list(m ORDER BY pos) AS cv FROM u{i} GROUP BY cent_id
  ) n USING (cent_id)
)"""
        )
    return ",\n".join(parts), f"cb{rounds}"


def _ivf_trained_oracle(rounds: int = 2) -> str:
    pro, cb = _lattice_prologue("16", rounds)
    return f"""WITH {pro},
asg AS MATERIALIZED (
  SELECT vec_id, cent_id FROM (
    SELECT t.vec_id, c.cent_id,
           ROW_NUMBER() OVER (PARTITION BY t.vec_id
                              ORDER BY {_d2i('t.qv', 'c.cv')}, c.cent_id) AS rn
    FROM q t CROSS JOIN {cb} c) z
  WHERE rn = 1
),
probe AS (
  SELECT vec_id AS q_id, cent_id FROM (
    SELECT t.vec_id, c.cent_id,
           ROW_NUMBER() OVER (PARTITION BY t.vec_id
                              ORDER BY {_d2i('t.qv', 'c.cv')}, c.cent_id) AS rn
    FROM q t CROSS JOIN {cb} c WHERE t.vec_id < 10) z
  WHERE rn <= 4
),
cand AS (
  SELECT DISTINCT p.q_id, a.vec_id AS c_id
  FROM probe p JOIN asg a USING (cent_id)
  WHERE a.vec_id <> p.q_id
),
scored AS (
  SELECT cand.q_id, cand.c_id, {_d2i('qa.qv', 'qb.qv')} AS adist
  FROM cand JOIN q qa ON qa.vec_id = cand.q_id
            JOIN q qb ON qb.vec_id = cand.c_id
),
ranked AS (
  SELECT q_id, c_id, adist,
         ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY adist, c_id) AS rn
  FROM scored
)
SELECT q_id, c_id, adist, rn FROM ranked WHERE rn <= 5"""


@query("q_embed_ivf_trained", oracle=_ivf_trained_oracle())
def q_embed_ivf_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF with a TRAINED coarse codebook, EXACT-oracled (round-6
    graduation from rows-only): the codebook is 2 genuine distributed
    Lloyd rounds over the integer lattice (operators/lattice.py —
    md5-seeded init, per-round broadcast codebook + one mapInPandas
    corpus pass emitting integer partial sums; the corpus never
    shuffles), and because every training step is exact integer/IEEE
    arithmetic the oracle replays train -> assign -> probe -> rank as
    unrolled MATERIALIZED CTEs. Search distances are EXACT int64
    squared L2 — no rounding tolerance anywhere. Same search plan as
    q_embed_ivf (map-side assignment, broadcast probes into the cell
    equi-join). Recall and cell balance against the first-N stand-in
    are property-tested in tests/test_llm_ops.py."""
    from fhir2sql_spark.operators import lattice

    emb = load(spark, sf_dir, "embeddings")
    qv = lattice.materialize(lattice.quantize(emb, scale=_LATTICE_SCALE))
    cents = lattice.lattice_kmeans(qv, k=16, iters=2)
    return lattice.lattice_ivf_topk(
        qv.where(F.col("vid") < 10), qv, cents, k=5, n_probe=4
    )


@query(
    "q_embed_pq",
    oracle="""
    WITH v AS MATERIALIZED (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
    ),
    sub AS (SELECT * FROM (VALUES (0),(1),(2),(3)) s(s)),
    cents AS MATERIALIZED (
      SELECT vec_id AS cent_id, e AS cv FROM v
      WHERE vec_id IN (SELECT vec_id FROM v ORDER BY vec_id LIMIT 16)
    ),
    vs AS MATERIALIZED (
      SELECT vec_id, s, list_slice(e, s*16+1, s*16+16) AS x
      FROM v CROSS JOIN sub
    ),
    cs AS MATERIALIZED (
      SELECT cent_id, s, list_slice(cv, s*16+1, s*16+16) AS c
      FROM cents CROSS JOIN sub
    ),
    d AS MATERIALIZED (
      SELECT vs.vec_id, vs.s, cs.cent_id,
             list_dot_product(x,x) - 2*list_dot_product(x,c)
               + list_dot_product(c,c) AS d2
      FROM vs JOIN cs USING (s)
    ),
    codes AS (
      SELECT vec_id, s, cent_id FROM (
        SELECT vec_id, s, cent_id,
               ROW_NUMBER() OVER (PARTITION BY vec_id, s
                                  ORDER BY d2, cent_id) AS rn
        FROM d) t WHERE rn = 1
    ),
    scored AS (
      -- list_sum over the s-ORDERED 4-element list, NOT SUM(d2):
      -- DuckDB's parallel SUM(double) accumulates in thread-dependent
      -- order, which flipped the 4-dp rounding across runs (r6 flake);
      -- the ordered fold is deterministic and matches the Spark
      -- side's fixed s=0..3 accumulation exactly.
      SELECT d.vec_id AS q_id, codes.vec_id AS c_id,
             list_sum(list(d.d2 ORDER BY d.s)) AS adist
      FROM codes JOIN d ON d.s = codes.s AND d.cent_id = codes.cent_id
      WHERE d.vec_id < 5 AND codes.vec_id <> d.vec_id
      GROUP BY 1, 2
    ),
    ranked AS (
      SELECT q_id, c_id, adist,
             ROW_NUMBER() OVER (PARTITION BY q_id
                                ORDER BY adist, c_id) AS rn
      FROM scored
    )
    SELECT q_id, c_id, round(adist, 4) AS adist, rn
    FROM ranked WHERE rn <= 5
    """,
)
def q_embed_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN with ADC scoring (Jégou et al. 2011 —
    the memory-bounded path that makes billion-vector search fit in
    RAM; FAISS's IVF-PQ core). 64-dim vectors split into m=4
    subspaces, each quantized against a 16-codeword codebook, so a
    candidate costs 4 LUT lookups instead of a 64-dim dot product and
    stores 4 small codes instead of 256 bytes of floats.

    Spark shape (operators/pq.py): broadcast codebook, encode + ADC
    scoring fused into ONE mapInPandas corpus pass emitting only
    per-(query, batch) top-k — the corpus never shuffles and the
    single exchange carries <= k x n_q x n_batches rows into the
    exact re-rank window.

    Exact oracle via the q_embed_ivf graduation argument: the
    codebook is the deterministic first-16 corpus vectors, both
    engines expand squared L2 as |x|^2 - 2<x,c> + |c|^2, and the only
    representational freedom (dot accumulation order, ~1e-13) is
    absorbed by 4-dp rounding; np.argmin's first-minimum matches the
    oracle's (d2, cent_id) tie rule."""
    from fhir2sql_spark.operators.pq import pq_search

    emb = load(spark, sf_dir, "embeddings")
    out = pq_search(emb.where(F.col("vec_id") < 5), emb, k=5, m=4, n_codes=16)
    return out.select(
        "q_id", "c_id", F.round("adist", 4).alias("adist"), "rn"
    )


def _pq_trained_oracle(rounds: int = 2, m: int = 4, sub: int = 16,
                       n_codes: int = 16) -> str:
    """Per-subspace lattice Lloyd + encode + integer ADC, unrolled.
    The seed codebook is the md5-ordered first-``n_codes`` draw sliced
    per subspace (one seed CTE shared with the IVF oracle's
    construction); adist is a SUM of exact BIGINTs — order-free, so
    the q_embed_ivfpq float-SUM flake class cannot occur here."""
    d2 = _d2i("v.x", "b.w")
    vals = ",".join(f"({s})" for s in range(m))
    parts = [
        f"""q AS MATERIALIZED (
  SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]),
                                x -> CAST(ROUND(x * {_LATTICE_SCALE}) AS BIGINT)) AS qv
  FROM embeddings
),
seed AS MATERIALIZED (
  SELECT vec_id, qv,
         ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS r
  FROM q
),
sub AS (SELECT * FROM (VALUES {vals}) s(s)),
vs AS MATERIALIZED (
  SELECT vec_id, s, list_slice(qv, s*{sub}+1, (s+1)*{sub}) AS x
  FROM q CROSS JOIN sub
),
uxs AS MATERIALIZED (
  SELECT vec_id, s, unnest(x) AS val, generate_subscripts(x, 1) AS pos FROM vs
),
pb0 AS MATERIALIZED (
  SELECT sb.s, d.r - 1 AS code_id,
         list_slice(d.qv, sb.s*{sub}+1, (sb.s+1)*{sub}) AS w
  FROM seed d CROSS JOIN sub sb WHERE d.r <= {n_codes}
)"""
    ]
    for i in range(1, rounds + 1):
        parts.append(
            f"""pa{i} AS MATERIALIZED (
  SELECT vec_id, s, code_id FROM (
    SELECT v.vec_id, v.s, b.code_id,
           ROW_NUMBER() OVER (PARTITION BY v.vec_id, v.s
                              ORDER BY {d2}, b.code_id) AS rn
    FROM vs v JOIN pb{i - 1} b USING (s)) z
  WHERE rn = 1
),
pu{i} AS MATERIALIZED (
  SELECT a.s, a.code_id, x.pos,
         CAST(ROUND(CAST(SUM(x.val) AS DOUBLE) / COUNT(*)) AS BIGINT) AS m
  FROM pa{i} a JOIN uxs x ON x.vec_id = a.vec_id AND x.s = a.s
  GROUP BY 1, 2, 3
),
pb{i} AS MATERIALIZED (
  SELECT b.s, b.code_id, COALESCE(n.w, b.w) AS w
  FROM pb{i - 1} b LEFT JOIN (
    SELECT s, code_id, list(m ORDER BY pos) AS w FROM pu{i}
    GROUP BY s, code_id
  ) n USING (s, code_id)
)"""
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + f""",
codes AS MATERIALIZED (
  SELECT vec_id, s, code_id FROM (
    SELECT v.vec_id, v.s, b.code_id,
           ROW_NUMBER() OVER (PARTITION BY v.vec_id, v.s
                              ORDER BY {d2}, b.code_id) AS rn
    FROM vs v JOIN pb{rounds} b USING (s)) z
  WHERE rn = 1
),
lut AS MATERIALIZED (
  SELECT v.vec_id AS q_id, v.s, b.code_id, {d2} AS d2
  FROM vs v JOIN pb{rounds} b USING (s)
  WHERE v.vec_id < 5
),
scored AS (
  SELECT l.q_id, c.vec_id AS c_id, CAST(SUM(l.d2) AS BIGINT) AS adist
  FROM codes c JOIN lut l ON l.s = c.s AND l.code_id = c.code_id
  WHERE c.vec_id <> l.q_id
  GROUP BY 1, 2
),
ranked AS (
  SELECT q_id, c_id, adist,
         ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY adist, c_id) AS rn
  FROM scored
)
SELECT q_id, c_id, adist, rn FROM ranked WHERE rn <= 5"""
    )


@query("q_embed_pq_trained", oracle=_pq_trained_oracle())
def q_embed_pq_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ/ADC with TRAINED per-subspace codebooks, EXACT-oracled
    (round-6 graduation): 2 genuine per-subspace Lloyd rounds over the
    integer lattice (operators/lattice.py lattice_pq_train — all m
    subspaces train in the SAME per-round corpus pass; the only
    shuffle carries m x n_codes x (sub+1) integers per batch),
    replayed by the oracle as unrolled MATERIALIZED CTEs. The fused
    encode+ADC scan is q_embed_pq's hash-checked plan shape with
    integer LUTs, and adist is an exact int64 SUM — order-free, so no
    rounding tolerance and no float-accumulation flake class. The
    MSE cut against the first-N books is property-tested in
    tests/test_lattice.py."""
    from fhir2sql_spark.operators import lattice

    emb = load(spark, sf_dir, "embeddings")
    qv = lattice.materialize(lattice.quantize(emb, scale=_LATTICE_SCALE))
    books = lattice.lattice_pq_train(qv, m=4, n_codes=16, iters=2)
    return lattice.lattice_pq_search(
        qv.where(F.col("vid") < 5), qv, books, k=5, m=4
    )


@query(
    "q_embed_ivfpq",
    oracle="""
WITH v AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
cents AS MATERIALIZED (
  SELECT vec_id AS cell_id, e AS cv FROM v
  WHERE vec_id IN (SELECT vec_id FROM v ORDER BY vec_id LIMIT 16)
),
ad AS MATERIALIZED (
  SELECT v.vec_id, c.cell_id,
         list_dot_product(e,e) - 2*list_dot_product(e,cv) + list_dot_product(cv,cv) AS d2
  FROM v CROSS JOIN cents c
),
cellof AS MATERIALIZED (
  SELECT vec_id, cell_id FROM (
    SELECT vec_id, cell_id,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cell_id) AS rn
    FROM ad) t WHERE rn = 1
),
resid AS MATERIALIZED (
  SELECT v.vec_id, co.cell_id,
         list_transform(list_zip(v.e, c.cv), p -> p[1] - p[2]) AS r
  FROM v JOIN cellof co USING (vec_id) JOIN cents c ON c.cell_id = co.cell_id
),
sub AS (SELECT * FROM (VALUES (0),(1),(2),(3)) s(s)),
cw AS MATERIALIZED (
  SELECT r2.vec_id AS code_id, sub.s, list_slice(r2.r, sub.s*16+1, sub.s*16+16) AS w
  FROM resid r2 CROSS JOIN sub
  WHERE r2.vec_id IN (SELECT vec_id FROM v ORDER BY vec_id LIMIT 16 OFFSET 16)
),
rs AS MATERIALIZED (
  SELECT vec_id, cell_id, sub.s, list_slice(r, sub.s*16+1, sub.s*16+16) AS x
  FROM resid CROSS JOIN sub
),
cd AS MATERIALIZED (
  SELECT rs.vec_id, rs.cell_id, rs.s, cw.code_id,
         list_dot_product(x,x) - 2*list_dot_product(x,w) + list_dot_product(w,w) AS d2
  FROM rs JOIN cw USING (s)
),
codes AS MATERIALIZED (
  SELECT vec_id, cell_id, s, code_id FROM (
    SELECT vec_id, cell_id, s, code_id,
           ROW_NUMBER() OVER (PARTITION BY vec_id, s ORDER BY d2, code_id) AS rn
    FROM cd) t WHERE rn = 1
),
probes AS MATERIALIZED (
  SELECT vec_id AS q_id, cell_id FROM (
    SELECT vec_id, cell_id,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cell_id) AS rn
    FROM ad WHERE vec_id < 5) t WHERE rn <= 4
),
qres AS (
  SELECT p.q_id, p.cell_id,
         list_transform(list_zip(v.e, c.cv), x -> x[1] - x[2]) AS qr
  FROM probes p JOIN v ON v.vec_id = p.q_id
  JOIN cents c ON c.cell_id = p.cell_id
),
qslice AS (
  SELECT q_id, cell_id, sub.s, list_slice(qr, sub.s*16+1, sub.s*16+16) AS qs
  FROM qres CROSS JOIN sub
),
lut AS MATERIALIZED (
  SELECT q.q_id, q.cell_id, q.s, cw.code_id,
         list_dot_product(qs,qs) - 2*list_dot_product(qs,w) + list_dot_product(w,w) AS d2
  FROM qslice q JOIN cw USING (s)
),
scored AS (
  -- ordered fold, not SUM(double): parallel SUM accumulates in
  -- thread-dependent order and flipped the 4-dp rounding across runs
  -- (r6 flake — 2 distinct oracle hashes over 10 identical runs);
  -- list_sum(list(.. ORDER BY s)) is deterministic and matches the
  -- Spark side's fixed s=0..3 accumulation.
  SELECT lut.q_id, codes.vec_id AS c_id,
         list_sum(list(lut.d2 ORDER BY lut.s)) AS adist
  FROM codes
  JOIN lut ON lut.cell_id = codes.cell_id AND lut.s = codes.s
          AND lut.code_id = codes.code_id
  WHERE codes.vec_id <> lut.q_id
  GROUP BY 1, 2
),
ranked AS (
  SELECT q_id, c_id, adist,
         ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY adist, c_id) AS rn
  FROM scored
)
SELECT q_id, c_id, round(adist, 4) AS adist, rn FROM ranked WHERE rn <= 5
    """,
)
def q_embed_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ with ADC — the full FAISS-style composition
    (operators/pq.py ivfpq_search): coarse L2 inverted lists bound
    WHICH candidates are scored (n_probe=4 of 16 cells per query),
    residual product quantization bounds the per-candidate cost to
    m=4 LUT lookups and the storage to 4 code bytes. One fused
    mapInPandas corpus pass (assign -> residual -> encode -> LUT
    score -> per-batch top-k) against broadcast
    centroids/codebooks/LUTs; the corpus never shuffles.

    Exact oracle by the same graduation argument as q_embed_ivf /
    q_embed_pq: centroids = first-16 corpus vectors, PQ codewords =
    residuals of the NEXT 16 (disjoint — a centroid's own residual is
    identically zero and would collapse the codebook, the bug the
    first oracle draft exposed); element-wise residual subtraction is
    exact IEEE on both engines, every distance uses the shared
    |x|^2-2<x,c>+|c|^2 expansion, ties break to lowest id everywhere,
    4-dp rounding absorbs dot accumulation order."""
    from fhir2sql_spark.operators.pq import ivfpq_search

    emb = load(spark, sf_dir, "embeddings")
    out = ivfpq_search(
        emb.where(F.col("vec_id") < 5), emb,
        k=5, n_cells=16, m=4, n_codes=16, n_probe=4,
    )
    return out.select(
        "q_id", "c_id", F.round("adist", 4).alias("adist"), "rn"
    )


def _ann_oracle(n_planes: int = 8, seed: int = 42, dim: int = 64) -> str:
    """Generated oracle replicating the ENTIRE hyperplane-LSH pipeline:
    the seeded planes are inlined as double literals (repr() round-
    trips IEEE doubles; both engines parse them to the same bits), and
    the Spark side's plane/cosine dots are sequential left-to-right
    folds (operators/similarity.py _dot) — the same accumulation order
    as DuckDB's list_dot_product — so even each SIGN BIT is
    bit-identical and the bucket partition itself is hash-checked."""
    from fhir2sql_spark.operators.similarity import _hyperplanes

    planes = _hyperplanes(dim, n_planes, seed)
    bits = " || ".join(
        "(CASE WHEN list_dot_product(e, ["
        + ", ".join(repr(x) for x in p)
        + "]) >= 0 THEN '1' ELSE '0' END)"
        for p in planes
    )
    return f"""
    WITH v AS MATERIALIZED (
        SELECT vec_id, e, {bits} AS bucket
        FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
              FROM embeddings)
    ),
    q AS (SELECT vec_id AS q_id, e AS qe, bucket FROM v WHERE vec_id < 10),
    scored AS (
        SELECT q.q_id, c.vec_id AS c_id,
               list_dot_product(q.qe, c.e)
                 / (sqrt(list_dot_product(q.qe, q.qe))
                    * sqrt(list_dot_product(c.e, c.e))) AS cosine
        FROM q JOIN v c ON q.bucket = c.bucket AND q.q_id <> c.vec_id
    ),
    ranked AS (
        SELECT q_id, c_id, cosine,
               ROW_NUMBER() OVER (PARTITION BY q_id
                                  ORDER BY cosine DESC, c_id) AS rn
        FROM scored
    )
    SELECT q_id, c_id, round(cosine, 4) AS cosine, rn
    FROM ranked WHERE rn <= 5
    """


@query("q_embed_ann", oracle=_ann_oracle(n_planes=8, seed=42))
def q_embed_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5 via random-hyperplane LSH (8 planes, seed 42):
    exact ranking restricted to same-bucket candidates — the equi-join
    shape that scales to 100 TB corpora.

    Round-5 graduation from rows-only to an EXACT oracle: the planes
    are seeded literals and every dot product on both sides is the
    same sequential fold, so the oracle (_ann_oracle) replicates
    bucket assignment bit-for-bit — the driver now checks WHICH
    candidates each bucket admits, not just row counts. Recall vs the
    exact top-k stays tolerance-tested in tests/test_llm_ops.py."""
    emb = load(spark, sf_dir, "embeddings")
    return similarity.ann_topk_lsh(
        emb.where(F.col("vec_id") < 10), emb, k=5, n_planes=8, seed=42
    )


@query(
    "q_text_stats",
    oracle="""
    WITH toks AS (
        SELECT lang, unnest(string_split(text, ' ')) AS token FROM documents
    ), counts AS (
        SELECT lang, token, COUNT(*) AS cnt FROM toks GROUP BY 1, 2
    ), ranked AS (
        SELECT lang, token, cnt,
               ROW_NUMBER() OVER (PARTITION BY lang
                                  ORDER BY cnt DESC, token) AS rn
        FROM counts
    )
    SELECT lang, token, cnt, rn FROM ranked WHERE rn <= 10
    """,
)
def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-lang top-10 tokens by (count DESC, token)."""
    d = load(spark, sf_dir, "documents")
    counts = (
        d.select("lang", F.explode(F.split("text", " ")).alias("token"))
        .groupBy("lang", "token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.partitionBy("lang").orderBy(F.col("cnt").desc(), F.col("token"))
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 10)
        .select("lang", "token", "cnt", "rn")
    )


@query(
    "q_text_lang_profile",
    oracle="""
    SELECT lang, source,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(CAST(SUM(len(string_split(text, ' '))) AS DOUBLE)
                / COUNT(*) AS DOUBLE) AS avg_tokens
    FROM documents
    GROUP BY lang, source
    """,
)
def q_text_lang_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per (lang, source) profile: doc count, char volume, exact-ratio
    average token count."""
    d = load(spark, sf_dir, "documents")
    return d.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        exact_div(
            F.sum(F.size(F.split("text", " "))), F.count(F.lit(1))
        ).alias("avg_tokens"),
    )


@query(
    "q_text_langid",
    oracle="""
    WITH hits AS (
        SELECT doc_id, lang AS true_lang,
           len(list_filter(string_split(lower(text),' '),
               x -> x IN ('der','die','und','das','ist'))) AS h_de,
           len(list_filter(string_split(lower(text),' '),
               x -> x IN ('the','and','of','to','a'))) AS h_en,
           len(list_filter(string_split(lower(text),' '),
               x -> x IN ('el','la','que','de','los'))) AS h_es,
           len(list_filter(string_split(lower(text),' '),
               x -> x IN ('le','la','et','les','des'))) AS h_fr,
           len(list_filter(string_split(lower(text),' '),
               x -> x IN ('il','la','che','di','per'))) AS h_it
        FROM documents
    )
    SELECT doc_id, true_lang,
           CASE WHEN greatest(h_de,h_en,h_es,h_fr,h_it) = 0 THEN 'und'
                WHEN h_de >= h_en AND h_de >= h_es AND h_de >= h_fr AND h_de >= h_it THEN 'de'
                WHEN h_en >= h_es AND h_en >= h_fr AND h_en >= h_it THEN 'en'
                WHEN h_es >= h_fr AND h_es >= h_it THEN 'es'
                WHEN h_fr >= h_it THEN 'fr'
                ELSE 'it' END AS pred_lang
    FROM hits
    """,
)
def q_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID: argmax of marker-lexicon hits (ties ->
    lexicographically smallest code; zero hits -> 'und')."""
    d = load(spark, sf_dir, "documents")
    # round-6 form: one compiled zero-width regexp_count per language
    # (text_ops.lang_id_scores) instead of five interpreted HOF
    # filters over a hoisted token array — 217 s -> 17.9 s at sf100
    # (the interpreted cost hides inside job overhead at <= sf10);
    # count equivalence to the token-membership form is
    # property-tested (empty tokens are never markers)
    toked = d.select(
        "doc_id",
        F.col("lang").alias("true_lang"),
        F.col("text").alias("__txt"),
    )
    return toked.select(
        "doc_id",
        "true_lang",
        text_ops.lang_id_scores(F.col("__txt")).alias("pred_lang"),
    )


@query(
    "q_text_quality",
    oracle="""
    WITH f AS (
        SELECT doc_id,
               len(text) AS n_chars_m,
               len(string_split(text, ' ')) AS n_tokens,
               len(text) - len(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS n_punct,
               len(list_filter(string_split(lower(text), ' '),
                   x -> x IN ('the','and','of','to','a'))) AS en_hits
        FROM documents
    )
    SELECT doc_id, n_chars_m, n_tokens, n_punct,
           round(CAST(n_punct AS DOUBLE) / greatest(n_chars_m, 1), 6) AS punct_ratio,
           round(CAST(en_hits AS DOUBLE) / greatest(n_tokens, 1), 6) AS stop_ratio,
           round(CAST(n_chars_m AS DOUBLE) / greatest(n_tokens, 1), 6) AS mean_tok_len,
           round(CASE WHEN n_tokens >= 10 THEN 0.4 ELSE 0.0 END
               + CASE WHEN CAST(n_chars_m AS DOUBLE)/greatest(n_tokens,1) >= 3
                       AND CAST(n_chars_m AS DOUBLE)/greatest(n_tokens,1) <= 12
                      THEN 0.3 ELSE 0.0 END
               + CASE WHEN CAST(n_punct AS DOUBLE)/greatest(n_chars_m,1) <= 0.1
                      THEN 0.3 ELSE 0.0 END, 1) AS quality_score
    FROM f
    """,
)
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality features (length / punct ratio / stopword ratio) + a
    banded [0,1] score. Lowercase-insensitive stopword hits; all
    ratios are exact-int IEEE divisions."""
    d = load(spark, sf_dir, "documents")
    # marker_hits lowercases inside; quality_features uses en markers
    return text_ops.quality_features(d)


@query(
    "q_text_tokens",
    oracle="""
    SELECT doc_id,
           len(string_split(text, ' ')) AS ws_tokens,
           len(string_split(trim(regexp_replace(
               regexp_replace(text, '([^\\w\\s])', ' \\1 ', 'g'),
               '\\s+', ' ', 'g')), ' ')) AS bpe_ish_tokens
    FROM documents
    """,
)
def q_text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace + BPE-ish (punctuation-splitting
    regex proxy)."""
    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        text_ops.token_count_ws(F.col("text")).alias("ws_tokens"),
        text_ops.token_count_bpe_ish(F.col("text")).alias("bpe_ish_tokens"),
    )


@query(
    "q_text_fingerprint",
    oracle="""
    SELECT doc_id,
           list_reduce(
               list_prepend(CAST(0 AS BIGINT),
                   list_transform(string_split(text, ''),
                                  c -> CAST(ascii(c) AS BIGINT))),
               (acc, ch) -> (acc * 31 + ch) % 2147483647) AS fp
    FROM documents
    """,
)
def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polynomial rolling-hash fingerprint (base 31, mod 2^31-1),
    folded left-to-right — identical in both engines."""
    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id", text_ops.fingerprint(F.col("text")).alias("fp")
    )


@query(
    "q_multimodal_meta",
    oracle="""
    WITH blobs AS (
      SELECT range AS blob_id,
             ['image/png','audio/wav','application/pdf','text/plain']
               [CAST(range % 4 AS INT) + 1] AS mime_type,
             unhex(substring(repeat(sha256('blob-' || CAST(range AS VARCHAR)), 130),
                   1, CAST((64 + (range * 131) % 4033) * 2 AS INT))) AS content
      FROM range(0, 200)
    ), ranked AS (
      SELECT mime_type, content,
             ROW_NUMBER() OVER (PARTITION BY mime_type
                                ORDER BY octet_length(content), blob_id) AS rn
      FROM blobs
    )
    SELECT mime_type, COUNT(*) AS n_blobs,
           CAST(SUM(octet_length(content)) AS BIGINT) AS total_bytes,
           MAX(CASE WHEN rn = 1
                    THEN lower(substring(hex(content), 1, 64)) END) AS smallest_hex
    FROM ranked
    GROUP BY mime_type
    """,
)
def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal metadata rollup over a deterministic binary-blob
    fixture (FIXTURES.md §3 shape, synthesized in-plan — the driver
    never materialized blobs.parquet): per mime_type count, total
    payload bytes, and a 64-hex-char prefix of the smallest blob (ties
    by blob_id). Exercises BinaryType + length/hex over binary; the
    blob bytes themselves are oracle-checked because the generator is
    pure SQL DuckDB reproduces exactly (sha2 of the blob would be the
    natural checksum, but DuckDB's sha256 only takes VARCHAR)."""
    from fhir2sql_spark.operators.multimodal import synth_blobs

    blobs = synth_blobs(spark, n=200)
    w = Window.partitionBy("mime_type").orderBy(
        F.length("content").asc(), F.col("blob_id").asc()
    )
    ranked = blobs.withColumn("rn", F.row_number().over(w))
    return ranked.groupBy("mime_type").agg(
        F.count(F.lit(1)).alias("n_blobs"),
        F.sum(F.length("content")).alias("total_bytes"),
        F.max(
            F.when(F.col("rn") == 1, F.lower(F.substring(F.hex("content"), 1, 64)))
        ).alias("smallest_hex"),
    )


@query(
    "q_dedup_containment",
    oracle="""
    WITH s AS (SELECT doc_id, lang, string_split(text, ' ') AS toks
               FROM documents),
    pos AS (
        SELECT doc_id, lang, toks,
               unnest(generate_series(1, len(toks) - 4)) AS i
        FROM s
    ),
    sh AS (
        SELECT DISTINCT doc_id, lang,
               toks[CAST(i AS INT)] || ' ' || toks[CAST(i+1 AS INT)]
                 || ' ' || toks[CAST(i+2 AS INT)]
                 || ' ' || toks[CAST(i+3 AS INT)]
                 || ' ' || toks[CAST(i+4 AS INT)] AS shingle
        FROM pos
    ),
    sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS common
        FROM sh a JOIN sh b
          ON a.lang = b.lang AND a.shingle = b.shingle
             AND a.doc_id <> b.doc_id
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, CAST(common AS BIGINT) AS common,
           CAST(sa.n AS BIGINT) AS size_a,
           CAST(common AS DOUBLE) / CAST(sa.n AS DOUBLE) AS containment
    FROM pairs p JOIN sz sa ON p.doc_a = sa.doc_id
    WHERE common * 5 >= sa.n * 4
    """,
)
def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact DIRECTED set-containment join at t = 0.8 over word-5-gram
    shingles within lang — doc-inside-doc detection (quotes, mirrored
    sections, near-supersets), where Jaccard is diluted by the larger
    side. Asymmetric prefix filter (operators/dedup.py
    containment_pairs): probe-side rarity prefixes of the SAME length
    as the Jaccard filter join the index side's FULL postings (B
    cannot be prefix-pruned — inherent to containment), then exact
    verification on shingle strings. The oracle replays the naive
    inverted-index formulation; output equality is the completeness
    theorem, as for q_dedup_setsim."""
    return dedup.containment_pairs(
        load(spark, sf_dir, "documents"),
        threshold_num=4,
        threshold_den=5,
        n=5,
    )


@query(
    "q_embed_matryoshka",
    oracle="""
    WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv
               FROM embeddings WHERE vec_id < 10),
    c AS (SELECT vec_id AS c_id, CAST(embedding AS DOUBLE[]) AS cv
          FROM embeddings),
    scored AS (
        SELECT q_id, c_id,
               list_dot_product(qv[1:16], cv[1:16])
                 / (sqrt(list_dot_product(qv[1:16], qv[1:16]))
                    * sqrt(list_dot_product(cv[1:16], cv[1:16])))
                   AS cos_lo,
               list_dot_product(qv, cv)
                 / (sqrt(list_dot_product(qv, qv))
                    * sqrt(list_dot_product(cv, cv))) AS cos_full
        FROM q, c WHERE q_id <> c_id
    ),
    ranked AS (
        SELECT q_id, c_id, cos_lo, cos_full,
               ROW_NUMBER() OVER (PARTITION BY q_id
                                  ORDER BY cos_lo DESC, c_id) AS rn_lo
        FROM scored
    )
    SELECT q_id, c_id, round(cos_lo, 4) AS cos_lo, rn_lo,
           round(cos_full, 4) AS cos_full
    FROM ranked WHERE rn_lo <= 5
    """,
)
def q_embed_matryoshka(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style truncated-dimension retrieval (Kusupati et
    al. 2022): rank candidates by cosine over the FIRST 16 of 64
    dimensions (the cheap coarse pass an MRL-trained embedding
    serves from a quarter of the memory/bandwidth), carrying the
    full-dimension cosine alongside for the re-rank stage. The
    truncated pass reads 4x fewer vector bytes per candidate — at
    100 TB that is the difference between an in-RAM and an on-disk
    index; the full-dim re-rank then touches only the k survivors
    (composition identical to q_embed_ivf's coarse->exact shape).
    Both cosines ride ONE broadcast crossJoin pass (no second scan);
    sequential-fold dot products match DuckDB's list_dot_product
    bit-for-bit, ranks tie-break on candidate id."""
    emb = load(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qv")
    )
    c = emb.select(
        F.col("vec_id").alias("c_id"), F.col("embedding").alias("cv")
    )
    qlo, clo = F.slice("qv", 1, 16), F.slice("cv", 1, 16)
    dot = similarity._dot
    pairs = (
        F.broadcast(q)
        .crossJoin(c)
        .where(F.col("q_id") != F.col("c_id"))
        .select(
            "q_id",
            "c_id",
            (
                dot(qlo, clo)
                / (F.sqrt(dot(qlo, qlo)) * F.sqrt(dot(clo, clo)))
            ).alias("cos_lo"),
            (
                dot("qv", "cv")
                / (F.sqrt(dot("qv", "qv")) * F.sqrt(dot("cv", "cv")))
            ).alias("cos_full"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos_lo"), "c_id")
    return (
        pairs.withColumn("rn_lo", F.row_number().over(w))
        .where(F.col("rn_lo") <= 5)
        .select(
            "q_id",
            "c_id",
            F.round("cos_lo", 4).alias("cos_lo"),
            "rn_lo",
            F.round("cos_full", 4).alias("cos_full"),
        )
    )


@query(
    "q_dedup_minhash_inc",
    oracle="""
    WITH s AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    pos AS (
        SELECT doc_id, toks,
               unnest(generate_series(1, len(toks) - 2)) AS i
        FROM s
    ),
    sh AS MATERIALIZED (
        SELECT DISTINCT doc_id,
               toks[CAST(i AS INT)] || ' ' || toks[CAST(i+1 AS INT)]
                 || ' ' || toks[CAST(i+2 AS INT)] AS shingle
        FROM pos
    ),
    sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    sids AS (
        SELECT doc_id,
               CAST(concat('0x', substr(md5(shingle), 1, 15)) AS BIGINT)
                 % 2147483647 AS sid
        FROM sh
    ),
    sigs AS (
        SELECT doc_id, p, MIN((sid * a + b) % 2147483647) AS h
        FROM sids CROSS JOIN """
    + _portable_perm_sql()
    + """ GROUP BY 1, 2
    ),
    bands AS MATERIALIZED (
        SELECT doc_id, p // 4 AS band,
               string_agg(CAST(h AS VARCHAR), ',' ORDER BY p) AS bkey
        FROM sigs GROUP BY 1, 2
    ),
    bands_r AS (
        SELECT doc_id, band, bkey,
               ROW_NUMBER() OVER (PARTITION BY band, bkey, doc_id % 3 = 0
                                  ORDER BY doc_id) AS pr
        FROM bands
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands_r b
          ON a.band = b.band AND a.bkey = b.bkey
        WHERE a.doc_id % 3 = 0
          AND b.pr <= 64
          AND (b.doc_id % 3 <> 0
               OR (b.doc_id % 3 = 0 AND b.doc_id < a.doc_id))
    ),
    com AS (
        SELECT c.doc_a, c.doc_b, COUNT(*) AS common
        FROM cand c
        JOIN sh a ON a.doc_id = c.doc_a
        JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
        GROUP BY 1, 2
    ),
    ver AS (
        SELECT m.doc_a, m.doc_b
        FROM com m
        JOIN sz sa ON m.doc_a = sa.doc_id
        JOIN sz sb ON m.doc_b = sb.doc_id
        WHERE m.common * 5 >= (sa.n + sb.n - m.common) * 4
    )
    SELECT d.doc_id,
           CASE WHEN dc.doc_a IS NOT NULL THEN 'dup_corpus'
                WHEN db.doc_a IS NOT NULL THEN 'dup_batch'
                ELSE 'new' END AS status
    FROM (SELECT doc_id FROM documents WHERE doc_id % 3 = 0) d
    LEFT JOIN (SELECT DISTINCT doc_a FROM ver WHERE doc_b % 3 <> 0) dc
           ON dc.doc_a = d.doc_id
    LEFT JOIN (SELECT DISTINCT doc_a FROM ver WHERE doc_b % 3 = 0) db
           ON db.doc_a = d.doc_id
    """,
)
def q_dedup_minhash_inc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental MinHash-LSH near-dedup against a FROZEN band index
    — the last member of the per-ingest dedup family (exact:
    q_dedup_incremental, semantic: q_dedup_semantic_inc, fingerprint:
    q_dedup_winnow_inc; VERDICT r7 noted the pairwise-LSH gap). The
    stored corpus index holds each document's 8 LSH band keys (32
    affine permutations over md5-hex-parsed 31-bit shingle ids, 8x4
    banding — the q_dedup_minhash_portable construction, so the WHOLE
    pipeline including band collisions replays exactly in SQL) plus
    its shingle sets for verification.
    Per ingest, the NEW batch (doc_id % 3 = 0) computes signatures,
    probes the band index with a hash equi-join, exact-Jaccard-verifies
    only the collided pairs (>= 4/5), and classifies every batch doc:
    'dup_corpus' (verified match in the index), 'dup_batch' (verified
    match to a SMALLER-id batch doc — the min-id keeper rule), or
    'new' (admit + append bands to the index).

    Scale shape: per-ingest cost is O(batch signatures + collisions) —
    the corpus is touched only through the (band, bkey) equi-join and
    the verification semi-join, both probe-sized; stored bucketed by
    (band, bkey) the index read is exchange-free (the
    q_dedup_incremental posture, tests/test_bucketed_join.py). Band
    keys concatenate 4 permutation values whose base is an md5 hex
    parse: uniform, unskewable shuffle keys — but hash uniformity
    only defends against HASH skew; TRUE
    duplication (a boilerplate mega-cluster) still piles n docs into
    one bucket, so both posting sides are stop-bucket-capped at
    _INC_BUCKET_CAP min-ids per (band, bkey) before the probe (the
    winnow max_df lesson, VERDICT r8 #2; the cap is replayed in the
    SQL oracle's bands_r CTE and the planted mega-cluster test is
    tests/test_round9_ops.py). Recall contract under the cap:
    statuses are preserved for true-duplicate mega-clusters; residual
    recall loss is possible in collision-polluted buckets (see the
    _INC_BUCKET_CAP note). The scale variant swaps md5 for
    xxhash64 exactly as q_dedup_minhash does vs its portable twin;
    recall equivalence is pinned in tests/test_llm_ops.py."""
    docs = load(spark, sf_dir, "documents")
    banded = _portable_band_postings(docs)
    nb = banded.where(F.col("doc_id") % 3 == 0)  # new-batch probe side
    # frozen band index, stop-bucket-capped (VERDICT r8 #2): at most
    # _INC_BUCKET_CAP postings per (band, bkey) per side survive —
    # the index stores min-id postings, the batch probe side is
    # capped the same way before it plays doc_b
    idx = _cap_bucket_postings(
        banded.where(F.col("doc_id") % 3 != 0), "band", "bkey"
    )
    cand_corpus, cand_batch = _minhash_inc_candidates(nb, idx)
    return _classify_new_batch(docs, cand_corpus, cand_batch)


def _portable_band_postings(docs: DataFrame) -> DataFrame:
    """(doc_id, band, bkey) LSH band postings under the PORTABLE
    construction (md5 hex-parse sid + the shared affine family, 8x4
    banding) — the exact band index q_dedup_minhash_inc stores;
    factored for the stored-index probe path (VERDICT r9 #2)."""
    from fhir2sql_spark.operators.dedup import _minhash_params

    sh = dedup.shingles(docs, n=3, distinct=True).withColumn(
        "__sid", _portable_sid()
    )
    mins = [
        F.min((F.col("__sid") * F.lit(a) + F.lit(b)) % F.lit(_P31)).alias(
            f"h{i}"
        )
        for i, (a, b) in enumerate(_minhash_params(32, 42))
    ]
    sig = sh.groupBy("doc_id").agg(*mins)
    return sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.concat_ws(
                            ",",
                            *[
                                F.col(f"h{i}").cast("string")
                                for i in range(b * 4, b * 4 + 4)
                            ],
                        ).alias("bkey"),
                    )
                    for b in range(8)
                ]
            )
        ).alias("s"),
    ).select("doc_id", "s.band", "s.bkey")


def _minhash_inc_candidates(
    nb: DataFrame, idx: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """Band-collision candidates of the incremental MinHash dedup:
    the UNCAPPED batch side probes the (already capped) stored index
    plus its own capped postings. Factored for the stored-index probe
    path (VERDICT r9 #2)."""
    nb_post = _cap_bucket_postings(nb, "band", "bkey")
    a = nb.select("band", "bkey", F.col("doc_id").alias("doc_a"))
    cand_corpus = (
        a.join(
            idx.select(
                F.col("band").alias("band_b"),
                F.col("bkey").alias("bkey_b"),
                F.col("doc_id").alias("doc_b"),
            ),
            (F.col("band") == F.col("band_b"))
            & (F.col("bkey") == F.col("bkey_b")),
        )
        .select("doc_a", "doc_b")
        .distinct()
    )
    cand_batch = (
        a.join(
            nb_post.select(
                F.col("band").alias("band_b"),
                F.col("bkey").alias("bkey_b"),
                F.col("doc_id").alias("doc_b"),
            ),
            (F.col("band") == F.col("band_b"))
            & (F.col("bkey") == F.col("bkey_b"))
            & (F.col("doc_b") < F.col("doc_a")),
        )
        .select("doc_a", "doc_b")
        .distinct()
    )
    return cand_corpus, cand_batch


#: Per-(band-bucket, side) posting cap for the incremental LSH probes
#: (VERDICT r8 #2 — the winnow max_df lesson applied to band buckets).
#: A boilerplate mega-cluster puts n docs into ONE (band, bkey)
#: bucket; uncapped, a probe against it fans out n_batch x n_index
#: candidate rows before the distinct. Keeping only the BUCKET_CAP
#: smallest doc_ids per bucket per side bounds candidate fan-out at
#: O(batch x bands x cap) regardless of true duplication. Statuses
#: are preserved for TRUE-duplicate mega-clusters (every kept posting
#: is a mutual near-dup of the dropped ones — planted-cluster test in
#: tests/test_round9_ops.py); in a COLLISION-polluted bucket (band
#: agreement without true similarity padding the 64 slots) a batch
#: doc whose sole true near-dup ranks past the cap flips to 'new' —
#: residual recall loss, the same caveat class as LSH banding itself
#: (ADVICE r9). Oracle parity is unaffected: the cap is replayed
#: exactly in the md5 twin's SQL oracle via ROW_NUMBER() OVER
#: (PARTITION BY band, bkey, side).
_INC_BUCKET_CAP = 64


def _cap_bucket_postings(banded: DataFrame, *keys: str) -> DataFrame:
    """Keep the _INC_BUCKET_CAP smallest doc_ids per bucket.

    ``keys`` are the bucket columns ((band, bkey) for the md5 form,
    (bkey,) for the xxhash64 form); callers apply it per SIDE (index /
    batch) so the rank is deterministic and SQL-replayable. The window
    shuffles on the same key the probe join uses, so at scale it rides
    the exchange the join needs anyway."""
    w = Window.partitionBy(*keys).orderBy("doc_id")
    return (
        banded.withColumn("__pr", F.row_number().over(w))
        .where(F.col("__pr") <= _INC_BUCKET_CAP)
        .drop("__pr")
    )


def _classify_new_batch(
    docs: DataFrame,
    cand_corpus: DataFrame,
    cand_batch: DataFrame,
    threshold_num: int = 4,
    threshold_den: int = 5,
    n: int = 3,
    containment: bool = False,
) -> DataFrame:
    """Shared tail of the incremental pairwise dedups (MinHash r8,
    set-similarity r9 — each passes its own Jaccard threshold and
    shingle width): exact-Jaccard
    verify the (doc_a = batch, doc_b) candidates, then classify every
    batch doc in ONE flags rollup — referencing the verified list
    twice would re-execute the whole verify pipeline (2 corpus shingle
    passes) per reference.

    The flags join is a PLAIN doc_id equi-join on purpose (VERDICT r8
    #1): flags holds one row per batch doc with a verified collision —
    O(batch x dup-rate), not O(constant) — so a forced broadcast would
    grow with the ingest straight into the 8 GB broadcast ceiling on a
    dup-heavy crawl. AQE still elects a broadcast when flags is
    genuinely small (the fixture case); with elective broadcasts
    disabled it degrades to a probe-sized shuffle, never a
    driver-sized build map (pinned in tests/test_round9_ops.py) —
    the same discipline q_dedup_incremental's classification uses."""
    ver = dedup.verify_candidate_pairs(
        docs,
        cand_corpus.unionByName(cand_batch),
        threshold_num,
        threshold_den,
        n=n,
        containment=containment,
    )
    flags = ver.groupBy(F.col("doc_a").alias("doc_id")).agg(
        F.max((F.col("doc_b") % 3 != 0).cast("int")).alias("hit_corpus"),
        F.max((F.col("doc_b") % 3 == 0).cast("int")).alias("hit_batch"),
    )
    return (
        docs.where(F.col("doc_id") % 3 == 0)
        .select("doc_id")
        .join(flags, "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("hit_corpus") == 1, F.lit("dup_corpus"))
            .when(F.col("hit_batch") == 1, F.lit("dup_batch"))
            .otherwise(F.lit("new"))
            .alias("status"),
        )
    )


@query("q_dedup_minhash_inc_fast")  # engine-specific hash: rows-only
def q_dedup_minhash_inc_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The xxhash64 SCALE PATH of q_dedup_minhash_inc — the same
    relationship q_dedup_minhash bears to q_dedup_minhash_portable:
    identical pipeline (32 permutations, 8x4 banding, frozen band
    index probe, exact-Jaccard verify, dup_corpus / dup_batch / new
    with the min-id keeper), but signatures come from the JVM-side
    (a*xxhash64+b) mod P family and each band folds to ONE 8-byte
    xxhash64 key instead of a 128-char md5 concatenation — ~3x
    cheaper to compute and 16x lighter to shuffle/store in the index
    (round-8 decade rows in SCALE.md). xxhash64 is engine-specific,
    so this is a declared rows-only query; its ALGORITHM is
    exact-gated through the md5 twin, and status equality on the
    fixture is pinned in tests/test_round8_ops.py. Unlike
    lsh_candidate_pairs' per-lang banding, the band key here is
    language-agnostic to match the twin's contract."""
    docs = load(spark, sf_dir, "documents")
    sig = dedup.minhash_signatures(docs, num_hashes=32, seed=42)
    banded = sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.xxhash64(
                        F.lit(b),
                        *[
                            F.col("signature").getItem(i)
                            for i in range(b * 4, (b + 1) * 4)
                        ],
                    )
                    for b in range(8)
                ]
            )
        ).alias("bkey"),
    )
    nb = banded.where(F.col("doc_id") % 3 == 0)
    # same stop-bucket cap as the md5 twin — the folded xxhash64 key
    # IS the bucket here, so the cap partitions on (bkey,) alone
    idx = _cap_bucket_postings(
        banded.where(F.col("doc_id") % 3 != 0), "bkey"
    )
    nb_post = _cap_bucket_postings(nb, "bkey")
    a = nb.select("bkey", F.col("doc_id").alias("doc_a"))
    cand_corpus = (
        a.join(
            idx.select(
                F.col("bkey").alias("bkey_b"),
                F.col("doc_id").alias("doc_b"),
            ),
            F.col("bkey") == F.col("bkey_b"),
        )
        .select("doc_a", "doc_b")
        .distinct()
    )
    cand_batch = (
        a.join(
            nb_post.select(
                F.col("bkey").alias("bkey_b"),
                F.col("doc_id").alias("doc_b"),
            ),
            (F.col("bkey") == F.col("bkey_b"))
            & (F.col("doc_b") < F.col("doc_a")),
        )
        .select("doc_a", "doc_b")
        .distinct()
    )
    return _classify_new_batch(docs, cand_corpus, cand_batch)
