"""Data-selection & hybrid-retrieval queries (round 6, SURVEY.md
§2.4 growth): DSIR importance weighting, winnowing fingerprints (per-
doc digests + MOSS candidate pairs), reciprocal-rank-fusion hybrid
search, temperature-scaled domain mixing, and the language-ID
confusion-matrix eval — the data-selection shapes a training-data
pipeline runs between dedup and packing, plus the classifier eval it
runs before trusting a filter.

The reference (samply/fhir2sql, a Rust sync daemon) has no selection
surface; these extend the LLM-curation inventory (queries/llm.py,
retrieval.py, curation.py) with published-method implementations:

- DSIR (Xie et al. 2023): hashed-n-gram importance resampling — the
  standard "make the crawl look like Wikipedia" selection step;
- winnowing (Schleimer/Wilkerson/Aiken SIGMOD'03, the MOSS
  fingerprinter): guaranteed-overlap local fingerprint selection;
- RRF (Cormack/Clarke/Buettcher SIGIR'09): the rank-fusion step of
  every hybrid (BM25 + dense) retrieval stack, here fusing exact
  phrase-hit ranks with embedding-cosine ranks;
- temperature-scaled mixture weights (the multilingual-sampling rule
  of mBERT/XLM-R: p_l^tau renormalized) over the corpus' lang field.

Engine-portability: feature hashes are the 60-bit md5 prefix both
engines compute identically; ranks come from integer aggregates
(distributed_rank — no single-task window anywhere); transcendental
sums follow the q_bm25 convention (integer aggregates first, float
math on scalars, ROUND at the end).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fhir2sql_spark.operators.packing import distributed_rank
from fhir2sql_spark.operators.similarity import _dot
from fhir2sql_spark.operators.text import (
    dsir_logweights,
    phrase_hits,
    winnow_fingerprints,
    winnow_pairs,
)
from fhir2sql_spark.queries.retrieval import _md5_60
from fhir2sql_spark.registry import query
from fhir2sql_spark.sources.arrow_rows import arrow_frame
from fhir2sql_spark.tables import load


@query(
    "q_sample_dsir",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, lang = 'en' AS is_tgt,
               string_split(text, ' ') AS toks
        FROM documents WHERE len(string_split(text, ' ')) >= 2
    ),
    u AS (
        SELECT doc_id, is_tgt, unnest(toks) AS tok,
               generate_subscripts(toks, 1) AS pos
        FROM t
    ),
    grams AS (
        SELECT a.doc_id, a.is_tgt,
               {_md5_60("a.tok || ' ' || b.tok")} % 256 AS b
        FROM u a JOIN u b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
    ),
    doc_b AS (
        SELECT doc_id, is_tgt, b, COUNT(*) AS n_db
        FROM grams GROUP BY 1, 2, 3
    ),
    raw AS (SELECT b, SUM(n_db) AS n_r FROM doc_b GROUP BY b),
    tgt AS (SELECT b, SUM(n_db) AS n_t FROM doc_b WHERE is_tgt GROUP BY b),
    tot AS (SELECT (SELECT SUM(n_r) FROM raw) AS big_n_r,
                   (SELECT SUM(n_t) FROM tgt) AS big_n_t),
    ratio AS (
        SELECT raw.b,
               ln(CAST(COALESCE(tgt.n_t, 0) + 1 AS DOUBLE)
                  / CAST(big_n_t + 256 AS DOUBLE))
             - ln(CAST(raw.n_r + 1 AS DOUBLE)
                  / CAST(big_n_r + 256 AS DOUBLE)) AS lr
        FROM raw LEFT JOIN tgt ON raw.b = tgt.b CROSS JOIN tot
    ),
    s AS (
        SELECT d.doc_id,
               ROUND(SUM(CAST(d.n_db AS DOUBLE) * r.lr), 4) AS dsir_logw
        FROM doc_b d JOIN ratio r ON d.b = r.b GROUP BY d.doc_id
    )
    SELECT doc_id, dsir_logw, dsir_logw > 0 AS selected FROM s
    """,
)
def q_sample_dsir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): score every document
    by the log-likelihood ratio of a TARGET hashed-bigram distribution
    (here lang='en' — the slice to look like) against the RAW corpus
    distribution; positive weights survive the resampling step.

    Spark shape (operators/text.py dsir_logweights): one bigram
    explode feeds a (doc, bucket) integer combine (checkpointed — its
    three consumers would otherwise re-run the explode, the setsim
    lesson); the two global distributions are 256-row aggregates
    broadcast back, so the only corpus-sized exchange is the per-doc
    combine. Laplace smoothing keeps unseen buckets finite; the
    per-doc transcendental sum is rounded 4 dp on both sides (q_bm25
    convention) and the selected flag compares the ROUNDED value so it
    cannot flip on last-ulp accumulation order."""
    docs = load(spark, sf_dir, "documents")
    return dsir_logweights(docs, F.col("lang") == "en", buckets=256)


@query(
    "q_text_winnowing",
    oracle=f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
               FROM documents),
    g AS (SELECT doc_id, toks, len(toks) - 2 AS m FROM t
          WHERE len(toks) >= 6),
    pos AS (
        SELECT doc_id, toks, m,
               unnest(generate_series(1, m)) AS i
        FROM g
    ),
    grams AS (
        SELECT doc_id, i AS pos, m,
               {_md5_60(
                   "toks[CAST(i AS INT)] || ' ' || "
                   "toks[CAST(i+1 AS INT)] || ' ' || "
                   "toks[CAST(i+2 AS INT)]"
               )} AS h
        FROM pos
    ),
    wmin AS (
        SELECT doc_id, pos, m,
               MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING)
                   AS fp
        FROM grams
    ),
    dfp AS (SELECT DISTINCT doc_id, fp FROM wmin WHERE pos <= m - 3)
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_fp, MIN(fp) AS fp_min,
           MAX(fp) AS fp_max, CAST(SUM(fp % 1000003) AS BIGINT) AS fp_modsum
    FROM dfp GROUP BY doc_id
    """,
)
def q_text_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (Schleimer et al. SIGMOD'03 / MOSS):
    word-3-gram hashes, window w=4, keep each window's minimum hash,
    distinct per doc — any shared run of >= 6 tokens between two docs
    is GUARANTEED to share a selected fingerprint, at ~1/4 the storage
    of the full hash stream. Output is an integer digest per doc
    (count / min / max / mod-sum of the selected set) so the oracle
    hashes exact 60-bit values with no rounding anywhere.

    Spark shape (operators/text.py winnow_fingerprints): zip-sliced
    k-grams posexplode (codegen), ONE doc_id-partitioned window for
    the sliding min, distinct, aggregate — a single exchange end to
    end. See q_text_fingerprint for the keep-everything rolling-hash
    variant this subsamples."""
    docs = load(spark, sf_dir, "documents")
    return winnow_fingerprints(docs, k=3, w=4)


_RRF_PHRASE = "row scan"
_RRF_K = 60


@query(
    "q_rerank_rrf",
    oracle=f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
               FROM documents),
    u AS (SELECT doc_id, unnest(toks) AS tok,
                 generate_subscripts(toks, 1) AS pos FROM t),
    hits AS (
        SELECT a.doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits
        FROM u a JOIN u b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
        WHERE a.tok = 'row' AND b.tok = 'scan'
        GROUP BY a.doc_id
    ),
    rt AS (SELECT doc_id,
                  ROW_NUMBER() OVER (ORDER BY n_hits DESC, doc_id)
                      AS r_text
           FROM hits),
    q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings
          WHERE vec_id = 0),
    c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv
          FROM embeddings WHERE vec_id <> 0),
    ce AS (
        SELECT vec_id AS doc_id,
               list_dot_product(qv, cv)
                 / (sqrt(list_dot_product(qv, qv))
                    * sqrt(list_dot_product(cv, cv))) AS cos
        FROM c, q
    ),
    re AS (
        SELECT doc_id,
               ROW_NUMBER() OVER (ORDER BY cos DESC, doc_id) AS r_emb
        FROM ce QUALIFY r_emb <= 50
    ),
    f AS (
        SELECT COALESCE(rt.doc_id, re.doc_id) AS doc_id,
               rt.r_text, re.r_emb,
               COALESCE(1.0 / ({_RRF_K} + rt.r_text), 0)
             + COALESCE(1.0 / ({_RRF_K} + re.r_emb), 0) AS s
        FROM rt FULL OUTER JOIN re ON rt.doc_id = re.doc_id
    )
    SELECT doc_id, ROUND(s, 6) AS rrf, r_text, r_emb
    FROM f ORDER BY s DESC, doc_id LIMIT 20
    """,
)
def q_rerank_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al. SIGIR'09) of a sparse
    and a dense retriever — the standard hybrid-search combiner:
    rrf(d) = sum over lists of 1/(60 + rank_d). The text list ranks
    docs by exact phrase hits ('row scan', phrase_hits — no explode);
    the dense list ranks embeddings by cosine to probe vector 0
    (sequential-fold dot product, bit-identical to the oracle's
    list_dot_product); top 20 fused.

    Both rankings use distributed_rank (range-repartition + per-
    partition windows + broadcast offsets) — NO single-task global
    window anywhere, unlike the textbook ROW_NUMBER() OVER (ORDER BY)
    the oracle replays. The fusion join is a full outer on two small
    rank lists; the final top-20 is a TakeOrdered over the fused
    scores (integer-rank arithmetic -> bit-identical across engines,
    so ordering can't drift)."""
    docs = load(spark, sf_dir, "documents")
    emb = load(spark, sf_dir, "embeddings")
    # Both rank inputs are localCheckpointed: distributed_rank reads
    # its input through a range-partitioning SAMPLE pass, a count
    # aggregate, and the partitioned window — three consumers, so an
    # unmaterialized input re-runs its scoring expression (the HOF
    # phrase scan / the 64-dim cosine fold) once per consumer.
    # Measured at sf1: 17.7 s -> the checkpointed form below; both
    # tables are narrow ((id, score) pairs, a fraction of the corpus).
    hits = (
        docs.select(
            "doc_id", phrase_hits(F.col("text"), _RRF_PHRASE).alias("n_hits")
        )
        .where(F.col("n_hits") > 0)
        .localCheckpoint(eager=True)
    )
    rt = distributed_rank(
        hits, [F.desc("n_hits"), F.asc("doc_id")], out_col="__r0"
    ).select("doc_id", (F.col("__r0") + 1).cast("long").alias("r_text"))
    probe = emb.where(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qv")
    )
    cand = emb.where(F.col("vec_id") != 0).select(
        F.col("vec_id").alias("doc_id"), F.col("embedding").alias("cv")
    )
    scored = (
        cand.crossJoin(F.broadcast(probe))
        .select(
            "doc_id",
            (
                _dot("qv", "cv")
                / (F.sqrt(_dot("qv", "qv")) * F.sqrt(_dot("cv", "cv")))
            ).alias("cos"),
        )
        .localCheckpoint(eager=True)
    )
    re = (
        distributed_rank(
            scored, [F.desc("cos"), F.asc("doc_id")], out_col="__r0"
        )
        .select("doc_id", (F.col("__r0") + 1).cast("long").alias("r_emb"))
        .where(F.col("r_emb") <= 50)
    )
    fused = rt.join(re, "doc_id", "full_outer").select(
        "doc_id",
        "r_text",
        "r_emb",
        (
            F.coalesce(1.0 / (F.lit(_RRF_K) + F.col("r_text")), F.lit(0.0))
            + F.coalesce(1.0 / (F.lit(_RRF_K) + F.col("r_emb")), F.lit(0.0))
        ).alias("__s"),
    )
    return (
        fused.orderBy(F.desc("__s"), "doc_id")
        .limit(20)
        .select(
            "doc_id", F.round("__s", 6).alias("rrf"), "r_text", "r_emb"
        )
    )


@query(
    "q_sample_temperature",
    oracle="""
    WITH dl AS (
        SELECT lang,
               len(list_filter(string_split(text, ' '),
                               x -> x <> '')) AS n_toks
        FROM documents
    ),
    la AS (SELECT lang, CAST(SUM(n_toks) AS BIGINT) AS n_tokens
           FROM dl GROUP BY lang),
    tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS big_n FROM la),
    lp AS (SELECT lang, n_tokens,
                  CAST(n_tokens AS DOUBLE) / big_n AS p FROM la, tot),
    z AS (SELECT SUM(pow(p, 0.7)) AS zn FROM lp)
    SELECT lang, n_tokens, ROUND(p, 6) AS p_raw,
           ROUND(pow(p, 0.7) / zn, 6) AS p_temp
    FROM lp, z
    """,
)
def q_sample_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled mixture weights over the corpus' lang field
    (the multilingual sampling rule of mBERT/XLM-R: sample language l
    with probability p_l^tau / sum p^tau, tau=0.7 — upweights tail
    languages without flattening the head). Token mass per lang is an
    integer aggregate; p and the renormalization are float math over
    the 5-row lang table (q_bm25 convention: integers first, float on
    scalars, ROUND 6 dp).

    The lang table is localCheckpointed (5 rows): it feeds both the
    total and the normalizer, and without the barrier the corpus
    token-count aggregate would re-execute once per consumer."""
    docs = load(spark, sf_dir, "documents")
    from fhir2sql_spark.operators.text import nonempty_token_count

    n_toks = nonempty_token_count(F.col("text"))
    la = (
        docs.select("lang", n_toks.alias("__n"))
        .groupBy("lang")
        .agg(F.sum("__n").alias("n_tokens"))
        .localCheckpoint(eager=True)
    )
    tot = la.agg(F.sum("n_tokens").alias("__N"))
    lp = la.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n_tokens",
        (F.col("n_tokens").cast("double") / F.col("__N")).alias("__p"),
    )
    z = lp.agg(F.sum(F.pow("__p", 0.7)).alias("__z"))
    return lp.crossJoin(F.broadcast(z)).select(
        "lang",
        "n_tokens",
        F.round("__p", 6).alias("p_raw"),
        F.round(F.pow("__p", 0.7) / F.col("__z"), 6).alias("p_temp"),
    )


# Winnowing fingerprint extraction as oracle CTE text (k=3, w=4,
# md5-60 gram hashes) — shared by q_dedup_winnow_pairs and
# q_dedup_winnow_inc so both replay the IDENTICAL fingerprint stream.
_WINNOW_DFP_CTES = f"""
    t AS (SELECT doc_id, string_split(text, ' ') AS toks
               FROM documents),
    g AS (SELECT doc_id, toks, len(toks) - 2 AS m FROM t
          WHERE len(toks) >= 6),
    pos AS (
        SELECT doc_id, toks, m,
               unnest(generate_series(1, m)) AS i
        FROM g
    ),
    grams AS (
        SELECT doc_id, i AS pos, m,
               {_md5_60(
                   "toks[CAST(i AS INT)] || ' ' || "
                   "toks[CAST(i+1 AS INT)] || ' ' || "
                   "toks[CAST(i+2 AS INT)]"
               )} AS h
        FROM pos
    ),
    wmin AS (
        SELECT doc_id, pos, m,
               MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING)
                   AS fp
        FROM grams
    ),
    dfp AS MATERIALIZED (
        SELECT DISTINCT doc_id, fp FROM wmin WHERE pos <= m - 3
    )"""


@query(
    "q_dedup_winnow_pairs",
    oracle=f"""
    WITH {_WINNOW_DFP_CTES},
    -- max_df stop-fingerprint cap (MOSS practice): fingerprints in
    -- more than 64 distinct docs are dropped before pair generation
    keep AS (
        SELECT dfp.doc_id, dfp.fp
        FROM dfp JOIN (
            SELECT fp FROM dfp GROUP BY fp HAVING COUNT(*) <= 64
        ) c USING (fp)
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(COUNT(*) AS BIGINT) AS n_shared
    FROM keep a JOIN keep b ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY 1, 2 HAVING COUNT(*) >= 2
    """,
)
def q_dedup_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS-style near-dup candidates: doc pairs sharing >= 2
    winnowing fingerprints (operators/text.py winnow_pairs). The
    winnowing guarantee makes this CONTAINMENT detection — any shared
    run of >= 6 tokens shares a fingerprint — at ~1/4 the index size
    of q_dedup_near's full shingle postings; selected fingerprints are
    locally-minimal hashes (rare by construction), so posting lists
    stay short the way setsim's rarest-first prefixes do. Pure integer
    pipeline; the oracle replays hash, window min, df cap, and join
    verbatim. max_df=64 (VERDICT r7 #1): fingerprints in > 64 distinct
    docs are stop-fingerprints — one corpus-wide boilerplate sentence
    would otherwise put an n-doc posting set in ONE task and fan out
    C(n, 2) pairs; the cap bounds that at C(64, 2) ~ 2k pairs per
    fingerprint at ANY corpus size. At sf0.01 the max observed df is
    7, so the fixture result is unchanged; the cap is load-bearing
    only where it must be."""
    docs = load(spark, sf_dir, "documents")
    return winnow_pairs(docs, k=3, w=4, min_shared=2, max_df=64)


@query(
    "q_dedup_winnow_inc",
    oracle=f"""
    WITH {_WINNOW_DFP_CTES},
    corp AS (SELECT DISTINCT fp FROM dfp WHERE NOT (doc_id % 3 = 0)),
    bat AS (SELECT doc_id, fp FROM dfp WHERE doc_id % 3 = 0),
    hits AS (
        SELECT b.doc_id, CAST(COUNT(c.fp) AS BIGINT) AS corpus_hits
        FROM bat b LEFT JOIN corp c ON b.fp = c.fp
        GROUP BY b.doc_id
    ),
    bkeep AS (
        SELECT bat.doc_id, bat.fp FROM bat JOIN (
            SELECT fp FROM bat GROUP BY fp HAVING COUNT(*) <= 64
        ) k USING (fp)
    ),
    dupb AS (
        SELECT DISTINCT b.doc_id
        FROM bkeep a JOIN bkeep b
          ON a.fp = b.fp AND a.doc_id < b.doc_id
        GROUP BY b.doc_id, a.doc_id HAVING COUNT(*) >= 2
    )
    SELECT d.doc_id,
           COALESCE(h.corpus_hits, 0) AS corpus_hits,
           CASE WHEN COALESCE(h.corpus_hits, 0) >= 2 THEN 'dup_corpus'
                WHEN p.doc_id IS NOT NULL THEN 'dup_batch'
                ELSE 'new' END AS status
    FROM (SELECT doc_id FROM documents WHERE doc_id % 3 = 0) d
    LEFT JOIN hits h ON d.doc_id = h.doc_id
    LEFT JOIN (SELECT DISTINCT doc_id FROM dupb) p
           ON d.doc_id = p.doc_id
    """,
)
def q_dedup_winnow_inc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental winnow dedup against a FROZEN fingerprint index
    (VERDICT r7 #4 — the third member of the incremental family after
    q_dedup_incremental llm.py and q_dedup_semantic_inc retrieval.py):
    the per-ingest operating mode at 100 TB, where nobody re-pairs the
    whole corpus — the NEW batch (doc_id % 3 == 0, the deterministic
    stand-in shard) is classified against the stored posting index of
    everything already ingested.

    Per new-batch doc: ``corpus_hits`` = how many of its winnowing
    fingerprints (k=3, w=4, the exact q_dedup_winnow_pairs stream) are
    already in the corpus index; status = 'dup_corpus' when
    corpus_hits >= 2 (the pair family's min_shared threshold),
    else 'dup_batch' when it shares >= 2 fingerprints with an
    EARLIER batch doc (min-doc_id keeper rule, max_df=64 cap applied
    within the batch exactly as in the pair query), else 'new' (admit
    + append its fingerprints to the index). Batch docs too short to
    fingerprint (< 6 tokens) classify 'new' with corpus_hits 0.

    Per-ingest cost is O(batch postings), corpus-size-independent:
    the corpus side is only its DISTINCT fingerprint set — no posting
    lists, no pair fan-out, so no max_df needed there — probed with a
    fp-keyed equi-join; stored BUCKETED by fingerprint the probe is
    exchange-free on the corpus side across daily runs
    (tests/test_selection.py pins the bucketed-probe plan, the
    test_bucketed_join.py pattern). The within-batch pair check reuses
    winnow_pairs' 3-exchange cooccurrence shape on ingest-sized input.
    All-integer fingerprints; the oracle replays hash, window min,
    split, probe, and keeper rule verbatim."""
    from fhir2sql_spark.operators.text import winnow_fp_sets, winnow_pairs

    docs = load(spark, sf_dir, "documents")
    is_new = F.col("doc_id") % 3 == 0
    # ONE winnow pass over the corpus, pinned: the stream is read
    # three times below (corpus probe side, batch probe side, batch
    # pair check) and without the barrier each reference re-ran the
    # full window from raw text (round-8 A/B at sf100: 177 s -> the
    # single-pass form; in production this checkpoint IS the stored
    # fingerprint index the docstring describes)
    fps = winnow_fp_sets(docs, k=3, w=4).localCheckpoint(eager=True)
    corp = fps.where(~is_new).select("__fp").distinct()
    bat = fps.where(is_new)
    hits = (
        bat.join(corp.withColumn("__c", F.lit(1)), "__fp", "left")
        .groupBy("doc_id")
        .agg(F.count("__c").cast("long").alias("corpus_hits"))
    )
    dupb = (
        winnow_pairs(min_shared=2, max_df=64, fps=bat)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
        .withColumn("__dup", F.lit(1))
    )
    base = docs.where(is_new).select("doc_id")
    return (
        base.join(hits, "doc_id", "left")
        .join(dupb, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("corpus_hits", F.lit(0)).alias("corpus_hits"),
            F.when(
                F.coalesce("corpus_hits", F.lit(0)) >= 2, F.lit("dup_corpus")
            )
            .when(F.col("__dup").isNotNull(), F.lit("dup_batch"))
            .otherwise(F.lit("new"))
            .alias("status"),
        )
    )


@query(
    "q_text_langid_confusion",
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
    ),
    pred AS (
        SELECT true_lang,
               CASE WHEN greatest(h_de,h_en,h_es,h_fr,h_it) = 0 THEN 'und'
                    WHEN h_de >= h_en AND h_de >= h_es AND h_de >= h_fr
                         AND h_de >= h_it THEN 'de'
                    WHEN h_en >= h_es AND h_en >= h_fr AND h_en >= h_it
                         THEN 'en'
                    WHEN h_es >= h_fr AND h_es >= h_it THEN 'es'
                    WHEN h_fr >= h_it THEN 'fr'
                    ELSE 'it' END AS pred_lang
        FROM hits
    )
    SELECT true_lang, pred_lang, COUNT(*) AS n,
           true_lang = pred_lang AS correct
    FROM pred GROUP BY 1, 2
    """,
)
def q_text_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the heuristic language identifier against
    the corpus ground truth — the quality-eval step a pipeline runs
    before trusting a classifier for filtering (per-cell counts +
    correctness flag; accuracy/precision/recall all derive from it).
    Reuses q_text_langid's argmax (hoisted single tokenization, ties
    -> lexicographically smallest code, zero hits -> 'und'); the
    matrix is one 2-key hash aggregate over the scan — at 100 TB this
    is a map-side-combined 25-cell table, no other shuffle."""
    d = load(spark, sf_dir, "documents")
    from fhir2sql_spark.operators import text as text_ops

    toked = d.select(
        F.col("lang").alias("true_lang"),
        F.col("text").alias("__txt"),
    )
    return (
        toked.select(
            "true_lang",
            text_ops.lang_id_scores(F.col("__txt")).alias("pred_lang"),
        )
        .groupBy("true_lang", "pred_lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "true_lang",
            "pred_lang",
            "n",
            (F.col("true_lang") == F.col("pred_lang")).alias("correct"),
        )
    )


def _kcenter_oracle(m: int = 6) -> str:
    """Unrolled greedy k-center replay: the lattice quantize CTE, the
    md5-seeded first pick, then m-1 rounds of
    argmax-of-min-distance-to-selected (exact int64 L2 via the
    |x|^2 - 2<x,c> + |c|^2 expansion; ties -> lowest vec_id) with
    already-selected ids excluded."""
    from fhir2sql_spark.queries.llm import _LATTICE_SCALE, _d2i

    parts = [
        f"""q AS MATERIALIZED (
  SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]),
                                x -> CAST(ROUND(x * {_LATTICE_SCALE}) AS BIGINT)) AS qv
  FROM embeddings
),
c0 AS MATERIALIZED (
  SELECT 0 AS rank, vec_id, qv, CAST(0 AS BIGINT) AS d2prev
  FROM q ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 1
),
s0 AS MATERIALIZED (SELECT * FROM c0)"""
    ]
    for i in range(1, m):
        parts.append(
            f"""m{i} AS MATERIALIZED (
  SELECT t.vec_id, t.qv, MIN({_d2i('t.qv', 'c.qv')}) AS mind
  FROM q t CROSS JOIN s{i - 1} c
  WHERE t.vec_id NOT IN (SELECT vec_id FROM s{i - 1})
  GROUP BY t.vec_id, t.qv
),
c{i} AS MATERIALIZED (
  SELECT {i} AS rank, vec_id, qv, mind AS d2prev
  FROM m{i} ORDER BY mind DESC, vec_id LIMIT 1
),
s{i} AS MATERIALIZED (SELECT * FROM s{i - 1} UNION ALL SELECT * FROM c{i})"""
        )
    return (
        "WITH " + ",\n".join(parts)
        + f"\nSELECT CAST(rank AS INTEGER) AS rank, vec_id, d2prev FROM s{m - 1}"
    )


@query("q_sample_kcenter", oracle=_kcenter_oracle())
def q_sample_kcenter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center coreset selection over the embedding corpus —
    the diversity-maximizing subset rule (Gonzalez 1985 farthest-point
    traversal; the core-set active-learning/selection form of Sener &
    Savarese 2018): start from the md5-seeded portable draw, then
    repeatedly pick the vector FARTHEST from everything selected so
    far (ties -> lowest vec_id). Returns the m=6 selected centers as
    (rank, vec_id, d2prev) where d2prev is the selection-time distance
    — the coverage radius after rank r is s[r+1].d2prev, so the output
    doubles as the coreset quality curve.

    Spark shape: k-center is inherently k sequential passes; each
    round is ONE full-scan TakeOrdered(1) by (min-distance DESC,
    vec_id); the <= m selected centers ride the round's closure and
    the m-row state lives on the driver (the codebook-collect
    budget). Distances are exact int64 lattice L2
    (operators/lattice.py quantize), so the whole traversal replays
    as unrolled SQL CTEs — strict value-hash oracle, no float tie
    hazards.

    r11: the per-round min-distance was a F.least() chain of
    zip_with/aggregate folds — higher-order lambdas are INTERPRETED
    per element, and the chain re-folds every selected center per
    row, O(N*m^2) lambda dispatches (measured 36.7 s executor CPU in
    the final round's stage at sf0.1). Replaced with one vectorized
    Arrow batch per round (guide §4.2): min over the center matrix
    via exact int64 numpy arithmetic — |t|^2 - 2 t.C^T + |c|^2 in
    int64 never exceeds 2^40 here, so the result is the identical
    integer and the traversal, tie-breaks and oracle hash are
    unchanged (tests/test_selection.py pins the numpy-greedy parity).
    CPU drops to vectorized-native; the corpus still never
    shuffles."""
    from pyspark.sql.functions import pandas_udf

    from fhir2sql_spark.operators import lattice

    m = 6
    emb = load(spark, sf_dir, "embeddings")
    qv = lattice.materialize(lattice.quantize(emb))

    def mind_udf(centers: list[list[int]]):
        C = np.asarray(centers, dtype=np.int64)          # r x dim
        c2 = (C * C).sum(axis=1)                         # r

        @pandas_udf("long")
        def _mind(col: pd.Series) -> pd.Series:
            T = np.vstack(col.to_numpy()).astype(np.int64, copy=False)
            d2 = (
                (T * T).sum(axis=1)[:, None]
                - 2 * (T @ C.T)
                + c2[None, :]
            )
            return pd.Series(d2.min(axis=1))

        return _mind

    seed = (
        qv.orderBy(F.md5(F.col("vid").cast("string")), "vid")
        .limit(1)
        .collect()[0]
    )
    sel = [(0, seed["vid"], list(seed["qv"]), 0)]
    for r in range(1, m):
        mind = mind_udf([c for _, _, c, _ in sel])
        row = (
            qv.where(~F.col("vid").isin([v for _, v, _, _ in sel]))
            .select("vid", "qv", mind("qv").alias("mind"))
            .orderBy(F.desc("mind"), F.asc("vid"))
            .limit(1)
            .collect()[0]
        )
        sel.append((r, row["vid"], list(row["qv"]), row["mind"]))
    rank, vec_id, _, d2prev = zip(*sel)
    return arrow_frame(
        spark, "rank int, vec_id long, d2prev long", [(rank, vec_id, d2prev)]
    )


@query(
    "q_dedup_softweight",
    oracle="""
    WITH h AS (
        SELECT doc_id,
               sha256(array_to_string(
                   string_split(trim(regexp_replace(lower(text), '\\s+',
                                                    ' ', 'g')), ' ')[1:8],
                   ' ')) AS th
        FROM documents
    ),
    c AS (SELECT th, COUNT(*) AS n FROM h GROUP BY th)
    SELECT h.doc_id, CAST(c.n AS BIGINT) AS cluster_n,
           ROUND(1.0 / c.n, 6) AS soft_w
    FROM h JOIN c USING (th)
    """,
)
def q_dedup_softweight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SoftDedup-style reweighting (He et al. 2024, arXiv:2407.06654:
    downweight instead of drop): every document keeps flowing to the
    trainer but its sampling weight is 1/|duplication cluster|, so a
    10-way near-clone family contributes one document's worth of
    gradient in expectation while preserving coverage. Clusters come
    from the normalized 8-token-prefix sha2 key — q_dedup_incremental's
    ingest-heuristic key, which makes the fixture's clone pairs
    collide. Plan: ONE th-keyed exchange serves the cluster-size count
    window; weight is a single exact IEEE division, 6-dp rounded.
    At 100 TB this is the cheapest dedup posture there is — no pair
    generation at all, just a key aggregate."""
    from fhir2sql_spark.operators import dedup
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents")
    prefix = F.concat_ws(
        " ", F.slice(F.split(dedup.normalize_text(F.col("text")), " "), 1, 8)
    )
    h = docs.select("doc_id", F.sha2(prefix, 256).alias("th"))
    n = F.count(F.lit(1)).over(Window.partitionBy("th"))
    return h.select(
        "doc_id",
        n.cast("long").alias("cluster_n"),
        F.round(F.lit(1.0) / n, 6).alias("soft_w"),
    )


_NEYMAN_BUDGET = 100


@query(
    "q_sample_neyman",
    oracle=f"""
    WITH b AS (
        SELECT doc_id, lang,
               len(list_filter(string_split(text, ' '), x -> x <> ''))
                   AS t
        FROM documents
    ),
    a AS (
        SELECT lang, COUNT(*) AS n_h,
               CAST(SUM(t) AS BIGINT) AS s,
               CAST(SUM(t * t) AS BIGINT) AS sq
        FROM b GROUP BY lang
    ),
    st AS (
        SELECT lang, n_h,
               sqrt((sq - CAST(s AS DOUBLE) * s / n_h) / n_h) AS sd,
               n_h * sqrt((sq - CAST(s AS DOUBLE) * s / n_h) / n_h) AS w
        FROM a
    ),
    tot AS (SELECT list_reduce(list_prepend(CAST(0 AS DOUBLE),
                               list(w ORDER BY lang)),
                               (a, b) -> a + b) AS tw,
                   CAST(SUM(n_h) AS DOUBLE) AS tn FROM st),
    wq AS (
        SELECT st.lang, st.n_h, st.sd,
               CASE WHEN tot.tw = 0
                    THEN CAST(st.n_h AS DOUBLE) / tot.tn
                    ELSE st.w / tot.tw END AS wq
        FROM st CROSS JOIN tot
    ),
    q0 AS (
        SELECT lang, n_h, sd,
               CAST(FLOOR({_NEYMAN_BUDGET} * wq) AS BIGINT) AS base_q,
               {_NEYMAN_BUDGET} * wq
                 - FLOOR({_NEYMAN_BUDGET} * wq) AS rem
        FROM wq
    ),
    rk AS (
        SELECT x.lang, x.n_h, x.sd, x.base_q,
               1 + (SELECT COUNT(*) FROM q0 y
                    WHERE y.rem > x.rem
                       OR (y.rem = x.rem AND y.lang < x.lang)) AS rrank
        FROM q0 x
    ),
    lv AS (SELECT {_NEYMAN_BUDGET} - SUM(base_q) AS leftover FROM q0),
    qt AS (
        SELECT rk.lang,
               LEAST(rk.base_q + CASE WHEN rk.rrank <= lv.leftover
                                      THEN 1 ELSE 0 END,
                     rk.n_h) AS quota
        FROM rk CROSS JOIN lv
    ),
    rn AS (
        SELECT doc_id, lang,
               ROW_NUMBER() OVER (
                   PARTITION BY lang
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        FROM b
    )
    SELECT rn.doc_id, rn.lang, CAST(rn.rn AS BIGINT) AS rn,
           CAST(qt.quota AS BIGINT) AS quota
    FROM rn JOIN qt USING (lang)
    WHERE rn.rn <= qt.quota
    """,
)
def q_sample_neyman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman-allocation stratified sampling (Neyman 1934, the optimal
    fixed-budget allocation every eval-set constructor uses): a budget
    of 100 docs is split across language strata PROPORTIONALLY TO
    N_h * S_h (stratum size x stratum std of the token count), so
    high-variance strata get more of the budget than plain
    proportional allocation would give; integer quotas come from the
    largest-remainder method (ties -> lexicographic lang), capped at
    the stratum size, and each stratum contributes its first ``quota``
    docs in the md5-seeded portable order.

    Exactness: all stratum moments are INTEGER aggregates (count, sum,
    sum of squares of the literal-space token count); std / weights /
    remainders are float math over the 5-row lang table computed with
    the identical expression text on both engines (the q_bm25
    convention), and the remainder RANK is a 5x5 count comparison —
    no unpartitioned window anywhere. Plan: one corpus aggregate with
    map-side combine, O(langs) allocation algebra, then the
    md5-ordered per-stratum window (lang-partitioned) joined to the
    broadcast quota table. At 100 TB the corpus is touched twice
    (moments + ranked sample), both scan-shaped."""
    from fhir2sql_spark.operators.text import nonempty_token_count
    from pyspark.sql import Window

    B = _NEYMAN_BUDGET
    docs = load(spark, sf_dir, "documents")
    b = docs.select(
        "doc_id", "lang", nonempty_token_count(F.col("text")).alias("t")
    )
    a = b.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_h"),
        F.sum("t").cast("long").alias("s"),
        F.sum(F.col("t") * F.col("t")).cast("long").alias("sq"),
    )
    sd = F.sqrt(
        (F.col("sq") - F.col("s").cast("double") * F.col("s") / F.col("n_h"))
        / F.col("n_h")
    )
    st = a.select("lang", "n_h", sd.alias("sd"), (F.col("n_h") * sd).alias("w"))
    st = st.localCheckpoint(eager=True)  # 5 rows; feeds 3 consumers
    # ordered sequential fold, NOT SUM: a 5-double SUM is
    # thread-order-sensitive in BOTH engines and a last-ulp shift in
    # tw flips FLOOR(B*w/tw) at a quota boundary (the q_embed_ivfpq
    # flake class — caught by tests/test_oracle_stability.py on this
    # very query before it ever shipped)
    tot = (
        st.agg(
            F.array_sort(F.collect_list(F.struct("lang", "w"))).alias("__a"),
            F.sum("n_h").cast("double").alias("tn"),
        )
        .select(
            F.aggregate(
                "__a", F.lit(0.0), lambda acc, x: acc + x["w"]
            ).alias("tw"),
            "tn",
        )
    )
    # degenerate guard (ADVICE r7): if every stratum has constant token
    # counts, all sd are 0 so tw = 0 and B*w/tw is NaN — DuckDB's
    # CAST(FLOOR(NaN) AS BIGINT) errors while Spark yields null. Fall
    # back to plain proportional allocation (wq = n_h / N, an exact
    # integer ratio) on BOTH engines so they stay bit-identical.
    wq = F.when(
        F.col("tw") == 0.0, F.col("n_h").cast("double") / F.col("tn")
    ).otherwise(F.col("w") / F.col("tw"))
    q0 = (
        st.crossJoin(F.broadcast(tot))
        .select(
            "lang",
            "n_h",
            F.floor(B * wq).cast("long").alias("base_q"),
            (B * wq - F.floor(B * wq)).alias("rem"),
        )
        .localCheckpoint(eager=True)
    )
    other = q0.select(
        F.col("lang").alias("l2"), F.col("rem").alias("rem2")
    )
    rk = (
        q0.join(
            other,
            (F.col("rem2") > F.col("rem"))
            | ((F.col("rem2") == F.col("rem")) & (F.col("l2") < F.col("lang"))),
            "left",
        )
        .groupBy("lang", "n_h", "base_q")
        .agg((1 + F.count("l2")).alias("rrank"))
    )
    lv = q0.agg((F.lit(B) - F.sum("base_q")).alias("leftover"))
    qt = rk.crossJoin(F.broadcast(lv)).select(
        "lang",
        F.least(
            F.col("base_q")
            + F.when(F.col("rrank") <= F.col("leftover"), 1).otherwise(0),
            F.col("n_h"),
        ).alias("quota"),
    )
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    ranked = b.select("doc_id", "lang", F.row_number().over(w).alias("rn"))
    return (
        ranked.join(F.broadcast(qt), "lang")
        .where(F.col("rn") <= F.col("quota"))
        .select(
            "doc_id",
            "lang",
            F.col("rn").cast("long").alias("rn"),
            F.col("quota").cast("long").alias("quota"),
        )
    )


def _prototypes_oracle(rounds: int = 2) -> str:
    """Prototype-pruning replay: the shared lattice prologue trains on
    the FULL corpus, the final codebook assigns every vector (keeping
    the exact integer distance), then per-cell hardest-70% ranking in
    pure window arithmetic."""
    from fhir2sql_spark.queries.llm import _d2i, _lattice_prologue

    pro, cb = _lattice_prologue("16", rounds)
    return f"""WITH {pro},
asg AS MATERIALIZED (
  SELECT vec_id, cent_id, d2 FROM (
    SELECT t.vec_id, c.cent_id, {_d2i('t.qv', 'c.cv')} AS d2,
           ROW_NUMBER() OVER (PARTITION BY t.vec_id
                              ORDER BY {_d2i('t.qv', 'c.cv')}, c.cent_id) AS rn
    FROM q t CROSS JOIN {cb} c) z
  WHERE rn = 1
)
SELECT vec_id, CAST(cent_id AS INTEGER) AS cell, d2,
       CAST(ROW_NUMBER() OVER (PARTITION BY cent_id
                               ORDER BY d2 DESC, vec_id) AS BIGINT) AS rnk,
       CAST(COUNT(*) OVER (PARTITION BY cent_id) AS BIGINT) AS n_cell,
       ROW_NUMBER() OVER (PARTITION BY cent_id ORDER BY d2 DESC, vec_id) * 10
         <= COUNT(*) OVER (PARTITION BY cent_id) * 7 AS keep
FROM asg"""


@query("q_prune_prototypes", oracle=_prototypes_oracle())
def q_prune_prototypes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prototype-distance data pruning (Sorscher et al. 2022, "Beyond
    neural scaling laws: beating power law scaling via data pruning"):
    cluster the embedding corpus with k-means, score every example by
    its distance to the nearest prototype (cluster centroid), and in
    the abundant-data regime KEEP THE HARD examples — here the
    farthest 70% per cluster (rnk * 10 <= n_cell * 7, the exact
    integer form), dropping the easy prototypical 30% that the paper
    shows contributes least to the loss. Per-cluster (not global)
    ranking preserves coverage of every mode, which is what separates
    this from naive global outlier-keeping.

    Scale shape: training is the lattice trainer's broadcast-codebook
    partial-sum pass (operators/lattice.py), scoring is one fused
    Arrow map-side pass (lattice_assign — the corpus never shuffles
    for assignment), and the only exchange is the per-CELL window
    (16-way key here, k ~ sqrt(N) in production — never a single-task
    window). Everything is exact int64 lattice arithmetic, so the
    whole train -> assign -> rank -> keep pipeline hash-matches the
    unrolled DuckDB replay."""
    from pyspark.sql import Window

    from fhir2sql_spark.operators import lattice

    emb = load(spark, sf_dir, "embeddings")
    qv = lattice.materialize(lattice.quantize(emb))
    cents = lattice.lattice_kmeans(qv, k=16, iters=2)
    asg = lattice.lattice_assign(qv, cents)
    w = Window.partitionBy("cell").orderBy(F.desc("d2"), "vid")
    cw = Window.partitionBy("cell")
    return (
        asg.withColumn("rnk", F.row_number().over(w).cast("long"))
        .withColumn("n_cell", F.count("*").over(cw))
        .select(
            F.col("vid").alias("vec_id"),
            "cell",
            "d2",
            "rnk",
            "n_cell",
            (F.col("rnk") * 10 <= F.col("n_cell") * 7).alias("keep"),
        )
    )


@query(
    "q_sample_doremi",
    oracle="""
    WITH d AS (
        SELECT source AS domain, COUNT(*) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS chars
        FROM documents GROUP BY 1
    ),
    tot AS (
        SELECT CAST(SUM(n_docs) AS DOUBLE) AS tn,
               CAST(SUM(chars) AS DOUBLE) AS tc
        FROM d
    ),
    s AS (
        SELECT domain, n_docs,
               CAST(n_docs AS DOUBLE) / tn AS w0,
               (CAST(chars AS DOUBLE) / n_docs) / (tc / tn) - 1 AS excess
        FROM d CROSS JOIN tot
    ),
    e AS (
        SELECT domain, n_docs, w0, excess, w0 * exp(excess) AS raw
        FROM s
    ),
    z AS (
        SELECT list_reduce(list_prepend(CAST(0 AS DOUBLE),
                                        list(raw ORDER BY domain)),
                           (a, b) -> a + b) AS z,
               CAST(COUNT(*) AS DOUBLE) AS k
        FROM e
    )
    SELECT domain, n_docs, round(w0, 4) AS w0, round(excess, 4) AS excess,
           round(0.8 * raw / z + 0.2 / k, 4) AS w1
    FROM e CROSS JOIN z
    """,
)
def q_sample_doremi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One DoReMi-style multiplicative-weights update over domain
    mixture weights (Xie et al. 2023, "DoReMi: Optimizing Data
    Mixtures Speeds Up Language Model Pretraining"): starting from the
    corpus-share reference weights w0_d = n_d / N, each domain's
    weight is scaled by exp(eta * excess_d) (eta = 1), normalized, and
    smoothed with a uniform 20% floor — w1 = 0.8 * w' + 0.2 / k — so
    no domain's sampling probability collapses to zero (the paper's
    mixing step). The per-domain EXCESS signal here is the exact
    relative mean-document-length advantage ((chars_d / n_d) /
    (chars / N) - 1) — the deterministic stand-in for the per-domain
    excess loss a proxy-model run would supply; in production the
    q_text_lm_score / q_quality_classifier outputs plug into exactly
    this column and the update is re-run per proxy checkpoint.

    Exactness: per-domain moments are INTEGER aggregates; w0 / excess
    / raw are float expressions with identical text on both engines;
    the normalizer Z is an ORDERED sequential fold over the k-row
    domain table (the q_sample_neyman lesson — a k-double SUM is
    thread-order-sensitive in both engines); outputs round 4 dp (the
    q_bm25 transcendental convention, exp being the one libm call).

    Plan shape: ONE map-side-combined corpus aggregate to k domain
    rows (checkpointed — 3 consumers), then O(k) driver-free algebra
    via 1-row broadcasts. At 100 TB this is the cheapest query in the
    selection family: the corpus is touched once, scan-shaped, and
    everything after is k ~ dozens of rows."""
    docs = load(spark, sf_dir, "documents")
    d = (
        docs.groupBy(F.col("source").alias("domain"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("chars"),
        )
        .localCheckpoint(eager=True)  # k rows; feeds tot, fold, final
    )
    tot = d.agg(
        F.sum("n_docs").cast("double").alias("tn"),
        F.sum("chars").cast("double").alias("tc"),
    )
    e = d.crossJoin(F.broadcast(tot)).select(
        "domain",
        "n_docs",
        (F.col("n_docs").cast("double") / F.col("tn")).alias("w0"),
        (
            (F.col("chars").cast("double") / F.col("n_docs"))
            / (F.col("tc") / F.col("tn"))
            - 1
        ).alias("excess"),
    )
    return _doremi_mw_update(e)


def _doremi_mw_update(e: DataFrame) -> DataFrame:
    """Shared multiplicative-weights tail of the DoReMi queries
    (q_sample_doremi, q_sample_doremi_lm): given k domain rows
    (domain, n_docs, w0, excess), scale by exp(excess), normalize
    with the ORDERED sequential fold (the q_sample_neyman float-sum
    lesson), and smooth with the uniform 20% floor. Expressions are
    byte-identical to the SQL oracles' e/z CTEs."""
    e = e.withColumn("raw", F.col("w0") * F.exp("excess")).localCheckpoint(
        eager=True  # k rows; read by the fold AND the final projection
    )
    z = e.agg(
        F.array_sort(F.collect_list(F.struct("domain", "raw"))).alias("__a"),
        F.count(F.lit(1)).cast("double").alias("k"),
    ).select(
        F.aggregate("__a", F.lit(0.0), lambda acc, x: acc + x["raw"]).alias(
            "z"
        ),
        "k",
    )
    return e.crossJoin(F.broadcast(z)).select(
        "domain",
        "n_docs",
        F.round("w0", 4).alias("w0"),
        F.round("excess", 4).alias("excess"),
        F.round(
            F.lit(0.8) * F.col("raw") / F.col("z") + F.lit(0.2) / F.col("k"),
            4,
        ).alias("w1"),
    )


def _doremi_lm_oracle() -> str:
    """Oracle for q_sample_doremi_lm — shares training._LM_CTES
    verbatim (the q_curriculum_order discipline) so the LM model text
    is IDENTICAL across q_text_lm_score / q_curriculum_order / this."""
    from fhir2sql_spark.queries.training import _LM_CTES

    return f"""
    WITH {_LM_CTES},
    g AS (
      SELECT d.source AS domain, COUNT(*) AS n_docs,
             CAST(SUM(l.bits_sum) AS BIGINT) AS bits,
             CAST(SUM(l.n_bigrams) AS BIGINT) AS bigrams
      FROM lm_scored l JOIN documents d ON l.doc_id = d.doc_id
      GROUP BY 1
    ),
    tot AS (
      SELECT CAST(SUM(n_docs) AS DOUBLE) AS tn,
             CAST(SUM(bits) AS DOUBLE) AS tb,
             CAST(SUM(bigrams) AS DOUBLE) AS tg
      FROM g
    ),
    se AS (
      SELECT domain, n_docs,
             CAST(n_docs AS DOUBLE) / tn AS w0,
             1 - (CAST(bits AS DOUBLE) / CAST(bigrams AS DOUBLE))
                 / (tb / tg) AS excess
      FROM g CROSS JOIN tot
    ),
    e AS (
      SELECT domain, n_docs, w0, excess, w0 * exp(excess) AS raw
      FROM se
    ),
    z AS (
      SELECT list_reduce(list_prepend(CAST(0 AS DOUBLE),
                                      list(raw ORDER BY domain)),
                         (a, b) -> a + b) AS z,
             CAST(COUNT(*) AS DOUBLE) AS k
      FROM e
    )
    SELECT domain, n_docs, round(w0, 4) AS w0, round(excess, 4) AS excess,
           round(0.8 * raw / z + 0.2 / k, 4) AS w1
    FROM e CROSS JOIN z
    """


@query("q_sample_doremi_lm", oracle=_doremi_lm_oracle())
def q_sample_doremi_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DoReMi composed with the REAL proxy signal (VERDICT r9 #4):
    q_sample_doremi documents q_text_lm_score as the excess-loss plug
    point — this query wires it. Each domain's excess is its bigram-LM
    EXCESS LOSS: 1 - (domain bits/bigram) / (corpus bits/bigram) —
    positive for domains the corpus-trained LM predicts WORSE than
    average (avg_bits ~ log-likelihood in bits, so lower-than-average
    predictability = higher loss = upweight, the DoReMi direction).
    The multiplicative-weights tail (_doremi_mw_update) is shared
    verbatim with q_sample_doremi.

    Exactness: per-domain loss moments are INTEGER sums of the
    bit-length quantized scores (sum bits_sum, sum n_bigrams — never
    a float mean of per-doc ratios, which would be merge-order
    sensitive); the domain and corpus bits/bigram are double ratios
    of exact longs; exp is the one libm call; outputs round 4 dp.
    Docs with < 2 tokens score no bigrams and drop from BOTH engines'
    aggregates (inner model join), so n_docs counts SCORED docs.

    Plan shape: the q_text_lm_score pipeline (bigram explode, model
    aggs on 8-byte xxhash64 keys, one model equi-join, per-doc agg)
    + ONE doc_id join to attach the domain + a k-row aggregate; then
    the O(k) update algebra on 1-row broadcasts. The oracle replays
    the string-keyed model (q_text_lm_score's accepted hash-vs-string
    equivalence) and shares its CTE text with q_text_lm_score /
    q_curriculum_order so all three score over the IDENTICAL model."""
    from fhir2sql_spark.operators.text import lm_score_docs

    docs = load(spark, sf_dir, "documents")
    scored = lm_score_docs(docs)
    g = (
        scored.join(docs.select("doc_id", "source"), "doc_id")
        .groupBy(F.col("source").alias("domain"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("bits_sum").cast("long").alias("bits"),
            F.sum("n_bigrams").cast("long").alias("bigrams"),
        )
        .localCheckpoint(eager=True)  # k rows; feeds tot AND se
    )
    tot = g.agg(
        F.sum("n_docs").cast("double").alias("tn"),
        F.sum("bits").cast("double").alias("tb"),
        F.sum("bigrams").cast("double").alias("tg"),
    )
    e = g.crossJoin(F.broadcast(tot)).select(
        "domain",
        "n_docs",
        (F.col("n_docs").cast("double") / F.col("tn")).alias("w0"),
        (
            F.lit(1)
            - (F.col("bits").cast("double") / F.col("bigrams").cast("double"))
            / (F.col("tb") / F.col("tg"))
        ).alias("excess"),
    )
    return _doremi_mw_update(e)
