"""Vocabulary / corpus-statistics queries (round-5 additions to the
SURVEY.md §2.4 LLM-curation inventory): the measurements a tokenizer
or data-mix team runs before training.

- BPE merge-candidate mining: corpus-wide adjacent character-pair
  counts over the word-frequency dictionary — one merge round of
  byte-pair encoding (Sennrich et al. 2016). The frequency-dict
  formulation IS the scale form: the corpus collapses to its
  vocabulary before any pair is generated, so the pair stage's input
  is vocabulary-sized, not corpus-sized.
- Zipf rank-frequency fit: log-log OLS slope over the top token
  ranks — the sanity check that a corpus has natural-language token
  statistics (slope ~ -1) rather than boilerplate.
- Heaps' law vocabulary growth: cumulative distinct-vocabulary vs
  cumulative token count in document order — the diagnostic for
  "is new data still adding new vocabulary". The running totals use
  the distributed prefix sum (operators/packing.py), never a
  single-task global window.
- Winsorized quality z-scores: per-language p05/p95-clipped,
  standardized chars-per-token — robust outlier scoring for mixture
  weighting (clipping first so tail docs cannot drag the mean).

The reference (samply/fhir2sql, src/main.rs — a 621-line Rust sync
daemon) has no text surface; determinism rules follow
queries/util.py (exact integer counts; one IEEE division; 6-dp
rounding only where engine summation order genuinely drifts).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from fhir2sql_spark.operators.packing import distributed_prefix_sum
from fhir2sql_spark.registry import query
from fhir2sql_spark.sources.arrow_rows import arrow_frame
from fhir2sql_spark.tables import load


@query(
    "q_bpe_pairs",
    oracle="""
    WITH wc AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents) t
      WHERE length(w) >= 2 GROUP BY w
    )
    SELECT substr(w, CAST(i AS INT), 2) AS pair,
           CAST(SUM(cnt) AS BIGINT) AS cnt
    FROM wc, unnest(generate_series(1, length(w) - 1)) AS t(i)
    GROUP BY pair ORDER BY cnt DESC, pair LIMIT 20
    """,
)
def q_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One BPE merge round: the 20 most frequent adjacent character
    pairs corpus-wide, weighted by word frequency. The plan is the
    textbook (and scale-optimal) frequency-dict form: tokenize →
    word-count aggregate (map-side combine collapses the corpus to
    its VOCABULARY — the only corpus-sized shuffle carries distinct
    words per partition), then the pair generation explodes
    vocabulary-sized input only and re-aggregates over the ~alphabet²
    pair domain. Top-20 is an orderBy+limit → TakeOrderedAndProject,
    no global sort shuffle. Pairs stay within words (no cross-word
    merges), the standard BPE convention."""
    docs = load(spark, sf_dir, "documents")
    words = docs.select(
        F.explode(F.split("text", " ")).alias("w")
    ).where(F.length("w") >= 2)
    wc = words.groupBy("w").agg(F.count(F.lit(1)).alias("cnt"))
    pairs = wc.select(
        F.explode(
            F.expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")
        ).alias("pair"),
        "cnt",
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("cnt").cast("long").alias("cnt"))
        .orderBy(F.desc("cnt"), "pair")
        .limit(20)
    )


@query(
    "q_tokens_zipf",
    oracle="""
    WITH wc AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents) t
      WHERE w <> '' GROUP BY w
    ),
    top AS (SELECT w, cnt FROM wc ORDER BY cnt DESC, w LIMIT 100),
    r AS (
      SELECT cnt,
             ROW_NUMBER() OVER (ORDER BY cnt DESC, w) AS rank
      FROM top
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_types,
           ROUND(regr_slope(ln(cnt), ln(rank)), 6) AS zipf_slope,
           ROUND(regr_intercept(ln(cnt), ln(rank)), 6) AS zipf_intercept,
           ROUND(covar_pop(ln(cnt), ln(rank))
                 / NULLIF(stddev_pop(ln(cnt)) * stddev_pop(ln(rank)), 0),
                 6) AS loglog_corr
    FROM r
    """,
)
def q_tokens_zipf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf rank-frequency fit: OLS slope/intercept/corr of
    ln(frequency) on ln(rank) over the top-100 token types — natural
    text sits near slope -1; templated/boilerplate corpora flatten.
    The token count is the one corpus-sized aggregate (map-side
    combine → vocabulary-sized exchange); top-100 is orderBy+limit
    (TakeOrderedAndProject); ranking the LIMIT-bounded rows goes
    through distributed_rank anyway (a lit(0)-partitioned window gets
    constant-folded by Catalyst back into the unpartitioned
    single-task form the suite-wide audit bans — cheap here, but the
    registered plan should be the one that survives without the
    LIMIT). 6-dp rounding absorbs the regr moment-accumulation order
    drift (q_agg_regr convention)."""
    from fhir2sql_spark.operators.packing import distributed_rank

    docs = load(spark, sf_dir, "documents")
    wc = (
        docs.select(F.explode(F.split("text", " ")).alias("w"))
        .where(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    # r11: pin the 100-row top-k — distributed_rank reads its input
    # through three consumers (range sample, counts, final join), and
    # unpinned each re-ran the corpus token aggregate + TakeOrdered
    top = (
        wc.orderBy(F.desc("cnt"), "w").limit(100).localCheckpoint(eager=True)
    )
    ranked = distributed_rank(
        top, [F.desc("cnt"), F.asc("w")], out_col="rnk"
    ).withColumn("rank", F.col("rnk") + 1)
    lc, lr = F.log(F.col("cnt")), F.log(F.col("rank"))
    # corr is expanded to covar_pop / (sd*sd) with a NULL-safe divide:
    # a corpus whose top-k counts are all EQUAL (zero ln(cnt)
    # variance — the sf100 clone fixture does exactly this) must
    # yield NULL, not an ANSI DIVIDE_BY_ZERO; DuckDB's corr() nulls
    # silently, Spark 4's throws, so both sides compute the explicit
    # guarded formula.
    return ranked.agg(
        F.count(F.lit(1)).alias("n_types"),
        F.round(F.regr_slope(lc, lr), 6).alias("zipf_slope"),
        F.round(F.regr_intercept(lc, lr), 6).alias("zipf_intercept"),
        F.round(
            F.try_divide(
                F.covar_pop(lc, lr),
                F.stddev_pop(lc) * F.stddev_pop(lr),
            ),
            6,
        ).alias("loglog_corr"),
    )


@query(
    "q_vocab_growth",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
    ),
    tok1 AS (SELECT doc_id, w FROM tok WHERE w <> ''),
    per AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tok
            FROM tok1 GROUP BY doc_id),
    own AS (SELECT w, MIN(doc_id) AS doc_id FROM tok1 GROUP BY w),
    nw AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_new
           FROM own GROUP BY doc_id),
    j AS (
      SELECT p.doc_id, p.n_tok, COALESCE(nw.n_new, 0) AS n_new
      FROM per p LEFT JOIN nw USING (doc_id)
    ),
    c AS (
      SELECT doc_id,
             SUM(n_tok) OVER (ORDER BY doc_id) AS cum_tokens,
             SUM(n_new) OVER (ORDER BY doc_id) AS cum_vocab
      FROM j
    )
    SELECT doc_id, CAST(cum_tokens AS BIGINT) AS cum_tokens,
           CAST(cum_vocab AS BIGINT) AS cum_vocab
    FROM c WHERE doc_id % 20 = 0
    """,
)
def q_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary growth curve: cumulative token count and
    cumulative distinct vocabulary after each document (in doc_id
    ingest order), sampled every 20th doc. "New vocabulary" is
    attributed by first owner (min doc_id per word — the same
    first-owner idea as q_text_ngram_novelty), which turns the
    running COUNT(DISTINCT) into a plain running SUM of per-doc
    new-word counts; both running totals ride ONE distributed prefix
    sum (operators/packing.py — range-repartition + broadcast
    per-partition offsets, both columns sharing the repartition and
    sort), never a single-task global window. All counts are exact
    longs — no floats anywhere."""
    docs = load(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("w")
    ).where(F.col("w") != "")
    per = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_tok"))
    own = tok.groupBy("w").agg(F.min("doc_id").alias("doc_id"))
    nw = own.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_new"))
    j = per.join(nw, "doc_id", "left").select(
        "doc_id",
        "n_tok",
        F.coalesce("n_new", F.lit(0)).alias("n_new"),
    )
    # r11: pin the per-doc join — distributed_prefix_sum reads its
    # input through the range sample + partition counts + final join,
    # and unpinned each consumer re-ran BOTH corpus token aggregates
    from fhir2sql_spark.operators.reuse import materialize_serialized

    j = materialize_serialized(j)
    c = distributed_prefix_sum(
        j,
        [F.col("doc_id")],
        ["n_tok", "n_new"],
        out_col=["cum_tokens", "cum_vocab"],
    )
    return c.where(F.col("doc_id") % 20 == 0).select(
        "doc_id",
        F.col("cum_tokens").cast("long").alias("cum_tokens"),
        F.col("cum_vocab").cast("long").alias("cum_vocab"),
    )


@query(
    "q_quality_winsorize",
    oracle="""
    WITH s AS (
      SELECT doc_id, lang,
             CAST(length(replace(text, ' ', '')) AS DOUBLE)
               / CAST(length(text) - length(replace(text, ' ', '')) + 1
                      AS DOUBLE) AS score
      FROM documents
    ),
    b AS (
      SELECT lang,
             quantile_cont(score, 0.05) AS p05,
             quantile_cont(score, 0.95) AS p95
      FROM s GROUP BY lang
    ),
    cl AS (
      SELECT s.doc_id, s.lang,
             least(greatest(s.score, b.p05), b.p95) AS clipped
      FROM s JOIN b USING (lang)
    ),
    m AS (
      SELECT lang, avg(clipped) AS mu, stddev_pop(clipped) AS sd
      FROM cl GROUP BY lang
    )
    SELECT cl.doc_id, cl.lang,
           ROUND(cl.clipped, 6) AS clipped,
           ROUND((cl.clipped - m.mu) / NULLIF(m.sd, 0), 6) AS winsor_z
    FROM cl JOIN m USING (lang)
    """,
)
def q_quality_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-language quality scoring: chars-per-token, winsorized
    at the language's p05/p95, then standardized — the clip-first
    ordering keeps tail documents from dragging the mean, the standard
    robust-mixture-weighting preprocessor. The score is computed
    scan-side with pure string arithmetic (length/replace — no
    tokenizer explode, no lambda): chars = length minus spaces, slots
    = spaces + 1. Exact percentiles per language are the CONTRACT
    form (per-group sort state grows with group size — the documented
    scale swap is approx_percentile's mergeable t-digest, which the
    clip tolerates by construction); the mean/stddev pass is a plain
    partial+final aggregate. Percentile interpolation matches DuckDB
    quantile_cont (q_agg_percentile convention); 6-dp rounding
    absorbs moment summation-order drift."""
    docs = load(spark, sf_dir, "documents")
    chars = F.length(F.regexp_replace("text", " ", "")).cast("double")
    slots = (
        F.length("text") - F.length(F.regexp_replace("text", " ", "")) + 1
    ).cast("double")
    s = docs.select("doc_id", "lang", (chars / slots).alias("score"))
    b = s.groupBy("lang").agg(
        F.expr("percentile(score, 0.05D)").alias("p05"),
        F.expr("percentile(score, 0.95D)").alias("p95"),
    )
    cl = s.join(F.broadcast(b), "lang").select(
        "doc_id",
        "lang",
        F.least(F.greatest("score", F.col("p05")), F.col("p95")).alias(
            "clipped"
        ),
    )
    m = cl.groupBy("lang").agg(
        F.avg("clipped").alias("mu"), F.stddev_pop("clipped").alias("sd")
    )
    return cl.join(F.broadcast(m), "lang").select(
        "doc_id",
        "lang",
        F.round("clipped", 6).alias("clipped"),
        F.round(
            (F.col("clipped") - F.col("mu"))
            / F.nullif(F.col("sd"), F.lit(0.0)),
            6,
        ).alias("winsor_z"),
    )


@query(
    "q_text_llr",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS ts FROM documents
    ), bi AS MATERIALIZED (
      SELECT ts[g.i] AS w1, ts[g.i+1] AS w2, COUNT(*) AS c
      FROM toks, unnest(generate_series(1, len(ts) - 1)) AS g(i)
      GROUP BY 1, 2
    ),
    r AS (SELECT w1, SUM(c) AS r1 FROM bi GROUP BY w1),
    cc AS (SELECT w2, SUM(c) AS c1 FROM bi GROUP BY w2),
    nn AS (SELECT SUM(c) AS n FROM bi),
    m AS (
      SELECT b.w1 || ' ' || b.w2 AS bigram,
             CAST(b.c AS DOUBLE) AS k11,
             CAST(r.r1 - b.c AS DOUBLE) AS k12,
             CAST(cc.c1 - b.c AS DOUBLE) AS k21,
             CAST(nn.n - r.r1 - cc.c1 + b.c AS DOUBLE) AS k22,
             CAST(r.r1 AS DOUBLE) AS r1, CAST(cc.c1 AS DOUBLE) AS c1,
             CAST(nn.n AS DOUBLE) AS n,
             CAST(b.c AS BIGINT) AS n_pair
      FROM bi b JOIN r USING (w1) JOIN cc USING (w2) CROSS JOIN nn
      WHERE b.c >= 20
    )
    SELECT bigram, n_pair,
           ROUND(2.0 * (
             CASE WHEN k11 > 0 THEN k11 * ln(k11) ELSE 0 END
             + CASE WHEN k12 > 0 THEN k12 * ln(k12) ELSE 0 END
             + CASE WHEN k21 > 0 THEN k21 * ln(k21) ELSE 0 END
             + CASE WHEN k22 > 0 THEN k22 * ln(k22) ELSE 0 END
             - CASE WHEN r1 > 0 THEN r1 * ln(r1) ELSE 0 END
             - CASE WHEN n - r1 > 0 THEN (n - r1) * ln(n - r1) ELSE 0 END
             - CASE WHEN c1 > 0 THEN c1 * ln(c1) ELSE 0 END
             - CASE WHEN n - c1 > 0 THEN (n - c1) * ln(n - c1) ELSE 0 END
             + CASE WHEN n > 0 THEN n * ln(n) ELSE 0 END
           ), 6) + 0.0 AS llr
    FROM m
    """,
)
def q_text_llr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dunning log-likelihood-ratio collocations (Dunning 1993) —
    the significance test that replaces raw PMI at scale (PMI
    over-weights rare pairs; LLR is the 2x2 contingency G-test on
    exact counts, the statistic Mahout-era collocation miners
    standardized on). Complements q_text_pmi on the same bigram
    machinery.

    Plan: ONE arrays_zip bigram explode -> count aggregate,
    localCheckpointed eagerly because THREE consumers need it (the
    row margins, column margins, and the final join) — without the
    barrier each vocabulary-sized margin aggregate re-runs the
    corpus-sized explode (the q_text_pmi branch-duplication lesson).
    Margins and the 1-row total then cost vocabulary-sized work; the
    margin joins hash on the word keys the aggregates already
    produced. All contingency cells are exact longs; both engines
    evaluate the identical left-associated xlogx chain, 6-dp rounded
    (moment-drift convention), -0.0 normalized."""
    d = load(spark, sf_dir, "documents")
    toks = d.select(F.split("text", " ").alias("ts"))
    m = F.size("ts") - 1
    zipped = F.arrays_zip(F.slice("ts", 1, m), F.slice("ts", 2, m))
    bi = (
        toks.where(F.size("ts") >= 2)
        .select(F.explode(zipped).alias("g"))
        .select(F.col("g")["0"].alias("w1"), F.col("g")["1"].alias("w2"))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=True)
    )
    r = bi.groupBy("w1").agg(F.sum("c").alias("r1"))
    cc = bi.groupBy("w2").agg(F.sum("c").alias("c1"))
    nn = bi.agg(F.sum("c").alias("n"))
    j = (
        bi.where(F.col("c") >= 20)
        .join(r, "w1")
        .join(cc, "w2")
        .crossJoin(F.broadcast(nn))
    )
    k11 = F.col("c").cast("double")
    k12 = (F.col("r1") - F.col("c")).cast("double")
    k21 = (F.col("c1") - F.col("c")).cast("double")
    k22 = (F.col("n") - F.col("r1") - F.col("c1") + F.col("c")).cast(
        "double"
    )
    r1d = F.col("r1").cast("double")
    c1d = F.col("c1").cast("double")
    nd = F.col("n").cast("double")

    def xlogx(x):
        return F.when(x > 0, x * F.log(x)).otherwise(F.lit(0.0))

    llr = 2.0 * (
        xlogx(k11)
        + xlogx(k12)
        + xlogx(k21)
        + xlogx(k22)
        - xlogx(r1d)
        - xlogx(nd - r1d)
        - xlogx(c1d)
        - xlogx(nd - c1d)
        + xlogx(nd)
    )
    return j.select(
        F.concat_ws(" ", "w1", "w2").alias("bigram"),
        F.col("c").cast("long").alias("n_pair"),
        (F.round(llr, 6) + F.lit(0.0)).alias("llr"),
    )


def _bpe_round_sql(vin: str, tname: str, vout: str) -> str:
    """One unrolled BPE merge round as oracle CTE text: top pair of
    ``vin`` into ``tname``, merged vocabulary into ``vout``. The
    double-space symbol encoding makes replace() boundary-safe: words
    are ' s1  s2  ...  sn ' (single guard space at both ends, double
    between symbols), so the pattern ' a  b ' can neither match a
    symbol SUFFIX (no space before 'a') nor a PREFIX (no space after
    'b'), and consecutive merges still fire because each match
    re-emits its boundary spaces (' a  a  a  a ' -> ' aa  aa ',
    verified on both engines)."""
    return f"""
    p_{tname} AS (
        SELECT s[CAST(i AS INT)] AS a, s[CAST(i+1 AS INT)] AS b,
               CAST(SUM(cnt) AS BIGINT) AS pf
        FROM (
            SELECT string_split(trim(w), '  ') AS s, cnt,
                   unnest(generate_series(
                       1, len(string_split(trim(w), '  ')) - 1)) AS i
            FROM {vin}
        ) GROUP BY 1, 2
    ),
    {tname} AS MATERIALIZED (
        SELECT a, b, pf FROM p_{tname} ORDER BY pf DESC, a, b LIMIT 1
    ),
    {vout} AS MATERIALIZED (
        SELECT replace(w, ' '||a||'  '||b||' ', ' '||a||b||' ') AS w, cnt
        FROM {vin}, {tname}
    )"""


@query(
    "q_bpe_merges",
    oracle=f"""
    WITH wc AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents) t
      WHERE length(w) >= 2 GROUP BY w
    ),
    v0 AS MATERIALIZED (
      SELECT ' ' || array_to_string(string_split(w, ''), '  ') || ' ' AS w,
             cnt
      FROM wc
    ),{_bpe_round_sql('v0', 't1', 'v1')},{_bpe_round_sql('v1', 't2', 'v2')},{_bpe_round_sql('v2', 't3', 'v3')}
    SELECT CAST(1 AS INT) AS rnd, a AS left_sym, b AS right_sym,
           a || b AS merged, pf AS pair_freq FROM t1
    UNION ALL
    SELECT CAST(2 AS INT), a, b, a || b, pf FROM t2
    UNION ALL
    SELECT CAST(3 AS INT), a, b, a || b, pf FROM t3
    """,
)
def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THREE BPE merge rounds (Sennrich et al. 2016) — the actual
    tokenizer-training loop, not just q_bpe_pairs' single candidate
    round: per round, find the corpus-wide most frequent adjacent
    symbol pair (ties -> lexicographic) and merge it everywhere, so
    round 2 can pick a pair CONTAINING round 1's merged symbol.

    Scale shape: the corpus collapses to its word-frequency VOCABULARY
    once (the only corpus-sized shuffle, pinned); each round is then a
    vocabulary-sized pair aggregate whose 1-row top is COLLECTED (the
    round's training output — the bounded driver-materialization
    class) and re-applied as a literal string replace, so the
    vocabulary has exactly one consumer per round and the lineage is a
    linear chain of replace projections over the single pin — no
    per-round checkpoints, broadcasts, or joins; flat per round at
    any corpus size.

    Engine-exactness: symbols are encoded ' s1  s2  ...  sn ' (double
    space between, single guard space at the ends) so the merge is a
    plain boundary-safe replace() — no regex, no lookaround (RE2-safe)
    — and both engines replay the identical left-to-right
    non-overlapping scan; the oracle unrolls the three rounds as
    MATERIALIZED CTEs (the q_graph_pagerank unroll pattern). Integer
    frequencies everywhere; ties broken (freq DESC, a, b) identically.

    Cites the reference only for contrast: samply/fhir2sql has no text
    surface (src/main.rs is a 4-table sync daemon)."""
    docs = load(spark, sf_dir, "documents")
    words = docs.select(F.explode(F.split("text", " ")).alias("w")).where(
        F.length("w") >= 2
    )
    wc = words.groupBy("w").agg(F.count(F.lit(1)).alias("cnt"))
    v = wc.select(
        _bpe_sym_encode(F.col("w")).alias("w"), "cnt"
    ).localCheckpoint(eager=True)
    # r11: each round's 1-row top pair is COLLECTED (the bounded-
    # driver-materialization class — it IS the round's training
    # output) and re-applied as literal strings: the per-round top
    # checkpoint, the crossJoin broadcast builds, and the per-round
    # vocabulary re-checkpoints all disappear — with literal merges
    # the vocabulary has ONE consumer per round (the next pair scan),
    # so the lineage is a linear chain of vocabulary-sized replace
    # projections over the single initial pin (no shuffle re-run).
    # The final 3-row result is then a driver literal, identical
    # values/schema to the old union of per-round frames.
    rows = []
    for rnd in (1, 2, 3):
        top = _bpe_top_pair(v).collect()
        if not top:  # no mergeable pair left — later rounds are empty
            break
        a, b, freq = top[0]["a"], top[0]["b"], int(top[0]["pair_freq"])
        rows.append((rnd, a, b, a + b, freq))
        if rnd < 3:
            v = v.select(
                F.replace(
                    F.col("w"),
                    F.lit(f" {a}  {b} "),
                    F.lit(f" {a}{b} "),
                ).alias("w"),
                "cnt",
            )
    return arrow_frame(
        spark,
        "rnd int, left_sym string, right_sym string, merged string, "
        "pair_freq long",
        [list(zip(*rows))] if rows else [],
    )


@query(
    "q_tokens_fertility",
    oracle="""
    WITH t AS (
        SELECT lang,
               len(string_split(text, ' ')) AS ws,
               len(string_split(trim(regexp_replace(
                   regexp_replace(text, '([^\\w\\s])', ' \\1 ', 'g'),
                   '\\s+', ' ', 'g')), ' ')) AS bpe
        FROM documents
    )
    SELECT lang, CAST(SUM(ws) AS BIGINT) AS ws_tokens,
           CAST(SUM(bpe) AS BIGINT) AS bpe_ish_tokens,
           CAST(SUM(bpe) AS DOUBLE) / CAST(SUM(ws) AS DOUBLE)
               AS fertility
    FROM t GROUP BY lang
    """,
)
def q_tokens_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per language — BPE-ish pieces per
    whitespace word, THE standard multilingual-tokenizer health
    metric (a lang with fertility far above the corpus mean is being
    shredded into bytes and will train poorly; the number that drives
    vocab-size and byte-fallback decisions). Integer sums per lang
    (scan-side token counts, map-side combine, one 5-key exchange)
    and a single IEEE division — exact, no rounding. Reuses
    q_text_tokens' engine-verified regex pairing for the BPE proxy."""
    from fhir2sql_spark.operators import text as text_ops

    d = load(spark, sf_dir, "documents")
    per_doc = d.select(
        "lang",
        text_ops.token_count_ws(F.col("text")).alias("__ws"),
        text_ops.token_count_bpe_ish(F.col("text")).alias("__bpe"),
    )
    return per_doc.groupBy("lang").agg(
        F.sum("__ws").cast("long").alias("ws_tokens"),
        F.sum("__bpe").cast("long").alias("bpe_ish_tokens"),
        (
            F.sum("__bpe").cast("double") / F.sum("__ws").cast("double")
        ).alias("fertility"),
    )


@query(
    "q_text_ttr",
    oracle="""
    WITH u AS (
        SELECT lang,
               unnest(list_filter(string_split(text, ' '), x -> x <> ''))
                   AS tok
        FROM documents
    ),
    tc AS (SELECT lang, tok, COUNT(*) AS n FROM u GROUP BY 1, 2)
    SELECT lang,
           CAST(SUM(n) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_types,
           ROUND(CAST(COUNT(*) AS DOUBLE) / SUM(n), 6) AS ttr,
           CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_hapax,
           ROUND(CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 6) AS hapax_frac
    FROM tc GROUP BY lang
    """,
)
def q_text_ttr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language type-token ratio and hapax-legomenon fraction —
    the lexical-diversity pair every corpus health report carries next
    to Zipf/Heaps (q_tokens_zipf / q_vocab_growth): a shard whose TTR
    collapses is template spam; a hapax fraction spiking toward 1 is
    OCR noise or tokenizer shredding. Plan: token explode into a
    (lang, tok) count with map-side combine — the corpus collapses to
    its VOCABULARY in the first exchange (the q_bpe_pairs argument) —
    then an O(|vocab|) per-lang rollup; ratios are exact-integer IEEE
    divisions, 6-dp rounded."""
    from fhir2sql_spark.operators.text import tokens_portable

    d = load(spark, sf_dir, "documents")
    u = d.select(
        "lang",
        F.explode(tokens_portable(F.col("text"))).alias("tok"),
    ).where(F.col("tok") != "")
    tc = u.groupBy("lang", "tok").agg(F.count(F.lit(1)).alias("n"))
    return tc.groupBy("lang").agg(
        F.sum("n").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.round(
            F.count(F.lit(1)).cast("double") / F.sum("n").cast("double"), 6
        ).alias("ttr"),
        F.sum(F.when(F.col("n") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_hapax"),
        F.round(
            F.sum(F.when(F.col("n") == 1, 1).otherwise(0)).cast("double")
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("hapax_frac"),
    )


def _bpe_sym_encode(col: Column) -> Column:
    """The double-space symbol encoding q_bpe_merges trains over:
    ' s1  s2  ...  sn ' (single guard space at the ends, double
    between symbols) — boundary-safe for plain replace() merges."""
    return F.concat(F.lit(" "), F.array_join(F.split(col, ""), "  "), F.lit(" "))


def _bpe_top_pair(v: DataFrame) -> DataFrame:
    """Corpus-wide most frequent adjacent symbol pair of vocabulary
    ``v`` (w = encoded word, cnt = word frequency); ties broken
    (freq DESC, a, b) — identical to q_bpe_merges' per-round top."""
    syms = F.split(F.trim(F.col("w")), "  ")
    pairs = (
        v.select(syms.alias("__s"), "cnt")
        .where(F.size("__s") >= 2)
        .select(
            F.explode(
                F.arrays_zip(
                    F.slice("__s", 1, F.size("__s") - 1),
                    F.slice("__s", 2, F.size("__s") - 1),
                )
            ).alias("__p"),
            "cnt",
        )
        .select(F.col("__p.0").alias("a"), F.col("__p.1").alias("b"), "cnt")
    )
    return (
        pairs.groupBy("a", "b")
        .agg(F.sum("cnt").cast("long").alias("pair_freq"))
        .orderBy(F.desc("pair_freq"), "a", "b")
        .limit(1)
    )


def _bpe_encode_map(docs: DataFrame) -> DataFrame:
    """Distinct-word -> trained-BPE pieces lookup table: train the
    three q_bpe_merges rounds on the word-frequency vocabulary (the
    only corpus-sized exchange), then apply the merge list IN ORDER to
    every distinct word. Returns (w, pw = space-joined piece string,
    np = piece count) — vocabulary-sized, each word encoded exactly
    once no matter how often it occurs in the corpus."""
    words = docs.select(F.explode(F.split("text", " ")).alias("w"))
    wc = (
        words.where(F.length("w") >= 2)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    v = wc.select(_bpe_sym_encode(F.col("w")).alias("w"), "cnt").localCheckpoint(
        eager=True
    )
    emap = (
        words.where(F.col("w") != "")
        .distinct()
        .select("w", _bpe_sym_encode(F.col("w")).alias("e"))
    )
    # r11: the 1-row top pair is COLLECTED per round and re-applied as
    # literal replaces (see q_bpe_merges) — the encode map becomes one
    # projection chain with no joins/broadcasts, and the vocabulary
    # needs no per-round checkpoints (single consumer per round over
    # the initial pin). An exhausted pair table mirrors the old
    # crossJoin-with-empty semantics: the encode map empties (and the
    # oracle's ``FROM e_k, t_k`` does the same).
    for rnd in (1, 2, 3):
        top = _bpe_top_pair(v).collect()
        if not top:
            return emap.where(F.lit(False)).select(
                "w", F.lit("").alias("pw"), F.lit(0).alias("np")
            )
        a, b = top[0]["a"], top[0]["b"]
        merge = (F.lit(f" {a}  {b} "), F.lit(f" {a}{b} "))
        emap = emap.select("w", F.replace(F.col("e"), *merge).alias("e"))
        if rnd < 3:
            v = v.select(
                F.replace(F.col("w"), *merge).alias("w"), "cnt"
            )
    syms = F.split(F.trim(F.col("e")), "  ")
    return emap.select(
        "w",
        F.array_join(syms, " ").alias("pw"),
        F.size(syms).alias("np"),
    )


# Shared oracle CTE block: q_bpe_merges' training unroll (identical
# text, so the merge list is pinned to the already-verified query)
# plus the encode chain over the distinct-word table.
_BPE_ENCODE_CTES = f"""
    wc AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents) t
      WHERE length(w) >= 2 GROUP BY w
    ),
    v0 AS MATERIALIZED (
      SELECT ' ' || array_to_string(string_split(w, ''), '  ') || ' ' AS w,
             cnt
      FROM wc
    ),{_bpe_round_sql('v0', 't1', 'v1')},{_bpe_round_sql('v1', 't2', 'v2')},{_bpe_round_sql('v2', 't3', 'v3')},
    dw AS (
      SELECT DISTINCT w
      FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents) t
      WHERE w <> ''
    ),
    e0 AS (
      SELECT w, ' ' || array_to_string(string_split(w, ''), '  ') || ' ' AS e
      FROM dw
    ),
    e1 AS MATERIALIZED (
      SELECT w, replace(e, ' '||t1.a||'  '||t1.b||' ', ' '||t1.a||t1.b||' ')
                AS e
      FROM e0, t1
    ),
    e2 AS MATERIALIZED (
      SELECT w, replace(e, ' '||t2.a||'  '||t2.b||' ', ' '||t2.a||t2.b||' ')
                AS e
      FROM e1, t2
    ),
    e3 AS MATERIALIZED (
      SELECT w, replace(e, ' '||t3.a||'  '||t3.b||' ', ' '||t3.a||t3.b||' ')
                AS e
      FROM e2, t3
    ),
    emap AS (
      SELECT w,
             array_to_string(string_split(trim(e), '  '), ' ') AS pw,
             len(string_split(trim(e), '  ')) AS np
      FROM e3
    )"""


@query(
    "q_bpe_encode",
    oracle=f"""
    WITH {_BPE_ENCODE_CTES},
    dwords AS (
      SELECT doc_id, i AS pos, s[CAST(i AS INT)] AS w
      FROM (
        SELECT doc_id, string_split(text, ' ') AS s,
               unnest(generate_series(
                   1, len(string_split(text, ' ')))) AS i
        FROM documents
      )
    )
    SELECT d.doc_id,
           CAST(SUM(m.np) AS BIGINT) AS n_pieces,
           md5(string_agg(m.pw, ' ' ORDER BY d.pos)) AS piece_digest
    FROM dwords d JOIN emap m ON d.w = m.w
    WHERE d.w <> ''
    GROUP BY d.doc_id
    """,
)
def q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE ENCODER (VERDICT r7 #3): apply q_bpe_merges' trained merge
    list to encode every document into token pieces — the step between
    "mine the tokenizer" and every downstream token count the pipeline
    reports. Emits per doc the piece count and an md5 digest of the
    ordered piece stream, so the full encoding (piece identity AND
    order) is hash-pinned, not just the count.

    Scale shape: training collapses the corpus to its word-frequency
    vocabulary once (the only training-side corpus exchange); the
    merge list is then applied to the DISTINCT-WORD table — each word
    encoded exactly once regardless of its corpus frequency — and the
    exploded word stream joins that vocabulary-sized map (word-keyed
    shuffle join) before one doc_id-keyed aggregate. At 100 TB that is
    two corpus-sized exchanges (word join + doc rollup); everything
    merge-related is vocabulary-sized with 1-row broadcast tops.

    Engine-exactness: the double-space symbol encoding and plain
    boundary-safe replace() are the proven q_bpe_merges mechanics; the
    oracle reuses that query's training CTEs VERBATIM (same merge
    list by construction) and unrolls the 3-round encode chain as
    MATERIALIZED CTEs. The digest orders pieces by word position —
    unique per doc, so the string_agg/array_sort orders agree.

    Cites the reference only for contrast: samply/fhir2sql has no
    text surface (src/main.rs is a 4-table sync daemon)."""
    docs = load(spark, sf_dir, "documents")
    emap = _bpe_encode_map(docs)
    wpos = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "w")
    ).where(F.col("w") != "")
    # SHUFFLE_HASH with the vocabulary as build side: Catalyst's size
    # estimate under-guesses the exploded token stream at fixture
    # scale and BROADCASTS THE CORPUS (fatal at 100 TB where the
    # stream is the dataset and the vocab can itself be too large to
    # broadcast); the hint pins the documented word-keyed shuffle
    # join with the vocab-sized map as the per-partition hash build
    return (
        wpos.join(emap.hint("shuffle_hash"), "w")
        .groupBy("doc_id")
        .agg(
            F.sum("np").cast("long").alias("n_pieces"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("pos", "pw"))),
                        lambda x: x["pw"],
                    ),
                    " ",
                )
            ).alias("piece_digest"),
        )
    )


@query(
    "q_tokens_fertility_bpe",
    oracle=f"""
    WITH {_BPE_ENCODE_CTES},
    lw AS (
      SELECT lang, unnest(string_split(text, ' ')) AS w FROM documents
    )
    SELECT l.lang,
           CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(m.np) AS BIGINT) AS bpe_tokens,
           CAST(SUM(m.np) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
               AS fertility
    FROM lw l JOIN emap m ON l.w = m.w
    WHERE l.w <> ''
    GROUP BY l.lang
    """,
)
def q_tokens_fertility_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility measured with the REAL trained encoder —
    q_tokens_fertility's regex proxy replaced by q_bpe_encode's
    pieces-per-word (VERDICT r7 #3's "real-encoder twin"): per
    language, words, trained-BPE pieces, and pieces/word. With only 3
    merge rounds fertility sits just under chars/word; the VALUE of
    the twin is that the number now moves when the tokenizer does
    (more merges -> lower fertility), which the proxy never could.
    Unlike q_bpe_encode (whose per-doc digest forces a corpus-sized
    word join), fertility is frequency algebra: the token stream
    collapses map-side to (lang, word, count) and the encoder join +
    rollup run on vocabulary-sized input."""
    docs = load(spark, sf_dir, "documents")
    emap = _bpe_encode_map(docs)
    lw = docs.select(
        "lang", F.explode(F.split("text", " ")).alias("w")
    ).where(F.col("w") != "")
    # collapse the token stream to per-(lang, word) counts FIRST — the
    # q_bpe_pairs argument: the aggregate is map-side combined, so the
    # join and everything after it is VOCABULARY-sized and the corpus
    # token stream never crosses the wire (round-8 A/B at sf100: the
    # raw-token shuffle-hash join cost 76 s; this form is flat).
    # shuffle_hash keeps the corpus-broadcast hazard pinned away.
    lwc = lw.groupBy("lang", "w").agg(F.count(F.lit(1)).alias("cnt"))
    return (
        lwc.join(emap.hint("shuffle_hash"), "w")
        .groupBy("lang")
        .agg(
            F.sum("cnt").cast("long").alias("n_words"),
            F.sum(F.col("cnt") * F.col("np")).cast("long").alias(
                "bpe_tokens"
            ),
            (
                F.sum(F.col("cnt") * F.col("np")).cast("double")
                / F.sum("cnt").cast("double")
            ).alias("fertility"),
        )
    )


_UNIGRAM_SEED_K = 256
_UNIGRAM_PIECE_LENS = (2, 3, 4)


def _unigram_pieces(wc: DataFrame) -> DataFrame:
    """Seed vocabulary for the unigram-LM queries: the top-256
    weighted substrings (lengths 2-4) of the word-frequency dict —
    bounded (256 rows, eagerly checkpointed: the matcher broadcast
    and the final seed_cnt join both consume it), total-ordered
    (seed_cnt DESC, piece) so the K boundary is deterministic under
    ties. Input and output are vocabulary-sized."""
    subs = (
        wc.select(
            "w",
            "cnt",
            F.explode(
                F.array(*[F.lit(x) for x in _UNIGRAM_PIECE_LENS])
            ).alias("L"),
        )
        .where(F.length("w") >= F.col("L"))
        .select(
            "w",
            "cnt",
            "L",
            F.explode(
                F.sequence(F.lit(1), F.length("w") - F.col("L") + 1)
            ).alias("i"),
        )
        .select(
            F.col("w")
            .substr(F.col("i").cast("int"), F.col("L").cast("int"))
            .alias("piece"),
            "cnt",
        )
        .groupBy("piece")
        .agg(F.sum("cnt").cast("long").alias("seed_cnt"))
    )
    return (
        subs.orderBy(F.desc("seed_cnt"), "piece")
        .limit(_UNIGRAM_SEED_K)
        .localCheckpoint(eager=True)
    )


# Shared oracle CTE block for the unigram-LM pair: word-frequency
# dict, seed-piece mining (top-256, total-ordered K boundary), the
# leftmost-longest step table, and the greedy cut chain (recursive
# chain-follow — the q_pack_sequences_bfd precedent). Verbatim-shared
# so both queries provably score/segment against the identical seed
# vocabulary (the _BPE_ENCODE_CTES / _LM_CTES discipline).
_UNIGRAM_CTES = """wc AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents) t
      WHERE w <> '' GROUP BY w
    ),
    subs AS (
      SELECT substr(w, CAST(i AS INT), CAST(L AS INT)) AS piece,
             CAST(SUM(cnt) AS BIGINT) AS seed_cnt
      FROM wc,
           (VALUES (2), (3), (4)) ls(L),
           unnest(generate_series(1, length(w) - L + 1)) AS g(i)
      GROUP BY piece
    ),
    pieces AS MATERIALIZED (
      SELECT piece, seed_cnt, length(piece) AS plen
      FROM subs ORDER BY seed_cnt DESC, piece LIMIT 256
    ),
    pos AS (
      SELECT w, CAST(i AS BIGINT) AS i
      FROM wc, unnest(generate_series(1, length(w))) AS g(i)
    ),
    ml AS (
      SELECT p.w, p.i, MAX(pc.plen) AS ml
      FROM pos p JOIN pieces pc
        ON p.i + pc.plen - 1 <= length(p.w)
       AND substr(p.w, CAST(p.i AS INT), CAST(pc.plen AS INT)) = pc.piece
      GROUP BY p.w, p.i
    ),
    step AS MATERIALIZED (
      SELECT p.w, p.i, p.i + COALESCE(m.ml, 1) AS j
      FROM pos p LEFT JOIN ml m ON p.w = m.w AND p.i = m.i
    ),
    cuts AS (
      SELECT w, CAST(1 AS BIGINT) AS i FROM wc
      UNION ALL
      SELECT s.w, CAST(s.j AS BIGINT)
      FROM cuts c JOIN step s ON s.w = c.w AND s.i = c.i
      WHERE s.j <= length(s.w)
    ),
    seg AS (
      SELECT c.w,
             substr(c.w, CAST(c.i AS INT), CAST(s.j - c.i AS INT)) AS piece,
             s.j - c.i AS plen
      FROM cuts c JOIN step s ON s.w = c.w AND s.i = c.i
    )"""


@query(
    "q_vocab_unigram_em",
    oracle=f"""
    WITH RECURSIVE {_UNIGRAM_CTES},
    m AS (
      SELECT piece, CAST(SUM(cnt) AS BIGINT) AS em_cnt
      FROM seg JOIN wc USING (w)
      WHERE plen >= 2
      GROUP BY piece
    ),
    tot AS (SELECT CAST(SUM(em_cnt) AS BIGINT) AS tot FROM m)
    SELECT m.piece, p.seed_cnt, m.em_cnt,
           CAST(length(bin(m.em_cnt)) AS BIGINT) AS score_bits,
           ROUND(CAST(m.em_cnt AS DOUBLE) / CAST(t.tot AS DOUBLE), 6)
               AS em_share
    FROM m JOIN pieces p USING (piece), tot t
    ORDER BY m.em_cnt DESC, m.piece
    LIMIT 30
    """,
)
def q_vocab_unigram_em(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One hard-EM step of a SentencePiece-style unigram subword LM
    (Kudo 2018): seed a bounded candidate vocabulary from weighted
    substring counts, E-step-segment every word, M-step-recount the
    pieces — the new counts ARE the next iteration's scores (emitted
    bit-quantized plus as an exact share).

    Deterministic E-step: leftmost-longest match (the WordPiece
    inference rule) stands in for Viterbi — the greedy path is unique
    (no float scores, no tie-break), so the whole step is
    engine-replicable bit-exactly, where a true Viterbi argmax would
    need a tie-break contract on equal path scores. The M-step
    algebra (count → normalize) is identical either way.

    Scale shape: the corpus collapses to its word-frequency
    VOCABULARY in the first aggregate (the only corpus-sized
    exchange, map-side combined — the q_bpe_pairs argument); seed
    mining explodes vocabulary-sized input; the segmentation is
    operators/text.py::greedy_segment_cuts — a per-character step
    table against the broadcast 256-piece vocab, then pointer
    doubling (ceil(log2(maxlen)) rounds of (w, i)-keyed small joins)
    instead of a per-word sequential walk; the M-step is one
    vocabulary-sized join + aggregate. Top-k never plans a global
    sort (TakeOrderedAndProject).

    The oracle replays the step table relationally and follows the
    cut chain with a recursive CTE (the q_pack_sequences_bfd
    precedent); leftmost-longest uniqueness is what makes the two
    formulations provably identical.

    Cites the reference only for contrast: samply/fhir2sql
    (src/main.rs, a 4-table sync daemon) has no text surface."""
    docs = load(spark, sf_dir, "documents")
    words = docs.select(F.explode(F.split("text", " ")).alias("w")).where(
        F.col("w") != ""
    )
    # three consumers (seed mining, segmentation, M-step weights):
    # pin the vocabulary once (the q_text_llr lesson)
    wc = (
        words.groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .localCheckpoint(eager=True)
    )
    pieces = _unigram_pieces(wc)
    from fhir2sql_spark.operators.text import greedy_segment_cuts

    cuts = greedy_segment_cuts(wc.select("w"), pieces, _UNIGRAM_PIECE_LENS)
    # r11: m is bounded (<= 256 candidate pieces) but consumed twice
    # (the total aggregate + the final join) — unpinned, each consumer
    # re-ran the whole cut-chain join + M-step aggregate.
    m = (
        cuts.where(F.col("plen") >= 2)
        .join(wc, "w")
        .groupBy("piece")
        .agg(F.sum("cnt").cast("long").alias("em_cnt"))
        .localCheckpoint(eager=True)
    )
    tot = m.agg(F.sum("em_cnt").cast("long").alias("__tot"))
    return (
        m.join(F.broadcast(pieces.select("piece", "seed_cnt")), "piece")
        .crossJoin(F.broadcast(tot))
        .select(
            "piece",
            "seed_cnt",
            "em_cnt",
            F.length(F.bin(F.col("em_cnt"))).cast("long").alias(
                "score_bits"
            ),
            F.round(
                F.col("em_cnt").cast("double")
                / F.col("__tot").cast("double"),
                6,
            ).alias("em_share"),
        )
        .orderBy(F.desc("em_cnt"), "piece")
        .limit(30)
    )


@query(
    "q_vocab_unigram_loss",
    oracle=f"""
    WITH RECURSIVE {_UNIGRAM_CTES},
    edges AS (
      SELECT p.w, p.i AS s, pc.plen AS L,
             CAST(length(bin(pc.seed_cnt)) AS BIGINT) AS wgt
      FROM pos p JOIN pieces pc
        ON p.i + pc.plen - 1 <= length(p.w)
       AND substr(p.w, CAST(p.i AS INT), CAST(pc.plen AS INT)) = pc.piece
    ),
    dp AS (
      SELECT w, CAST(0 AS BIGINT) AS t,
             [CAST(0 AS BIGINT)] AS best
      FROM wc
      UNION ALL
      SELECT d.w, d.t + 1,
             list_append(d.best, GREATEST(
               list_extract(d.best, CAST(d.t + 1 AS INT)),
               COALESCE(e2.wgt + list_extract(d.best, CAST(d.t AS INT)),
                        CAST(-1 AS BIGINT)),
               COALESCE(e3.wgt + list_extract(d.best, CAST(d.t - 1 AS INT)),
                        CAST(-1 AS BIGINT)),
               COALESCE(e4.wgt + list_extract(d.best, CAST(d.t - 2 AS INT)),
                        CAST(-1 AS BIGINT))
             ))
      FROM dp d
      LEFT JOIN edges e2 ON e2.w = d.w AND e2.L = 2 AND e2.s = d.t
      LEFT JOIN edges e3 ON e3.w = d.w AND e3.L = 3 AND e3.s = d.t - 1
      LEFT JOIN edges e4 ON e4.w = d.w AND e4.L = 4 AND e4.s = d.t - 2
      WHERE d.t < length(d.w)
    ),
    vitb AS (
      SELECT w, list_extract(best, CAST(length(w) + 1 AS INT)) AS vbits
      FROM dp WHERE t = length(w)
    ),
    gb AS (
      SELECT s.w,
             CAST(SUM(CASE WHEN s.plen >= 2
                      THEN length(bin(p.seed_cnt)) ELSE 0 END) AS BIGINT)
                 AS gbits
      FROM seg s LEFT JOIN pieces p USING (piece)
      GROUP BY s.w
    ),
    lw AS (
      SELECT lang, w, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM (SELECT lang, unnest(string_split(text, ' ')) AS w
            FROM documents) t
      WHERE w <> '' GROUP BY lang, w
    )
    SELECT l.lang,
           CAST(SUM(l.cnt) AS BIGINT) AS n_words,
           CAST(SUM(l.cnt * v.vbits) AS BIGINT) AS viterbi_bits,
           CAST(SUM(l.cnt * g.gbits) AS BIGINT) AS greedy_bits,
           ROUND(CAST(SUM(l.cnt * g.gbits) AS DOUBLE)
                 / CAST(SUM(l.cnt * v.vbits) AS DOUBLE), 6)
               AS greedy_opt_ratio
    FROM lw l JOIN vitb v USING (w) JOIN gb g USING (w)
    GROUP BY l.lang
    """,
)
def q_vocab_unigram_loss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM segmentation loss per language, scored BOTH ways:
    the Viterbi-OPTIMAL total piece score (the true unigram E-step
    objective, Kudo 2018) and the greedy leftmost-longest score that
    q_vocab_unigram_em's hard-EM step actually uses — their ratio is
    the segmenter's optimality gap, the diagnostic that says when the
    cheap deterministic E-step is good enough and when a lattice
    Viterbi pass would change the fit.

    Determinism without a tie-break contract: piece scores are
    bit-quantized log counts (exact BIGINTs), and only the max path
    VALUE is emitted — the maximum is unique even when several argmax
    segmentations tie, which is exactly what makes true Viterbi
    engine-replicable here (emitting an argmax path would need an
    order contract; q_vocab_unigram_em's greedy cut chain covers the
    path-valued use).

    Scale shape: one corpus-sized (lang, word) aggregate (map-side
    combined; the word-frequency dict derives from it vocabulary-
    sized); the Viterbi score is operators/text.py::viterbi_best_bits
    — max-plus POINTER DOUBLING over the word's position lattice
    (ceil(log2(maxlen)) rounds of (w, pos)-keyed joins + groupBy max,
    the tropical-semiring analogue of greedy_segment_cuts' doubling)
    instead of a per-word sequential DP; greedy bits reuse the greedy
    cut chain. Everything after the first aggregate is
    vocabulary-sized. The oracle replays the lattice with a
    list-state recursive CTE (the q_pack_sequences_bfd pattern):
    best[t] = max over piece lengths of best[t-L] + bits(piece),
    sequential per word, identical integer algebra.

    Cites the reference only for contrast: samply/fhir2sql
    (src/main.rs, a 4-table sync daemon) has no text surface."""
    from fhir2sql_spark.operators.text import (
        greedy_segment_cuts,
        viterbi_best_bits,
    )

    docs = load(spark, sf_dir, "documents")
    # the one corpus-sized exchange: (lang, word) counts, map-side
    # combined; two consumers (wc derivation + final rollup)
    lw = (
        docs.select(
            "lang", F.explode(F.split("text", " ")).alias("w")
        )
        .where(F.col("w") != "")
        .groupBy("lang", "w")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .localCheckpoint(eager=True)
    )
    # vocabulary-sized; three consumers (seed mining + two segmenters)
    wc = (
        lw.groupBy("w")
        .agg(F.sum("cnt").cast("long").alias("cnt"))
        .localCheckpoint(eager=True)
    )
    pieces = _unigram_pieces(wc)
    scored = pieces.select(
        "piece",
        F.length(F.bin(F.col("seed_cnt"))).cast("long").alias("wgt"),
    )
    vit = viterbi_best_bits(wc.select("w"), scored, _UNIGRAM_PIECE_LENS)
    gb = (
        greedy_segment_cuts(wc.select("w"), pieces, _UNIGRAM_PIECE_LENS)
        .join(F.broadcast(scored), "piece", "left")
        .groupBy("w")
        .agg(
            F.sum(
                F.when(F.col("plen") >= 2, F.col("wgt")).otherwise(0)
            )
            .cast("long")
            .alias("gbits")
        )
    )
    return (
        lw.join(vit, "w")
        .join(gb, "w")
        .groupBy("lang")
        .agg(
            F.sum("cnt").cast("long").alias("n_words"),
            F.sum(F.col("cnt") * F.col("vbits"))
            .cast("long")
            .alias("viterbi_bits"),
            F.sum(F.col("cnt") * F.col("gbits"))
            .cast("long")
            .alias("greedy_bits"),
            F.round(
                F.sum(F.col("cnt") * F.col("gbits")).cast("double")
                / F.sum(F.col("cnt") * F.col("vbits")).cast("double"),
                6,
            ).alias("greedy_opt_ratio"),
        )
    )
