"""Text-analysis operators for training-data pipelines.

All operators are pure JVM-side column expressions (no Python in the
hot path): language-ID by stopword-hit ratio, quality scoring from
length/punctuation/stopword features, token counting (whitespace and a
BPE-ish regex proxy), and rolling-hash document fingerprints.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Tiny per-language marker lexicons for the heuristic language ID.
# (The fixture's `lang` column is ground truth; the heuristic is the
# operator under test, scored against it in tests.)
_MARKERS = {
    "en": ["the", "and", "of", "to", "a"],
    "de": ["der", "die", "und", "das", "ist"],
    "fr": ["le", "la", "et", "les", "des"],
    "es": ["el", "la", "que", "de", "los"],
    "it": ["il", "la", "che", "di", "per"],
}


def tokens(col: Column) -> Column:
    return F.split(col, r"\s+")


def tokens_portable(col: Column) -> Column:
    """Literal single-space split — byte-identical to DuckDB's
    ``string_split(text, ' ')`` (KEEPS empty tokens; a run of n spaces
    yields n-1 empty tokens between words, and tabs/newlines stay
    inside tokens). Exact-oracle-gated consumers (phrase_hits,
    hashed_ngram_score/_scores) must tokenize with THIS, not
    :func:`tokens`: ``\\s+`` merges runs and crosses newlines, so any
    document with consecutive spaces or non-space whitespace would
    tokenize differently on the two engines and silently fail the hash
    gate (ADVICE r5 — previously the match relied on a fixture-only
    single-space invariant)."""
    return F.split(col, " ")


def token_count_ws(col: Column) -> Column:
    """Whitespace token count, defined as ``len(string_split(text, ' '))``
    — the literal single-space split (ADVICE r6: every exact-oracle
    consumer of this count — q_text_tokens, q_tokens_fertility, the
    quality_features family — pairs it with DuckDB's
    ``len(string_split(text, ' '))``, so the former ``\\s+`` form
    diverged on consecutive spaces or tab/newline whitespace and only
    matched through a fixture-only single-space invariant). Counts
    empty tokens like string_split does; use
    :func:`nonempty_token_count` for the non-empty variant."""
    return F.size(tokens_portable(col))


def nonempty_token_count(col: Column) -> Column:
    """Count of NON-EMPTY literal-space tokens as one compiled
    regexp_count: maximal non-space runs are exactly string_split's
    non-empty elements, so this equals
    ``size(filter(split(col, ' '), t -> t <> ''))`` — but the HOF
    filter evaluates its lambda interpreted per TOKEN (the round-6
    audit rule), while this is a single codegen expression. Shared by
    the bm25 doclen, PMI margin, and temperature-mixture token
    counts; count equivalence is property-tested."""
    return F.regexp_count(col, F.lit("[^ ]+"))


def token_count_bpe_ish(col: Column) -> Column:
    """BPE-ish proxy: count word pieces + punctuation as separate
    tokens (regexp-based, mirrors a byte-pair tokenizer's order of
    magnitude without a vocab)."""
    pieces = F.regexp_replace(col, r"([^\w\s])", r" $1 ")
    collapsed = F.trim(F.regexp_replace(pieces, r"\s+", " "))
    return F.when(collapsed == "", 0).otherwise(F.size(F.split(collapsed, " ")))


def marker_hits(col: Column, lang: str) -> Column:
    """Marker-lexicon hit count as ONE compiled regexp_count: a
    zero-width lookahead over the space-padded lowered text counts
    every token position whose token is in the marker set — identical
    to filtering the literal-space token array (the phrase_hits
    boundary argument, single-word case), but codegen instead of an
    interpreted HOF filter per token (the round-6 audit rule: any
    HOF lambda running per token of a corpus column is a 10-100x
    hazard; langid's five per-language filters were the suite's
    largest remaining instance — q_text_langid_confusion measured
    217 s -> 17.9 s at sf100, 5 M docs; at <= sf10 the interpreted
    cost hides inside job overhead)."""
    alt = "|".join(_MARKERS[lang])
    return F.regexp_count(
        F.concat(F.lit(" "), F.lower(col), F.lit(" ")),
        F.lit(f"(?= ({alt}) )"),
    )


def lang_id_scores(col: Column) -> Column:
    """argmax language from per-language marker regexp_counts over the
    RAW text column (round-6 form: one compiled zero-width regex per
    language replaces five interpreted HOF filters — marker_hits'
    docstring has the equivalence and cost argument; measured
    217 s → 17.9 s at sf100 for q_text_langid_confusion)."""
    padded = F.concat(F.lit(" "), F.lower(col), F.lit(" "))
    scored = F.array(
        *[
            F.struct(
                F.regexp_count(
                    padded,
                    F.lit("(?= (" + "|".join(_MARKERS[lang]) + ") )"),
                ).alias("hits"),
                F.lit(-i).alias("neg_rank"),
                F.lit(lang).alias("lang"),
            )
            for i, lang in enumerate(sorted(_MARKERS))
        ]
    )
    best = F.array_max(scored)
    return F.when(best.getField("hits") > 0, best.getField("lang")).otherwise(
        F.lit("und")
    )


def lang_id_from_tokens(toks: Column) -> Column:
    """lang_id over a pre-tokenized LOWERCASED token array (the HOF
    form — kept for array-typed callers and as the semantic reference
    for lang_id_scores, which all corpus-scan consumers should prefer;
    equality of the two forms is property-tested).

    Callers should project the token array into its own column first
    (see q_text_langid): higher-order functions are CodegenFallback,
    so Spark's subexpression elimination never fires inside them — an
    inline `split(lower(text))` child would be re-evaluated once per
    LANGUAGE (5× the tokenization work; measured 12.6 s → 1.7 s at
    sf1 after hoisting)."""
    scored = F.array(
        *[
            F.struct(
                F.size(
                    F.filter(toks, lambda t: t.isin(*_MARKERS[lang]))
                ).alias("hits"),
                # negated rank of the sorted code list: on tied hits,
                # array_max takes the highest neg_rank = the
                # lexicographically SMALLEST lang — matching the
                # oracle's cascading CASE. (A NULL pad field, used
                # before, does NOT invert string ordering: max would
                # pick the LARGEST code on ties.)
                F.lit(-i).alias("neg_rank"),
                F.lit(lang).alias("lang"),
            )
            for i, lang in enumerate(sorted(_MARKERS))
        ]
    )
    best = F.array_max(scored)
    return F.when(best.getField("hits") > 0, best.getField("lang")).otherwise(
        F.lit("und")
    )


def lang_id(col: Column) -> Column:
    """Pick the language whose markers hit most (ties: lexicographic
    language code). Returns 'und' when nothing hits. Column-level
    convenience; prefer lang_id_from_tokens over a hoisted projection
    in scans (docstring there)."""
    return lang_id_from_tokens(tokens(F.lower(col)))


def quality_features(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Length / punctuation-ratio / stopword-ratio quality features +
    a [0,1] score. Deterministic integer/ratio math."""
    c = F.col(text_col)
    n_chars = F.length(c)
    n_tokens = token_count_ws(c)
    n_punct = n_chars - F.length(F.regexp_replace(c, r"[^\w\s]", ""))
    en_hits = marker_hits(c, "en")
    punct_ratio = n_punct.cast("double") / F.greatest(n_chars, F.lit(1)).cast("double")
    stop_ratio = en_hits.cast("double") / F.greatest(n_tokens, F.lit(1)).cast("double")
    mean_tok_len = n_chars.cast("double") / F.greatest(n_tokens, F.lit(1)).cast("double")
    score = (
        F.when(n_tokens >= 10, F.lit(0.4)).otherwise(F.lit(0.0))
        + F.when((mean_tok_len >= 3) & (mean_tok_len <= 12), F.lit(0.3)).otherwise(
            F.lit(0.0)
        )
        + F.when(punct_ratio <= 0.1, F.lit(0.3)).otherwise(F.lit(0.0))
    )
    return docs.select(
        "doc_id",
        n_chars.alias("n_chars_m"),
        n_tokens.alias("n_tokens"),
        n_punct.alias("n_punct"),
        F.round(punct_ratio, 6).alias("punct_ratio"),
        F.round(stop_ratio, 6).alias("stop_ratio"),
        F.round(mean_tok_len, 6).alias("mean_tok_len"),
        F.round(score, 1).alias("quality_score"),
    )


def repetition_features(
    docs: DataFrame, n: int = 3, text_col: str = "text"
) -> DataFrame:
    """N-gram repetition ratio — the standard "loopy text" quality
    filter (boilerplate, keyboard mash, degenerate generations repeat
    n-grams far above natural-text rates).

    rep_ratio = (total n-grams - distinct n-grams) / total n-grams,
    computed per document entirely JVM-side (array transform + size +
    array_distinct): zero shuffles, pipelines with the parquet scan.
    Docs shorter than n words carry no signal and are filtered (also
    guards sequence()'s descending-range behavior for start > stop).

    The gram array is `arrays_zip` of n shifted slices — no
    transform() lambda (HOF lambdas evaluate interpreted per element;
    see operators/dedup.py shingles) and no string concat at all:
    struct equality is element-wise, so `array_distinct` over the
    zipped struct array counts distinct n-grams directly."""
    toked = docs.select(
        "doc_id", F.split(F.col(text_col), " ").alias("__toks")
    ).where(F.size("__toks") >= n)
    m = F.size("__toks") - (n - 1)
    grams = F.arrays_zip(*[F.slice("__toks", i + 1, m) for i in range(n)])
    sized = toked.select("doc_id", grams.alias("__grams")).select(
        "doc_id",
        F.size("__grams").alias("n_grams"),
        F.size(F.array_distinct("__grams")).alias("n_distinct"),
    )
    ratio = (F.col("n_grams") - F.col("n_distinct")).cast("double") / F.col(
        "n_grams"
    ).cast("double")
    return sized.select(
        "doc_id",
        "n_grams",
        "n_distinct",
        F.round(ratio, 6).alias("rep_ratio"),
        (ratio > 0.1).alias("is_repetitive"),
    )


# PII patterns kept inside the Java-regex/RE2 common subset (explicit
# character classes, bounded quantifiers — no backrefs, no lookaround).
EMAIL_RE = "[a-zA-Z0-9._]+@[a-zA-Z0-9.]+[a-zA-Z0-9]"
PHONE_RE = "[0-9]{3}-[0-9]{4}"


def redact_pii(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """PII scrubbing: replace email/phone matches with typed tags and
    count what was removed. Pure regexp_replace / regexp_extract_all —
    JVM-side, no shuffle, safe to pipeline ahead of tokenization."""
    c = F.col(text_col)
    redacted = F.regexp_replace(
        F.regexp_replace(c, EMAIL_RE, "<EMAIL>"), PHONE_RE, "<PHONE>"
    )
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all(c, F.lit(EMAIL_RE), F.lit(0))).alias("n_emails"),
        F.size(F.regexp_extract_all(c, F.lit(PHONE_RE), F.lit(0))).alias("n_phones"),
        redacted.alias("redacted"),
    )


def fingerprint(col: Column, prime: int = 31, mod: int = (1 << 31) - 1) -> Column:
    """Polynomial rolling hash over characters, mod 2^31-1.

    Expressible in both engines (aggregate fold in Spark, list_reduce-
    free running form in SQL) — used as the oracle-checkable document
    fingerprint. Fold order is left-to-right, deterministic."""
    chars = F.split(col, "")
    return F.aggregate(
        chars,
        F.lit(0).cast("long"),
        lambda acc, ch: (acc * prime + F.ascii(ch)) % mod,
    )


def exact_heavy_hitters(
    tokens: DataFrame, threshold: int, token_col: str = "token"
) -> DataFrame:
    """EXACT heavy hitters over a token stream without shuffling the
    long tail — the two-phase 100 TB shape (q_tokens_heavy_hitters):

    1. candidates, map-side: each partition counts its own tokens in
       one Arrow pass and emits only those with local count >=
       ceil(threshold / P). Pigeonhole: a token with global count >=
       threshold must reach that bar in >= 1 of the P partitions, so
       there are NO false negatives; the long tail never leaves its
       partition.
    2. exact verification of the (tiny) candidate set: broadcast
       semi-join + one hash agg; the shuffle carries at most
       |candidates| x P partial rows.

    Returns (token, n) with n >= threshold — equal row-for-row to the
    naive groupBy-HAVING form (property-tested in
    tests/test_llm_ops.py against random corpora)."""
    import pandas as pd

    p = max(tokens.rdd.getNumPartitions(), 1)
    local_bar = -(-threshold // p)  # ceil(threshold / P)

    def local_candidates(batches):
        counts: dict[str, int] = {}
        for pdf in batches:
            for tok, c in pdf[token_col].value_counts().items():
                counts[tok] = counts.get(tok, 0) + int(c)
        hot = [t for t, c in counts.items() if c >= local_bar]
        yield pd.DataFrame({token_col: pd.Series(hot, dtype="object")})

    cands = (
        tokens.select(token_col)
        .mapInPandas(local_candidates, f"{token_col} string")
        .distinct()
        .localCheckpoint(eager=True)  # tiny; pins the candidate scan
    )
    return (
        tokens.join(F.broadcast(cands), token_col, "left_semi")
        .groupBy(token_col)
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") >= threshold)
    )


def cms_sketch(
    tokens: DataFrame, token_col: str = "token", depth: int = 4, width: int = 1024
) -> DataFrame:
    """Count-min sketch of a token stream: ``depth`` independent hash
    rows x ``width`` buckets, as a (seed, bucket, cnt) DataFrame of at
    most depth*width rows.

    The 100 TB property is the PARTIAL AGGREGATE: groupBy(seed,bucket)
    map-side-combines, so every input partition emits <= depth*width
    rows no matter how many tokens it holds — the sketch is a
    constant-size mergeable summary (sketches of two corpora merge by
    adding cell-wise), the same contract as q_agg_hll_merge's HLL but
    for point-frequency queries instead of distinct counts."""
    seeds = F.explode(F.array(*[F.lit(i) for i in range(depth)])).alias("seed")
    cells = tokens.select(F.col(token_col), seeds).select(
        "seed",
        F.pmod(F.xxhash64(token_col, "seed"), F.lit(width)).alias("bucket"),
    )
    return cells.groupBy("seed", "bucket").agg(F.count(F.lit(1)).alias("cnt"))


def cms_estimate(
    sketch: DataFrame,
    queries: DataFrame,
    token_col: str = "token",
    depth: int = 4,
    width: int = 1024,
) -> DataFrame:
    """Point-frequency estimates for ``queries`` (one row per distinct
    token) from a ``cms_sketch`` output: est = MIN over hash rows of
    the addressed cell. Never underestimates (every occurrence of the
    token landed in each of its depth cells); overestimates only by
    colliding tokens' mass. The sketch is tiny, so it broadcasts."""
    seeds = F.explode(F.array(*[F.lit(i) for i in range(depth)])).alias("seed")
    addressed = queries.select(F.col(token_col), seeds).select(
        token_col,
        "seed",
        F.pmod(F.xxhash64(token_col, "seed"), F.lit(width)).alias("bucket"),
    )
    # LEFT join: a cell the corpus never hit is COUNT 0, and the min
    # must include it — an inner join would inflate (or entirely drop)
    # estimates for tokens absent from the corpus, breaking the CMS
    # point-query contract est(absent) = min(..., 0) = 0
    return (
        addressed.join(F.broadcast(sketch), ["seed", "bucket"], "left")
        .groupBy(token_col)
        .agg(F.min(F.coalesce("cnt", F.lit(0))).alias("est"))
    )


def lm_score_docs(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Bigram-LM document scores (doc_id, lang, n_bigrams, bits_sum,
    avg_bits) — the shared engine behind q_text_lm_score and
    q_curriculum_order. Log-likelihood quantized to whole bits via
    bit-length (no libm; engine-exact). History counts derive from the
    reduced bigram aggregate, never a second raw-token pass.

    Hot-path shape (the q_dedup_near hashed-postings discipline): the
    bigram and its history word are carried ONLY as xxhash64 longs —
    h2 = hash(lang, w_i, w_i+1), h1 = hash(lang, w_i) — so no string
    concatenation runs per token, the HOF lambda builds two longs
    instead of two strings, and every shuffle/join keys on 8 bytes.
    Counts-by-hash equal counts-by-string up to 64-bit collisions
    (~|vocab|^2 / 2^64 — vanishing; same accepted risk as the
    near-dup inverted index), which the oracle differential would
    expose. Measured 7.3 s -> ~2 s at sf0.1."""
    toks = F.split(F.col(text_col), " ")
    n = F.size(toks)
    # arrays_zip(slice, slice) instead of a transform() lambda: the
    # HOF re-enters the interpreter per ELEMENT (the SCALE.md round-3
    # finding) — zip+slice+explode stay in whole-stage codegen and the
    # hashes run per exploded ROW (measured 3.4 s -> 0.6 s for the
    # 266 k-bigram explode at sf0.1, warm)
    zipped = F.arrays_zip(F.slice(toks, 1, n - 1), F.slice(toks, 2, n - 1))
    exploded = (
        docs.select("doc_id", "lang", F.explode(zipped).alias("p"))
        .select(
            "doc_id",
            "lang",
            F.xxhash64("lang", F.col("p.0")).alias("h1"),
            F.xxhash64("lang", F.col("p.0"), F.col("p.1")).alias("h2"),
        )
    )
    # h1 is functionally dependent on h2 (same first word) — min() is
    # just the cheapest way to carry it through the aggregate
    c2 = exploded.groupBy("h2").agg(
        F.count(F.lit(1)).alias("n2"), F.min("h1").alias("h1")
    )
    c1 = c2.groupBy("h1").agg(F.sum("n2").alias("n1"))
    bits = (F.length(F.bin("n2")) - F.length(F.bin("n1"))).cast("long")
    model = c2.join(c1, "h1").select("h2", bits.alias("bits"))
    scored = (
        exploded.join(model, "h2")
        .groupBy("doc_id", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("bits").alias("bits_sum"),
        )
    )
    return scored.select(
        "doc_id",
        "lang",
        "n_bigrams",
        "bits_sum",
        (F.col("bits_sum").cast("double") / F.col("n_bigrams").cast("double"))
        .cast("double")
        .alias("avg_bits"),
    )


def phrase_hits(col: Column, phrase: str) -> Column:
    """Exact phrase-occurrence count: how many times the whitespace
    token sequence of ``phrase`` appears verbatim in ``col``.

    One ``regexp_count`` over space-padded text with a ZERO-WIDTH
    lookahead — `(?=\\Q phrase \\E)` on `' ' || text || ' '` — so
    overlapping occurrences all count ('a a a' holds phrase 'a a'
    twice) and the phrase is taken literally (``\\Q..\\E``, no regex
    metacharacters). Token-boundary semantics are identical to the
    position-adjacency definition: a bigram starts at token i exactly
    when ' w1 w2 ' starts at the space before token i, and the
    literal-space convention carries over (the oracle's string_split
    keeps empty tokens, so 'a  b' is NOT adjacent — and the padded
    string has a double space there, which the single-space pattern
    likewise rejects).

    This is a compiled codegen expression riding the scan — the
    previous rendering filtered a position `sequence()` with a
    higher-order lambda, which evaluates INTERPRETED per position
    (CodegenFallback): measured 10.8 s for 50 k docs at sf1 vs the
    regexp form (the same HOF-vs-codegen lesson as
    hashed_ngram_scores). The posting-list formulation (posexplode +
    adjacency self-join) is what the DuckDB oracle replays — same
    semantics, deliberately different plan."""
    words = phrase.split()
    if not words:
        raise ValueError("phrase must contain at least one token")
    needle = " " + " ".join(words) + " "
    return F.regexp_count(
        F.concat(F.lit(" "), col, F.lit(" ")),
        F.lit("(?=\\Q" + needle + "\\E)"),
    )


def hashed_ngram_score(col: Column, buckets: int = 1001) -> Column:
    """Linear text-quality classifier over hashed word-bigram features
    (the fasttext shape: score = mean of per-feature weights, here a
    deterministic weight table w(h) = (h mod ``buckets``) - offset so
    both engines can replay it).

    The feature hash is the engine-portable 60-bit md5 prefix
    (``conv(substr(md5(gram),1,15),16,10)`` — the same construction as
    the q_dedup_*_portable twins, queries/llm.py), and the weights are
    INTEGERS summed exactly, so the score (integer sum / count via one
    IEEE double division) is bit-identical across engines — no float
    accumulation order to drift. All higher-order array expressions:
    no explode, no shuffle, no Python in the hot path.

    Returns the mean centred weight as DOUBLE (NULL when the text has
    fewer than 2 tokens)."""
    t = tokens_portable(col)
    offset = buckets // 2
    grams = F.transform(
        F.sequence(F.lit(0), F.size(t) - 2),
        lambda i: F.concat_ws(" ", F.element_at(t, i + 1), F.element_at(t, i + 2)),
    )
    weights = F.transform(
        grams,
        lambda g: (
            F.conv(F.substring(F.md5(g), 1, 15), 16, 10).cast("long")
            % buckets
            - offset
        ),
    )
    total = F.aggregate(
        weights, F.lit(0).cast("long"), lambda acc, x: acc + x
    )
    return F.when(
        F.size(t) >= 2,
        total.cast("double") / (F.size(t) - 1).cast("double"),
    )


def hashed_ngram_scores(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    buckets: int = 1001,
) -> DataFrame:
    """DataFrame form of :func:`hashed_ngram_score` — identical
    semantics (same portable hash, same integer weights, same single
    IEEE division), different plan: bigrams are flattened with one
    explode and the weight sum is a hash aggregate keyed on the doc
    id.

    Why this is the registered hot path: Spark evaluates higher-order
    function lambdas INTERPRETED, outside whole-stage codegen, so the
    array form pays per-element interpretation for md5+conv (~9 s for
    2.5 M bigrams at sf0.1). The exploded md5/conv runs as compiled
    codegen expressions on a flat column (~4x faster end-to-end) at
    the cost of one doc_id-keyed shuffle — the right trade at every
    scale (the shuffle carries two longs per doc after partial
    aggregation). Docs with < 2 tokens are dropped (no bigrams).

    Returns ``(id_col, score double)``."""
    t = tokens_portable(F.col(text_col))
    offset = buckets // 2
    base = docs.where(F.size(t) >= 2).select(
        F.col(id_col), t.alias("__t")
    )
    grams = base.select(
        id_col,
        F.explode(
            F.arrays_zip(
                F.slice("__t", 1, F.size("__t") - 1),
                F.slice("__t", 2, F.size("__t") - 1),
            )
        ).alias("__p"),
    ).select(
        id_col,
        F.concat_ws(" ", F.col("__p.0"), F.col("__p.1")).alias("__g"),
    )
    wt = (
        F.conv(F.substring(F.md5("__g"), 1, 15), 16, 10).cast("long")
        % buckets
        - offset
    )
    return (
        grams.select(id_col, wt.alias("__w"))
        .groupBy(id_col)
        .agg(
            (
                F.sum("__w").cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("score")
        )
    )


def _md5_60_col(g: Column) -> Column:
    """Engine-portable 60-bit md5-prefix hash of a string column (the
    q_dedup_*_portable construction; DuckDB replays it with positional
    nibble arithmetic — queries/retrieval.py _md5_60)."""
    return F.conv(F.substring(F.md5(g), 1, 15), 16, 10).cast("long")


def winnow_fingerprints(
    docs: DataFrame,
    k: int = 3,
    w: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson, Aiken —
    SIGMOD'03, the MOSS algorithm): hash every word ``k``-gram, slide
    a window of ``w`` consecutive hash positions, keep the MINIMUM
    hash of each complete window, and de-duplicate the kept hashes per
    document. The guarantee: any shared substring of at least
    ``k + w - 1`` tokens between two documents produces at least one
    IDENTICAL selected fingerprint in both — robust containment
    detection at ~1/w the storage of the full hash stream (the
    rolling-hash q_text_fingerprint keeps every k-gram; this keeps the
    winnowed subset).

    Plan shape: tokens -> zip-sliced k-grams with posexplode (all
    codegen; the HOF-array min-scan alternative pays interpreted
    lambda evaluation, same measurement as hashed_ngram_scores) ->
    ONE doc_id-partitioned window (min over ROWS [0, w-1]) -> distinct
    -> per-doc aggregate. One exchange on doc_id carries the whole
    pipeline; fingerprints are 60-bit portable md5 prefixes so the
    DuckDB oracle replays every value exactly (integers end to end —
    no rounding tolerance anywhere).

    Documents with fewer than ``k + w - 1`` tokens have no complete
    window and emit nothing (the caller routes short docs to exact
    comparison, same contract as fuzzy_self_pairs' length floor).

    Returns ``(id_col, n_fp, fp_min, fp_max, fp_modsum)`` where
    fp_modsum = SUM(fp % 1000003) — an order-free integer digest of
    the selected set (a raw SUM of 60-bit values could overflow
    int64)."""
    fps = winnow_fp_sets(docs, k=k, w=w, id_col=id_col, text_col=text_col)
    return fps.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_fp"),
        F.min("__fp").alias("fp_min"),
        F.max("__fp").alias("fp_max"),
        F.sum(F.col("__fp") % 1000003).alias("fp_modsum"),
    )


def winnow_fp_sets(
    docs: DataFrame,
    k: int = 3,
    w: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Distinct selected winnowing fingerprints per document —
    ``(id_col, __fp)`` — the shared stage behind winnow_fingerprints
    (per-doc digests) and winnow_pairs (cross-doc candidate join).
    Plan shape documented on winnow_fingerprints."""
    from pyspark.sql import Window

    t = tokens_portable(F.col(text_col))
    m = F.size("__t") - (k - 1)  # number of k-grams
    base = docs.select(F.col(id_col), t.alias("__t")).where(
        F.size("__t") >= k + w - 1
    )
    zipped = F.arrays_zip(*[F.slice("__t", i + 1, m) for i in range(k)])
    # gram count __m is known BEFORE the explode (array size) — carry
    # it as a column instead of re-counting with a second window pass
    grams = base.select(
        id_col, m.alias("__m"), F.posexplode(zipped).alias("__pos", "__g")
    ).select(
        id_col,
        "__pos",
        "__m",
        _md5_60_col(
            F.concat_ws(" ", *[F.col(f"__g.{i}") for i in range(k)])
        ).alias("__h"),
    )
    win = (
        Window.partitionBy(id_col).orderBy("__pos").rowsBetween(0, w - 1)
    )
    return (
        grams.withColumn("__fp", F.min("__h").over(win))
        .where(F.col("__pos") <= F.col("__m") - w)  # complete windows only
        .select(id_col, "__fp")
        .distinct()
    )


def winnow_pairs(
    docs: DataFrame | None = None,
    k: int = 3,
    w: int = 4,
    min_shared: int = 2,
    max_df: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    fps: DataFrame | None = None,
) -> DataFrame:
    """Near-dup candidate pairs by SHARED winnowing fingerprints (the
    MOSS comparison step): every unordered doc pair sharing at least
    ``min_shared`` selected fingerprints, with the shared count. The
    winnowing guarantee turns this into containment detection: any
    shared token run of length >= k + w - 1 contributes a shared
    fingerprint, so plagiarized/cloned spans cannot hide, while the
    1/w subsampling keeps the posting list ~4x smaller than a full
    k-gram index (compare q_dedup_near's full inverted index).

    Round-7 shape (VERDICT r6 #6 — the fingerprint self-join was the
    sf100 constant, 181 s): the cooccurrence_edges treatment
    (operators/triangles.py, commit 3062b82). ONE fp-keyed exchange
    builds per-fingerprint posting sets (collect_set, map-side
    partial), pairs come from two chained posexplodes filtered to
    p2 > p1 — all whole-stage codegen, no checkpoint materialization,
    no join build side — then ONE (doc_a, doc_b) exchange counts
    shared fps. Same-day A/B at sf100: 95 s vs a self-join that no
    longer finished inside 470 s on the r7 host (r6 recorded 181 s);
    at sf10: 10.2 s vs 13.0 s, results bit-identical. Per-fp fan-out
    is C(|posting|, 2) either way — and the equi-join colocated each
    posting list in one task too, so the skew profile is unchanged
    while two exchanges and the fps double-read disappear. Selected
    fingerprints are locally-minimal hashes, i.e. RARE by
    construction, so posting lists stay short the way setsim's
    rarest-first prefixes do (the 2-exchange shape is pinned by
    tests/test_selection.py like 372a349's setsim pin).

    ``max_df`` (VERDICT r7 #1, MOSS's own published practice of
    dropping over-common fingerprints): "rare by construction" bounds
    the AVERAGE posting size, not the worst case — one boilerplate
    sentence repeated across n documents yields ONE fingerprint with
    an n-element posting set, i.e. an n-element collect_set row and
    C(n, 2) pairs fanned out of a single task. With ``max_df`` set,
    fingerprints seen in more than ``max_df`` distinct documents are
    dropped as stop-fingerprints BEFORE pair generation, capping
    per-fingerprint fan-out at C(max_df, 2) regardless of corpus
    size. The filter rides the existing fp-keyed aggregate (a
    post-aggregation size predicate), so the 3-exchange/0-join plan is
    unchanged. Recall cost is confined to pairs whose ONLY evidence is
    corpus-wide boilerplate — exactly the pairs a near-dup pipeline
    must not emit anyway (tests/test_selection.py plants such a
    sentence and asserts bounded pair count with unchanged recall on
    the genuinely near-duplicate planted pairs).

    ``fps``: precomputed (id_col, __fp) fingerprint stream — callers
    holding a materialized/stored index (q_dedup_winnow_inc) pass it
    to avoid recomputing the winnow window from raw text. Exactly one
    of ``docs`` / ``fps`` must be provided (ADVICE r8: a caller
    passing both would silently have docs/k/w/text_col ignored, with
    no warning if fps was built under different winnow parameters)."""
    if (docs is None) == (fps is None):
        raise ValueError(
            "winnow_pairs: provide exactly one of docs= (raw text, "
            "fingerprinted here with k/w) or fps= (precomputed "
            "fingerprints; k/w/text_col are not consulted)"
        )
    if fps is None:
        fps = winnow_fp_sets(
            docs, k=k, w=w, id_col=id_col, text_col=text_col
        )
    posts = (
        fps.groupBy("__fp")
        .agg(F.collect_set(id_col).alias("__docs"))
        .where(F.size("__docs") >= 2)
    )
    if max_df is not None:
        posts = posts.where(F.size("__docs") <= max_df)
    pairs = (
        posts.select("__docs", F.posexplode("__docs").alias("__p1", "doc_a"))
        .select("doc_a", "__p1", F.posexplode("__docs").alias("__p2", "__d2"))
        .where(F.col("__p2") != F.col("__p1"))
        .where(F.col("doc_a") < F.col("__d2"))
        .select("doc_a", F.col("__d2").alias("doc_b"))
    )
    return (
        pairs.groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )


def dsir_logweights(
    docs: DataFrame,
    target_pred: Column,
    buckets: int = 256,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """DSIR-style importance weights for data selection (Xie et al.
    2023, "Data Selection for Language Models via Importance
    Resampling"): estimate a target and a raw feature distribution
    over HASHED word-bigram buckets, then score every document by the
    sum of per-feature log-likelihood ratios — documents that look
    like the target distribution get positive weights and survive the
    resampling step.

    ``target_pred`` selects the target slice (e.g. lang = 'en' — "the
    high-quality corpus I want more of"); the raw distribution is the
    full input. Laplace-smoothed: p[b] = (count[b] + 1) /
    (total + buckets), so buckets unseen in the target still get
    finite ratios.

    Exactness: bucket counts are integer aggregates; the 256-row
    log-ratio table is float but computed from scalars with the
    identical formula text on both engines; the per-doc score is
    sum(n_db * ratio[b]) over <= ``buckets`` terms, rounded 4 dp (the
    q_bm25 convention for transcendental sums). Plan shape: one bigram
    explode feeds (doc, bucket) partial-aggregated counts; the two
    global distributions are bucket-sized aggregates broadcast back,
    so the only full-corpus exchange is the (doc_id, bucket) combine.

    Returns ``(id_col, dsir_logw double, selected boolean)`` with
    selected = round(logw, 4) > 0 (rounded on BOTH sides so the flag
    can't flip on last-ulp accumulation order)."""
    t = tokens_portable(F.col(text_col))
    base = docs.where(F.size(t) >= 2).select(
        F.col(id_col), target_pred.alias("__is_tgt"), t.alias("__t")
    )
    grams = base.select(
        id_col,
        "__is_tgt",
        F.explode(
            F.arrays_zip(
                F.slice("__t", 1, F.size("__t") - 1),
                F.slice("__t", 2, F.size("__t") - 1),
            )
        ).alias("__p"),
    ).select(
        id_col,
        "__is_tgt",
        (
            _md5_60_col(F.concat_ws(" ", F.col("__p.0"), F.col("__p.1")))
            % buckets
        ).alias("__b"),
    )
    # doc_b is read by THREE consumers (raw dist, target dist, the
    # per-doc score join); per-branch column pruning gives each a
    # different partial-aggregate subtree, so ReuseExchange cannot
    # unify them (the setsim lesson) and the bigram explode would
    # re-execute per branch. doc_b is the post-combine COMPACT table
    # (<= buckets rows per doc, four integer columns), so a lineage
    # barrier here is cheap at any scale — unlike setsim's 600 M-row
    # pre-aggregation checkpoint.
    doc_b = (
        grams.groupBy(id_col, "__is_tgt", "__b")
        .agg(F.count(F.lit(1)).alias("__n_db"))
        .localCheckpoint(eager=True)
    )
    raw = doc_b.groupBy("__b").agg(F.sum("__n_db").alias("__n_r"))
    tgt = (
        doc_b.where("__is_tgt")
        .groupBy("__b")
        .agg(F.sum("__n_db").alias("__n_t"))
    )
    # totals must NOT be named __N_r/__N_t: Spark's default
    # case-insensitive resolution makes __N_t collide with __n_t
    totals = raw.agg(
        F.sum("__n_r").alias("__tot_r"),
    ).crossJoin(tgt.agg(F.sum("__n_t").alias("__tot_t")))
    ratio = (
        raw.join(tgt, "__b", "left")
        .na.fill({"__n_t": 0})
        .crossJoin(F.broadcast(totals))
        .select(
            "__b",
            (
                F.log(
                    (F.col("__n_t") + 1).cast("double")
                    / (F.col("__tot_t") + buckets).cast("double")
                )
                - F.log(
                    (F.col("__n_r") + 1).cast("double")
                    / (F.col("__tot_r") + buckets).cast("double")
                )
            ).alias("__lr"),
        )
    )
    scored = (
        doc_b.join(F.broadcast(ratio), "__b")
        .groupBy(id_col)
        .agg(
            F.round(
                F.sum(F.col("__n_db").cast("double") * F.col("__lr")), 4
            ).alias("dsir_logw")
        )
    )
    return scored.select(
        id_col, "dsir_logw", (F.col("dsir_logw") > 0).alias("selected")
    )


def _word_positions(words: DataFrame) -> DataFrame:
    """One row per character position of every distinct word:
    (w, i) with i = 1..length(w).

    Defensive (ADVICE r10): for an empty string sequence(1, 0) yields
    the DESCENDING array [1, 0] — bogus positions including i=0 and
    silent garbage cuts downstream. Callers contract non-empty words;
    the filter makes a forgotten filter yield an empty result instead
    of garbage (vocabulary-sized input — negligible)."""
    return words.where(F.length("w") >= 1).select(
        "w", F.explode(F.sequence(F.lit(1), F.length("w"))).alias("i")
    )


def piece_matches(
    words: DataFrame,
    pieces: DataFrame,
    piece_lens: tuple[int, ...] = (2, 3, 4),
) -> DataFrame:
    """Every (word, position, length) at which a vocabulary piece
    matches: (w, i, L, piece) — the shared lattice-edge derivation
    under greedy_segment_cuts and viterbi_best_bits. The piece set is
    bounded by contract, so the match is a broadcast equi-join on the
    substring; input is vocabulary-chars-sized (one row per char per
    candidate length)."""
    lens = F.explode(
        F.array(*[F.lit(int(x)) for x in piece_lens])
    ).alias("L")
    # Defensive (ADVICE r10): a piece whose length is NOT in piece_lens
    # can never be generated as a candidate substring, so it would be
    # silently unmatched — fail loudly at execution instead. The
    # assert rides the (bounded, broadcast) piece projection;
    # assert_true returns NULL on success, so isNull() keeps all rows.
    checked_pieces = pieces.select("piece").where(
        F.assert_true(
            F.length("piece").isin(*[int(x) for x in piece_lens]),
            F.concat(
                F.lit(
                    "piece_matches: piece length outside piece_lens "
                    f"{tuple(int(x) for x in piece_lens)}: "
                ),
                F.col("piece"),
            ),
        ).isNull()
    )
    return (
        _word_positions(words)
        .select("w", "i", lens)
        .where(F.col("i") + F.col("L") - 1 <= F.length("w"))
        .select(
            "w",
            "i",
            "L",
            F.col("w")
            .substr(F.col("i").cast("int"), F.col("L").cast("int"))
            .alias("piece"),
        )
        .join(F.broadcast(checked_pieces), "piece")
    )


def greedy_segment_cuts(
    words: DataFrame,
    pieces: DataFrame,
    piece_lens: tuple[int, ...] = (2, 3, 4),
) -> DataFrame:
    """Deterministic leftmost-longest subword segmentation of every
    distinct word against a bounded piece vocabulary — the WordPiece
    inference rule — one map-only Arrow pass (r12).

    ``words``: one row per DISTINCT word (column ``w``, non-empty) —
    vocabulary-sized by contract (the caller collapses the corpus to
    its word-frequency dictionary first, the q_bpe_pairs argument).
    ``pieces``: the bounded seed vocabulary (column ``piece``; lengths
    drawn from ``piece_lens``). Single characters are the implicit
    fallback alphabet.

    Segmentation is a sequential chain per word (each cut determines
    the next) — but the chain is WORD-LOCAL: no cut ever looks across
    words, and the piece vocabulary is bounded (<= 256 candidates by
    caller contract). r12 (guide §2.4 + §4.2): the r8-r11 rendering
    distributed this as a step table + ceil(log2(maxlen)) rounds of
    pointer-doubling equi-joins with an eager localCheckpoint per
    round — ~40 scheduler jobs per query for work that is
    embarrassingly parallel per word. It is now ONE map-only Arrow
    pass: the bounded piece set collects to the driver (the
    _seed_codebook budget class), each task walks its words with a
    set-lookup loop, and NOTHING shuffles — which is also the better
    100 TB shape (the doubling's per-round exchanges grew with the
    vocabulary; this pass is pure map over it).

    Returns (w, i, piece, plen): one row per cut, piece = the
    consumed substring. Determinism: leftmost-longest has a unique
    answer — no float, no tie-break — so a SQL oracle can replay it
    exactly with a precomputed step table and a recursive
    chain-follow CTE; Python str slicing and Spark substr both index
    code points, so the emitted pieces are byte-identical.
    """
    import pandas as pd

    plens = sorted({int(x) for x in piece_lens}, reverse=True)
    pieceset = set()
    for r in pieces.select("piece").collect():
        p = r["piece"]
        if len(p) not in plens:
            # same loud guard piece_matches carries (ADVICE r10): a
            # piece whose length is outside piece_lens could never be
            # generated as a candidate substring
            raise ValueError(
                "greedy_segment_cuts: piece length outside piece_lens "
                f"{tuple(plens)}: {p!r}"
            )
        pieceset.add(p)

    def seg(it):
        for pdf in it:
            out_w, out_i, out_piece, out_plen = [], [], [], []
            for w in pdf["w"]:
                n = len(w)
                i = 1
                while i <= n:
                    piece, plen = w[i - 1], 1
                    for pl in plens:
                        if i + pl - 1 <= n:
                            cand = w[i - 1 : i - 1 + pl]
                            if cand in pieceset:
                                piece, plen = cand, pl
                                break
                    out_w.append(w)
                    out_i.append(i)
                    out_piece.append(piece)
                    out_plen.append(plen)
                    i += plen
            yield pd.DataFrame(
                {
                    "w": pd.Series(out_w, dtype="object"),
                    "i": pd.Series(out_i, dtype="int32"),
                    "piece": pd.Series(out_piece, dtype="object"),
                    "plen": pd.Series(out_plen, dtype="int32"),
                }
            )

    return words.select("w").mapInPandas(
        seg, "w string, i int, piece string, plen int"
    )


def viterbi_best_bits(
    words: DataFrame,
    scored_pieces: DataFrame,
    piece_lens: tuple[int, ...] = (2, 3, 4),
) -> DataFrame:
    """Viterbi-optimal segmentation score per distinct word: the MAX
    total piece weight over ALL segmentations (unigram-LM E-step at
    score level), as one map-only Arrow DP pass (r12).

    ``scored_pieces``: (piece, wgt) with integer weights — bit-
    quantized log counts in the unigram queries, so path sums are
    exact BIGINTs and the maximum is engine-replicable (the VALUE of
    the max is unique even when multiple argmax paths tie — which is
    exactly why this emits the score, not a segmentation).

    Construction: the word is a position lattice 0..len; matched
    pieces are weighted forward edges and every position has a
    weight-0 single-char fallback edge, so best[t] = max(best[t-1],
    max over matching L of best[t-L] + wgt(piece)) — the textbook
    forward DP. The lattice is WORD-LOCAL and the scored piece set is
    bounded (<= 256 by caller contract), so r12 (guide §2.4 + §4.2)
    runs the DP as ONE map-only Arrow pass against the collected
    piece->weight dict — replacing the r8-r11 tropical pointer
    doubling (ceil(log2(maxlen)) rounds of (w, pos)-keyed joins +
    groupBy max + an eager localCheckpoint per round, ~20 scheduler
    jobs for embarrassingly word-parallel work). Exactness is
    unchanged: weights are integer BIGINTs, Python int sums are
    exact, and only the unique max VALUE is emitted.

    Returns (w, vbits). The SQL oracle replays the same lattice with
    a list-state recursive CTE (the q_pack_sequences_bfd pattern):
    sequential in word length, identical integer algebra.
    """
    import pandas as pd

    plens = sorted({int(x) for x in piece_lens})
    wgt: dict = {}
    for r in scored_pieces.select("piece", "wgt").collect():
        p = r["piece"]
        if len(p) not in plens:
            raise ValueError(
                "viterbi_best_bits: piece length outside piece_lens "
                f"{tuple(plens)}: {p!r}"
            )
        # a duplicated piece keeps its MAX weight, whatever the
        # collect order (the old groupBy(piece).max semantics)
        g = int(r["wgt"])
        wgt[p] = max(g, wgt.get(p, g))

    def vit(it):
        for pdf in it:
            ws, vb = [], []
            for w in pdf["w"]:
                n = len(w)
                best = [0] * (n + 1)
                for t in range(1, n + 1):
                    b = best[t - 1]  # weight-0 single-char fallback
                    for pl in plens:
                        if pl <= t:
                            g = wgt.get(w[t - pl : t])
                            if g is not None and best[t - pl] + g > b:
                                b = best[t - pl] + g
                    best[t] = b
                ws.append(w)
                vb.append(best[n])
            yield pd.DataFrame(
                {
                    "w": pd.Series(ws, dtype="object"),
                    "vbits": pd.Series(vb, dtype="int64"),
                }
            )

    return words.select("w").mapInPandas(vit, "w string, vbits long")
