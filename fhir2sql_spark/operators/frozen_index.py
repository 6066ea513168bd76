"""Stored frozen-index builders + probe-only pipelines for the
incremental dedup family (VERDICT r9 #2).

The REGISTERED incremental queries (q_dedup_setsim_inc,
q_dedup_containment_inc, q_dedup_minhash_inc) rebuild their frozen
index in-query — exact and oracle-checked, but their decade rows then
measure index-rebuild + probe, not the per-ingest cost the operators
are designed around (q_dedup_setsim_inc's sf100 row was ~dominated by
a 258 M-row prefix rebuild). These helpers persist the SAME indexes
once as BUCKETED tables — bucketed by the probe join key, so the
stored side enters the probe join with NO exchange
(tests/test_frozen_probe.py pins it; the q_dedup_incremental /
tests/test_bucketed_join.py posture) — and run the IDENTICAL
candidate/verify/classify pipeline against the stored form: the
probe paths import the registered queries' own candidate generators,
they do not re-implement them, so probe-equals-registered is a code
identity plus a pinned test, not a parallel implementation.

Index contents per family:
- setsim (Jaccard >= 1/2, word-5-gram): frozen token df stats
  (__sid, __df) + corpus rarity-prefix postings (__sid, doc_id),
  both bucketed by __sid
- containment (>= 4/5, directed): the same stats (df is
  threshold-free — one stats table serves both prefix families) +
  corpus FULL postings (__sid, doc_id): containment cannot
  prefix-prune the container side (JOSIE)
- minhash (portable md5 construction): the stop-bucket-capped
  (band, bkey, doc_id) band postings, bucketed by (band, bkey)

tools/measure_probe.py times build and probe separately and SCALE.md
carries the probe-only decade rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from fhir2sql_spark.operators import dedup


def _sid_postings(docs: DataFrame, n: int = 5) -> DataFrame:
    """Distinct (doc_id, __sid) token postings — the shared shingle →
    xxhash64 → per-doc distinct prologue, deduped AFTER hashing so
    the exchange carries 8-byte keys (the q_dedup_near discipline)."""
    return (
        dedup.shingles(docs, n=n, distinct=False)
        .select("doc_id", F.xxhash64("lang", "shingle").alias("__sid"))
        .repartition(F.col("__sid"))
        .groupBy("__sid", "doc_id")
        .agg(F.lit(1))
        .select("doc_id", "__sid")
    )


def ranked_postings(
    docs_side: DataFrame, stats: DataFrame, n: int = 5
) -> DataFrame:
    """FULL postings with positional metadata under the frozen order:
    (doc_id, __sid, __pos, __s) where __pos is the token's 1-based
    rank in its doc under (frozen df, sid) and __s the doc's distinct
    sid count — the JOSIE-style positional columns the containment
    probe's suffix-budget filter needs. Same two-exchange shape as
    batch_prefixes, no prefix slice."""
    sh = _sid_postings(docs_side, n=n)
    toks = sh.join(stats, "__sid", "left").withColumn(
        "__df", F.coalesce(F.col("__df"), F.lit(0))
    )
    w = Window.partitionBy("doc_id").orderBy("__df", "__sid")
    w_size = Window.partitionBy("doc_id")
    return (
        toks.withColumn("__s", F.count(F.lit(1)).over(w_size))
        .withColumn("__pos", F.row_number().over(w))
        .select("doc_id", "__sid", "__pos", "__s")
    )


def corpus_token_stats(corpus_docs: DataFrame, n: int = 5) -> DataFrame:
    """The frozen rarity statistic: (__sid, __df) document frequency
    over the corpus shard. Threshold-free, so ONE stats table serves
    every prefix family (setsim t=1/2 and containment t=4/5 read the
    same rows). Both aggregates ride the single explicit sid exchange
    (grouping keys ⊇ partition key)."""
    return (
        _sid_postings(corpus_docs, n=n)
        .groupBy("__sid")
        .agg(F.count(F.lit(1)).alias("__df"))
    )


def batch_prefixes(
    batch_docs: DataFrame,
    stats: DataFrame,
    threshold_num: int,
    threshold_den: int,
    n: int = 5,
    checkpoint: bool = True,
    positions: bool = False,
) -> DataFrame:
    """Batch-side rarity prefixes under the FROZEN order read from
    the STORED stats table — the probe-time counterpart of
    queries/llm._inc_prefix_postings (which derives the same __df
    with an in-query window over the combined stream): tokens the
    index has never seen rank __df = 0 (rarest; they cannot hit the
    corpus index anyway but order batch-batch prefixes), and prefix
    completeness holds under any consistent total order, so the two
    derivations emit IDENTICAL prefixes
    (tests/test_frozen_probe.py::test_batch_prefixes_match_inquery).

    Plan: one sid exchange (postings dedup + the stats equi-join ride
    it; the stored stats side is bucketed by __sid and needs none),
    one doc_id exchange for the size/rank windows."""
    sh = _sid_postings(batch_docs, n=n)
    toks = sh.join(stats, "__sid", "left").withColumn(
        "__df", F.coalesce(F.col("__df"), F.lit(0))
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
    cols = (
        ["doc_id", "__sid", "__pos", "__s"]
        if positions
        else ["doc_id", "__sid"]
    )
    pref = (
        toks.withColumn("__s", F.count(F.lit(1)).over(w_size))
        .withColumn("__pos", F.row_number().over(w))
        .where(F.col("__pos") <= prefix_len)
        .select(*cols)
    )
    return pref.localCheckpoint(eager=True) if checkpoint else pref


# ---------------------------------------------------------------- build


def build_setsim_prefix_index(
    corpus_docs: DataFrame,
    threshold_num: int = 1,
    threshold_den: int = 2,
    n: int = 5,
) -> DataFrame:
    """Corpus rarity-prefix postings (__sid, doc_id) under the frozen
    (corpus-df, sid) order — EXACTLY the registered query's corpus
    slice: on a corpus-only input _inc_prefix_postings' conditional
    df window counts every row, so this IS the same code path."""
    from fhir2sql_spark.queries.llm import _inc_prefix_postings

    return _inc_prefix_postings(
        corpus_docs,
        threshold_num=threshold_num,
        threshold_den=threshold_den,
        n=n,
        checkpoint=False,
    )


def build_containment_posting_index(
    corpus_docs: DataFrame, n: int = 5
) -> DataFrame:
    """Corpus FULL posting index (__sid, doc_id), deduped — per-doc
    duplicate sids only duplicate candidates (absorbed by the pair
    distinct), so storing the distinct form is equivalent and
    smaller."""
    return _sid_postings(corpus_docs, n=n)


def build_batch_prefix_index(
    batch_docs: DataFrame,
    stats: DataFrame,
    threshold_num: int,
    threshold_den: int,
    n: int = 5,
    positions: bool = False,
) -> DataFrame:
    """BATCH-side rarity prefixes derived at INGEST time, per shard,
    for storing next to the corpus index (VERDICT r11 #6 / SURVEY
    §8.4). The probe paths previously re-derived the whole batch's
    prefixes per probe — at sf100 a ~430 M-row posting set through
    the per-doc size/rank windows, the probe-only decade rows'
    dominant stage. Those windows are DOC-LOCAL given the frozen
    stats (``Window.partitionBy("doc_id")`` never crosses documents),
    so deriving prefixes shard-by-shard as each ingest lands and
    appending to one stored table is row-identical to the full-batch
    derivation (tests/test_frozen_probe.py pins the union equality) —
    the window cost is paid once per shard AT INGEST, and the probe
    reads the stored prefixes with no window at all."""
    return batch_prefixes(
        batch_docs,
        stats,
        threshold_num,
        threshold_den,
        n,
        checkpoint=False,
        positions=positions,
    )


def build_batch_posting_index(batch_docs: DataFrame, n: int = 5) -> DataFrame:
    """BATCH-side full postings (__sid, doc_id) for the containment
    probe's within-batch candidate join — the same per-ingest-shard
    posture as build_batch_prefix_index (the distinct is (doc, sid)-
    local, so per-shard derivation unions to the full-batch form)."""
    return _sid_postings(batch_docs, n=n)


def build_minhash_band_index(corpus_docs: DataFrame) -> DataFrame:
    """Capped (band, bkey, doc_id) postings of the portable MinHash
    construction — the registered query's own band/cap code."""
    from fhir2sql_spark.queries.llm import (
        _cap_bucket_postings,
        _portable_band_postings,
    )

    return _cap_bucket_postings(
        _portable_band_postings(corpus_docs), "band", "bkey"
    )


def persist_index(
    df: DataFrame,
    name: str,
    path: str,
    bucket_cols: tuple[str, ...],
    buckets: int = 32,
    mode: str = "overwrite",
) -> DataFrame:
    """Write an index bucketed by its probe join key and return the
    catalog-backed read — the layout under which the probe join
    consumes the stored side with no exchange. The write does not sort
    within buckets: the probe's sort-merge join sorts the stored side
    anyway (Spark reports no ordering for a bucketed scan, and a
    bucket of several files has no single order), so a
    ``sortBy`` would cost the write a sort that nothing reads.
    ``mode="append"`` is the per-ingest-shard form: each shard's rows
    land in the same bucketed table with the bucket spec intact, so
    the probe join still reads the stored side with no exchange.
    The limit: every write adds up to one more file per bucket per
    write task and nothing merges them, so a bucket becomes a growing
    list of files. The probe plans ``Sort`` over a ``Bucketed: true``
    scan either way, so appends cost small files, not a shuffle;
    rewrite with ``mode="overwrite"`` to compact."""
    (
        df.write.mode(mode)
        .bucketBy(buckets, *bucket_cols)
        .option("path", path)  # external: warehouse.dir is static
        .saveAsTable(name)
    )
    return df.sparkSession.table(name)


# ---------------------------------------------------------------- probe


def setsim_probe(
    docs: DataFrame,
    stats: DataFrame,
    corpus_prefix: DataFrame,
    threshold_num: int = 1,
    threshold_den: int = 2,
    n: int = 5,
) -> DataFrame:
    """Probe-only q_dedup_setsim_inc: batch prefixes under the stored
    frozen order, the registered query's own candidate joins against
    the stored prefix index, exact verify + classify. ``docs`` is the
    full lake table (verification re-reads candidate texts)."""
    from fhir2sql_spark.queries.llm import (
        _classify_new_batch,
        _setsim_inc_candidates,
    )

    batch = docs.where(F.col("doc_id") % 3 == 0)
    bp = batch_prefixes(batch, stats, threshold_num, threshold_den, n)
    cand_corpus, cand_batch = _setsim_inc_candidates(bp, corpus_prefix)
    return _classify_new_batch(
        docs, cand_corpus, cand_batch, threshold_num, threshold_den, n
    )


def setsim_probe_stored(
    docs: DataFrame,
    batch_prefix: DataFrame,
    corpus_prefix: DataFrame,
    threshold_num: int = 1,
    threshold_den: int = 2,
    n: int = 5,
) -> DataFrame:
    """Probe-only q_dedup_setsim_inc with STORED indexes on BOTH sides
    (VERDICT r11 #6): batch prefixes come from the per-ingest-shard
    build_batch_prefix_index table instead of an in-probe window over
    the whole batch's ~|batch| x |doc| posting set. Candidate joins
    and the verify/classify tail are the registered query's own code;
    statuses equal the registered run and the window-deriving probe
    (tests/test_frozen_probe.py)."""
    from fhir2sql_spark.queries.llm import (
        _classify_new_batch,
        _setsim_inc_candidates,
    )

    cand_corpus, cand_batch = _setsim_inc_candidates(
        batch_prefix, corpus_prefix
    )
    return _classify_new_batch(
        docs, cand_corpus, cand_batch, threshold_num, threshold_den, n
    )


def containment_probe_stored(
    docs: DataFrame,
    batch_prefix: DataFrame,
    batch_full: DataFrame,
    corpus_full: DataFrame,
    threshold_num: int = 4,
    threshold_den: int = 5,
    n: int = 5,
) -> DataFrame:
    """Probe-only q_dedup_containment_inc with stored batch prefixes
    AND stored batch full postings (both per-ingest-shard artifacts —
    see build_batch_prefix_index / build_batch_posting_index)."""
    from fhir2sql_spark.queries.llm import (
        _classify_new_batch,
        _containment_inc_candidates,
    )

    cand_corpus, cand_batch = _containment_inc_candidates(
        batch_prefix,
        corpus_full.select(
            F.col("__sid").alias("__sid_b"), F.col("doc_id").alias("doc_b")
        ),
        batch_full.select(
            F.col("__sid").alias("__sid_b"), F.col("doc_id").alias("doc_b")
        ),
    )
    return _classify_new_batch(
        docs,
        cand_corpus,
        cand_batch,
        threshold_num,
        threshold_den,
        n,
        containment=True,
    )


def containment_probe(
    docs: DataFrame,
    stats: DataFrame,
    corpus_full: DataFrame,
    threshold_num: int = 4,
    threshold_den: int = 5,
    n: int = 5,
) -> DataFrame:
    """Probe-only q_dedup_containment_inc against the stored full
    posting index."""
    from fhir2sql_spark.queries.llm import (
        _classify_new_batch,
        _containment_inc_candidates,
    )

    batch = docs.where(F.col("doc_id") % 3 == 0)
    bp = batch_prefixes(batch, stats, threshold_num, threshold_den, n)
    batch_full = _sid_postings(batch, n=n).select(
        F.col("__sid").alias("__sid_b"), F.col("doc_id").alias("doc_b")
    )
    cand_corpus, cand_batch = _containment_inc_candidates(
        bp,
        corpus_full.select(
            F.col("__sid").alias("__sid_b"), F.col("doc_id").alias("doc_b")
        ),
        batch_full,
    )
    return _classify_new_batch(
        docs,
        cand_corpus,
        cand_batch,
        threshold_num,
        threshold_den,
        n,
        containment=True,
    )


def containment_probe_positional(
    docs: DataFrame,
    stats: DataFrame,
    corpus_ranked: DataFrame,
    threshold_num: int = 4,
    threshold_den: int = 5,
    n: int = 5,
) -> DataFrame:
    """Probe-only q_dedup_containment_inc with the JOSIE-style
    POSITIONAL suffix-budget filter (SURVEY §8 r10 watch-list lever,
    taken early): the stored index carries each posting's 1-based
    rank __pos and its doc's size __s under the frozen global order,
    and a candidate token row survives only if the container's
    remaining suffix can still reach the bound —
    (sb - pb + 1) * td >= sa * tn, i.e. |B|-suffix >= ceil(t*|A|).

    COMPLETENESS (no recall loss): both sides rank under the SAME
    global total order (frozen df, sid). If the pair truly satisfies
    common >= ceil(t*|A|), take x = the shared token MINIMAL in that
    global order; every shared token lies in x's suffix on BOTH
    sides, so |A| - pA(x) + 1 >= common and |B| - pB(x) + 1 >= common
    >= ceil(t*|A|) — and pA(x) <= |A| - common + 1 <= the prefix
    bound, so x's row passes the prefix slice AND the positional
    filter. The probe-side bound is implied by the prefix slice
    itself (pA <= LA ⟺ |A| - pA + 1 >= ceil(t*|A|)), so only the
    container side is tested. Statuses therefore remain
    order-independent and equal the plain probe's (pinned in
    tests/test_frozen_probe.py).

    Cost: the filter is two ints already in the join inputs — it cuts
    candidate fan-out BEFORE the pair distinct (tokens matched deep
    in a large container's tail can no longer certify containment);
    the index grows by 2 ints/posting."""
    from fhir2sql_spark.queries.llm import _classify_new_batch

    batch = docs.where(F.col("doc_id") % 3 == 0)
    bp = batch_prefixes(
        batch, stats, threshold_num, threshold_den, n, positions=True
    )
    pb = bp.select(
        "__sid", F.col("doc_id").alias("doc_a"), F.col("__s").alias("__sa")
    )
    b_side = ranked_postings(batch, stats, n=n).select(
        F.col("__sid").alias("__sid_b"),
        F.col("doc_id").alias("doc_b"),
        F.col("__pos").alias("__pb"),
        F.col("__s").alias("__sb"),
    )
    c_side = corpus_ranked.select(
        F.col("__sid").alias("__sid_b"),
        F.col("doc_id").alias("doc_b"),
        F.col("__pos").alias("__pb"),
        F.col("__s").alias("__sb"),
    )
    budget = (
        (F.col("__sb") - F.col("__pb") + 1) * threshold_den
        >= F.col("__sa") * threshold_num
    )
    cand_corpus = (
        pb.join(c_side, (F.col("__sid") == F.col("__sid_b")) & budget)
        .select("doc_a", "doc_b")
        .distinct()
    )
    cand_batch = (
        pb.join(
            b_side,
            (F.col("__sid") == F.col("__sid_b"))
            & (F.col("doc_b") < F.col("doc_a"))
            & budget,
        )
        .select("doc_a", "doc_b")
        .distinct()
    )
    return _classify_new_batch(
        docs,
        cand_corpus,
        cand_batch,
        threshold_num,
        threshold_den,
        n,
        containment=True,
    )


def minhash_probe(docs: DataFrame, band_index: DataFrame) -> DataFrame:
    """Probe-only q_dedup_minhash_inc against the stored capped band
    index: batch signatures + the registered query's candidate joins
    + exact verify/classify."""
    from fhir2sql_spark.queries.llm import (
        _classify_new_batch,
        _minhash_inc_candidates,
        _portable_band_postings,
    )

    nb = _portable_band_postings(docs.where(F.col("doc_id") % 3 == 0))
    cand_corpus, cand_batch = _minhash_inc_candidates(nb, band_index)
    return _classify_new_batch(docs, cand_corpus, cand_batch)
