"""Frozen-index probe path (VERDICT r9 #2): the stored-index form of
the incremental dedups must be (a) prefix-identical to the in-query
rebuild, (b) status-identical to the registered queries, and (c) read
its stored side with NO exchange (the bucketed layout the 100 TB
per-ingest posture is argued on)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from fhir2sql_spark import registry
from fhir2sql_spark.operators import frozen_index as fz
from fhir2sql_spark.queries.llm import _inc_prefix_postings
from fhir2sql_spark.tables import load

registry.load_all()


def _docs(spark, sf_dir):
    return load(spark, sf_dir, "documents")


def test_batch_prefixes_match_inquery(spark, sf_dir):
    """The stored-stats derivation of the frozen order must emit the
    IDENTICAL prefixes the registered query's combined-stream window
    derives — for the batch side (stats join, unseen tokens df=0)
    and the corpus side (code identity, but pin it anyway)."""
    docs = _docs(spark, sf_dir)
    is_new = F.col("doc_id") % 3 == 0
    combined = _inc_prefix_postings(docs, 1, 2, n=5, checkpoint=False)
    stats = fz.corpus_token_stats(docs.where(~is_new))
    got_batch = sorted(
        (r["doc_id"], r["__sid"])
        for r in fz.batch_prefixes(
            docs.where(is_new), stats, 1, 2, n=5, checkpoint=False
        ).collect()
    )
    want_batch = sorted(
        (r["doc_id"], r["__sid"])
        for r in combined.where(is_new).collect()
    )
    assert got_batch == want_batch
    got_corpus = sorted(
        (r["doc_id"], r["__sid"])
        for r in fz.build_setsim_prefix_index(
            docs.where(~is_new)
        ).collect()
    )
    want_corpus = sorted(
        (r["doc_id"], r["__sid"])
        for r in combined.where(~is_new).collect()
    )
    assert got_corpus == want_corpus


@pytest.mark.parametrize(
    "qname,probe_fn",
    [
        (
            "q_dedup_setsim_inc",
            lambda docs: fz.setsim_probe(
                docs,
                fz.corpus_token_stats(docs.where(F.col("doc_id") % 3 != 0)),
                fz.build_setsim_prefix_index(
                    docs.where(F.col("doc_id") % 3 != 0)
                ),
            ),
        ),
        (
            "q_dedup_containment_inc",
            lambda docs: fz.containment_probe(
                docs,
                fz.corpus_token_stats(docs.where(F.col("doc_id") % 3 != 0)),
                fz.build_containment_posting_index(
                    docs.where(F.col("doc_id") % 3 != 0)
                ),
            ),
        ),
        (
            "q_dedup_minhash_inc",
            lambda docs: fz.minhash_probe(
                docs,
                fz.build_minhash_band_index(
                    docs.where(F.col("doc_id") % 3 != 0)
                ),
            ),
        ),
    ],
)
def test_probe_statuses_equal_registered(spark, sf_dir, qname, probe_fn):
    docs = _docs(spark, sf_dir)
    got = {
        r["doc_id"]: r["status"] for r in probe_fn(docs).collect()
    }
    want = {
        r["doc_id"]: r["status"]
        for r in registry.QUERIES[qname](spark, sf_dir).collect()
    }
    assert got == want


def test_sharded_batch_prefix_union_equals_full(spark, sf_dir):
    """VERDICT r11 #6: batch prefixes are doc-local under the frozen
    stats, so deriving them per ingest shard and unioning must emit
    exactly the full-batch derivation — the property the stored
    per-shard prefix table's correctness rests on."""
    docs = _docs(spark, sf_dir)
    is_new = F.col("doc_id") % 3 == 0
    batch = docs.where(is_new)
    stats = fz.corpus_token_stats(docs.where(~is_new))
    full = sorted(
        (r["doc_id"], r["__sid"])
        for r in fz.build_batch_prefix_index(batch, stats, 1, 2, n=5).collect()
    )
    sharded: list = []
    n_sh = 3
    for s in range(n_sh):
        shard = batch.where(F.expr(f"pmod(doc_id div 3, {n_sh}) = {s}"))
        sharded.extend(
            (r["doc_id"], r["__sid"])
            for r in fz.build_batch_prefix_index(
                shard, stats, 1, 2, n=5
            ).collect()
        )
    assert sorted(sharded) == full and len(full) > 0


def test_stored_prefix_probes_status_equal_registered(spark, sf_dir):
    """The *_stored probe flavors (stored batch-side artifacts, no
    in-probe windows) must classify identically to the registered
    queries."""
    docs = _docs(spark, sf_dir)
    is_new = F.col("doc_id") % 3 == 0
    batch, corpus = docs.where(is_new), docs.where(~is_new)
    stats = fz.corpus_token_stats(corpus)
    bp_set = fz.build_batch_prefix_index(batch, stats, 1, 2, n=5)
    got = {
        r["doc_id"]: r["status"]
        for r in fz.setsim_probe_stored(
            docs, bp_set, fz.build_setsim_prefix_index(corpus)
        ).collect()
    }
    want = {
        r["doc_id"]: r["status"]
        for r in registry.QUERIES["q_dedup_setsim_inc"](
            spark, sf_dir
        ).collect()
    }
    assert got == want
    bp_con = fz.build_batch_prefix_index(batch, stats, 4, 5, n=5)
    got_c = {
        r["doc_id"]: r["status"]
        for r in fz.containment_probe_stored(
            docs,
            bp_con,
            fz.build_batch_posting_index(batch, n=5),
            fz.build_containment_posting_index(corpus),
        ).collect()
    }
    want_c = {
        r["doc_id"]: r["status"]
        for r in registry.QUERIES["q_dedup_containment_inc"](
            spark, sf_dir
        ).collect()
    }
    assert got_c == want_c


@pytest.fixture(scope="module")
def stored_indexes(spark, sf_dir, tmp_path_factory):
    wh = str(tmp_path_factory.mktemp("fzwh"))
    docs = _docs(spark, sf_dir)
    corpus = docs.where(F.col("doc_id") % 3 != 0)
    fz.persist_index(
        fz.corpus_token_stats(corpus),
        "t_fz_stats", f"{wh}/stats", ("__sid",), buckets=8,
    )
    fz.persist_index(
        fz.build_setsim_prefix_index(corpus),
        "t_fz_prefix", f"{wh}/prefix", ("__sid",), buckets=8,
    )
    fz.persist_index(
        fz.build_minhash_band_index(corpus),
        "t_fz_bands", f"{wh}/bands", ("band", "bkey"), buckets=8,
    )
    # plain-parquet twin of the prefix index for the exchange A/B
    fz.build_setsim_prefix_index(corpus).write.mode("overwrite").parquet(
        f"{wh}/prefix_plain"
    )
    return wh


def test_stored_index_read_exchange_free(spark, sf_dir, stored_indexes):
    """The candidate join must consume the BUCKETED prefix index with
    no exchange on the stored side: with elective broadcasts off, the
    bucketed plan carries strictly fewer hash exchanges than the
    identical plan over a plain-parquet index, and the scan reports
    its bucketing. Same for the (band, bkey)-bucketed LSH index."""
    wh = stored_indexes
    docs = _docs(spark, sf_dir)
    bp = fz.batch_prefixes(
        docs.where(F.col("doc_id") % 3 == 0), spark.table("t_fz_stats"),
        1, 2, n=5,
    )
    from fhir2sql_spark.queries.llm import _setsim_inc_candidates

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        def cand_plan(corpus_prefix):
            cand, _ = _setsim_inc_candidates(bp, corpus_prefix)
            return (
                cand._jdf.queryExecution().executedPlan().toString()
            )

        plan_bucketed = cand_plan(spark.table("t_fz_prefix"))
        plan_plain = cand_plan(spark.read.parquet(f"{wh}/prefix_plain"))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    nx_b = plan_bucketed.count("Exchange hashpartitioning")
    nx_p = plan_plain.count("Exchange hashpartitioning")
    assert nx_b < nx_p, (nx_b, nx_p)
    assert "SelectedBucketsCount" in plan_bucketed or (
        "Bucketed: true" in plan_bucketed
    )


def test_containment_positional_probe(spark):
    """JOSIE positional suffix-budget filter (SURVEY §8 watch-list
    lever, taken round 10): statuses must equal the registered
    query's EXACTLY (completeness: the globally-first shared token
    always survives both the prefix slice and the budget filter —
    proof in the docstring), and the filter must actually prune
    candidate token rows on the fixture."""
    from tests.conftest import SF_MED

    docs = _docs(spark, SF_MED)
    corpus = docs.where(F.col("doc_id") % 3 != 0)
    stats = fz.corpus_token_stats(corpus).localCheckpoint()
    ranked = fz.ranked_postings(corpus, stats).localCheckpoint()
    got = {
        r["doc_id"]: r["status"]
        for r in fz.containment_probe_positional(
            docs, stats, ranked
        ).collect()
    }
    want = {
        r["doc_id"]: r["status"]
        for r in registry.QUERIES["q_dedup_containment_inc"](
            spark, SF_MED
        ).collect()
    }
    assert got == want
    assert "dup_corpus" in set(got.values())

    # effectiveness is df-profile-dependent (SCALE.md round-10
    # follow-up): at sf0.01 the rarity prefixes already cut the
    # candidate token rows to a few dozen (all true dups with ample
    # suffix budget) and the filter prunes NOTHING; at sf100 the
    # same-window A/B measured 147.3 -> 107.1 s (27% faster) because
    # 5 M docs give the prefixes real multi-doc tokens to prune.
    # Here pin the subset relation (the filter must never ADD rows).
    bp = fz.batch_prefixes(
        docs.where(F.col("doc_id") % 3 == 0), stats, 4, 5, positions=True
    )
    pb = bp.select(
        "__sid", F.col("doc_id").alias("doc_a"), F.col("__s").alias("__sa")
    )
    c_side = ranked.select(
        F.col("__sid").alias("__sid_b"),
        F.col("doc_id").alias("doc_b"),
        F.col("__pos").alias("__pb"),
        F.col("__s").alias("__sb"),
    )
    budget = (F.col("__sb") - F.col("__pb") + 1) * 5 >= F.col("__sa") * 4
    plain = pb.join(c_side, F.col("__sid") == F.col("__sid_b")).count()
    pruned = pb.join(
        c_side, (F.col("__sid") == F.col("__sid_b")) & budget
    ).count()
    assert pruned <= plain, (pruned, plain)


def _path_to(node, pred) -> list:
    """Root-to-node path of physical plan nodes to the first node
    matching ``pred`` (depth first), or [] when none matches."""
    if pred(node):
        return [node]
    kids = node.children()
    for i in range(kids.size()):
        path = _path_to(kids.apply(i), pred)
        if path:
            return [node] + path
    return []


def test_stored_index_scan_is_bucketed_with_no_exchange(
    spark, sf_dir, stored_indexes
):
    """``persist_index`` writes no sort, and the probe still reads the
    stored prefix index as a ``Bucketed: true`` scan with no Exchange
    between it and its join (elective broadcasts off)."""
    from fhir2sql_spark.queries.llm import _setsim_inc_candidates

    docs = _docs(spark, sf_dir)
    bp = fz.batch_prefixes(
        docs.where(F.col("doc_id") % 3 == 0), spark.table("t_fz_stats"),
        1, 2, n=5,
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        cand, _ = _setsim_inc_candidates(bp, spark.table("t_fz_prefix"))
        plan = cand._jdf.queryExecution().executedPlan()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.executedPlan()
    path = _path_to(
        plan,
        lambda n: n.nodeName().startswith("Scan")
        and "t_fz_prefix" in n.toString(),
    )
    assert path, plan.toString()
    scan = path[-1].toString()
    assert "Bucketed: true" in scan, scan
    joins = [i for i, n in enumerate(path) if "Join" in n.nodeName()]
    below_join = [n.nodeName() for n in path[joins[-1] + 1:]]
    assert not any("Exchange" in name for name in below_join), below_join


def test_stored_index_probes_status_equal_registered(
    spark, sf_dir, stored_indexes
):
    """Probes over the persisted (bucketed, unsorted) indexes classify
    exactly as the registered queries do."""
    docs = _docs(spark, sf_dir)
    got = {
        r["doc_id"]: r["status"]
        for r in fz.setsim_probe(
            docs, spark.table("t_fz_stats"), spark.table("t_fz_prefix")
        ).collect()
    }
    want = {
        r["doc_id"]: r["status"]
        for r in registry.QUERIES["q_dedup_setsim_inc"](spark, sf_dir).collect()
    }
    assert got == want
    got_mh = {
        r["doc_id"]: r["status"]
        for r in fz.minhash_probe(docs, spark.table("t_fz_bands")).collect()
    }
    want_mh = {
        r["doc_id"]: r["status"]
        for r in registry.QUERIES["q_dedup_minhash_inc"](spark, sf_dir).collect()
    }
    assert got_mh == want_mh
